package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.analytics.Analytics
import graft.entries.{AnaEntry, DedupEntry, EmbEntry, GraphEntry, Q, SampleEntry, SketchEntry, TsEntry}
import graft.entries.DedupEntry.{clusterLabelsCte, trigramCtes, trigramSizesCte}
import graft.entries.GraphEntry.nodeSet
import graft.etl.{Ingest, Merge, Transforms}
import graft.functions.Fns
import graft.operators.{AsOfJoin, BloomJoin, Dedup, Layout, Multimodal, Sampling, Similarity, Skew, TextAnalysis}
import graft.operators.Sampling.samplingHashSql
import graft.streaming.{StatefulJobs, StreamingJobs}

/** Driver contract: every implemented operator (SURVEY.md §2 + the
  * LLM-data-pipeline set) registered as a named query over the harness
  * testdata, with a DuckDB oracle where the semantics are ANSI-SQL
  * expressible.
  *
  * Determinism rules (the driver hash-compares Spark output vs DuckDB):
  *  - every query ends in an ORDER BY over a unique column set, mirrored in
  *    the oracle (harmless for Bench: Catalyst's EliminateSorts removes the
  *    sort under the bench's count() action);
  *  - aggregated doubles go through an exact DECIMAL sum and back to double
  *    (order-independent, so bit-identical across engines AND across
  *    cluster re-partitionings — per-row double arithmetic is left raw,
  *    IEEE ops in a fixed order are already deterministic);
  *  - computed integers are cast to long on the Spark side and BIGINT in
  *    the oracle (DuckDB's natural type for counts/extracts);
  *  - generated surrogate ids use row_number over an explicit total order
  *    (SURVEY.md §7.4.4), only in oracle-compared entries;
  *  - cosine outputs are rounded to 6 decimals on both sides (the one
  *    place engines legitimately differ in accumulation order).
  *
  * Every registered query has a DuckDB oracle — including the hash-driven
  * ones: SimHash votes and sampling use ANSI-expressible integer mixes,
  * and the SRP hyperplane / perturbation constants are embedded in the
  * generated oracle SQL as literals, so DuckDB reproduces bucket
  * assignments and fingerprints bit-for-bit.
  */
object SparkEntry {

  private[graft] def T(s: SparkSession, dir: String, name: String): DataFrame = {
    // Every query funnels through here: make graft's native expressions
    // (graft_cosine) available on whatever session the driver hands us.
    graft.expressions.GraftFunctions.register(s)
    Ingest.readTable(s, dir, name)
  }

  /** The staging directory of an entry that writes files and reads them
    * back: `<java.io.tmpdir>/graft-<tag>-<pid>-<dir>`, the same path for
    * every build in one process (repeat builds overwrite it) and apart
    * from any other process's. The frames read it lazily, so it lives
    * until the JVM exits ([[Sessions.deleteAtExit]]).
    */
  private[graft] def stagingDir(tag: String, dir: String): String =
    Sessions.deleteAtExit(new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-$tag-${ProcessHandle.current().pid()}-" +
        dir.replaceAll("[^A-Za-z0-9.]", "_")).toString)

  /** The shared co-purchase graph for every graph_* query: undirected
    * edges between parts co-occurring in ≥ 2 orders. Derivation is one
    * order-keyed collect_set + in-memory ordered-pair expansion + one
    * (src,dst) aggregate — 2 shuffles where the previous per-query
    * distinct + bk-self-join + pair-aggregate chain paid 4 (measured
    * 1.9 → 1.6 s warm, 4.2 → 2.9 s cold at sf0.1; edge sets proven
    * identical). Per-order part sets are bounded by order size (~7
    * lineitems at any SF — TPC-H's fixed per-order fanout), so the k²
    * expansion is O(1) per order and the shape is shuffle-bound at
    * 100 TB exactly like the join it replaces. sort_array makes pairs
    * (x < y), matching the oracles' `l.pt < r.pt`; collect_set matches
    * their DISTINCT. The oracle SQL keeps the join formulation — same
    * pair multiset, so identical counts is part of what parity proves.
    */
  private[graft] def copurchaseEdgesFresh(s: SparkSession, dir: String): DataFrame = {
    val parts = T(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("bk"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
    parts
      // generator-based ordered-pair expansion (r20): two codegen'd
      // Generate nodes instead of the nested transform/flatten lambda
      // chain, which Spark never code-generates and which allocated a
      // struct array per element (the SCALE.md round-11 HOF rule — this
      // stream scales with corpus × basket²). Same (src < dst) pair
      // multiset: position p pairs with every later element of the
      // sorted set.
      .select(col("ps"), posexplode(col("ps")).as(Seq("p", "src")))
      .select(col("src"), explode(slice(col("ps"), col("p") + lit(2),
        greatest(size(col("ps")) - col("p") - 1, lit(0)))).as("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select("src", "dst")
  }

  /** 21 graph queries each re-derived the identical edge set (~1–3 s
    * apiece per bench/verify run): the first caller now pays one eager
    * localCheckpoint of [[copurchaseEdgesFresh]], everyone after reads
    * the materialized blocks.
    */
  private[graft] val copurchaseEdges =
    Derivation("_derive_copurchase_edges", Seq("lineitem"), copurchaseEdgesFresh)

  /** Near-dup cluster labels over the documents table (trigram Jaccard
    * ≥ 0.5 pairs → star-contraction components): four queries
    * (`dedup_clusters`, `dedup_cluster_stats`, `dedup_keep_best`,
    * `sample_split`) consume the IDENTICAL label frame, and a real
    * pipeline materializes cluster labels once.
    */
  private[graft] def docClustersFresh(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    // strict: the four consumers' oracles assume EXACT components (the
    // graph_cc_stars rationale), and the memo would otherwise pin one
    // under-merged derivation for the memo's lifetime. Adaptive (r15
    // judge item 8): a 2-round min-propagation probe answers outright on
    // the shallow families near-dup mining actually produces (measured
    // 1.1 s vs 1.9 s star-only on the sf0.1 graph, identical labels);
    // chain-shaped graphs fall back to star contraction on the
    // probe-contracted edges, so the O(log² n) bound is kept.
    Dedup.dedupClustersAdaptive(docs, Dedup.ngramJaccardPairs(docs, 3, 0.5),
      strict = true)
  }

  private[graft] val docClusters = Derivation("_derive_doc_clusters", Seq("documents"),
    docClustersFresh)

  /** The d×d embedding covariance matrix: five emb_* queries
    * (covariance, pca_power, eigengap, abtt, effective_rank) all start
    * from the identical (i, j, cov) frame, which costs one full corpus
    * pass each time.
    */
  private[graft] val embCov = Derivation("_derive_emb_cov", Seq("embeddings"),
    (s, dir) => Similarity.covarianceMatrix(T(s, dir, "embeddings")))

  /** The exact brute-force 5-NN neighbor list over the embeddings: the
    * N² verify BASELINE that both `ann_knn_graph` (the graph itself) and
    * `ann_knn_graph_agree` (the graph's overlap with the LSH swap)
    * consume; at ~5 s per derivation it topped every r15 profile twice.
    * Cosine ties break on neighbor id.
    */
  private[graft] def knnExactFresh(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb, 5)
  }

  private[graft] val knnExact = Derivation("_derive_knn_exact", Seq("embeddings"),
    knnExactFresh)

  /** The exact TwoNN intrinsic-dimension estimate (one row):
    * `emb_intrinsic_dim` returns it verbatim and `emb_intrinsic_dim_agree`
    * diffs the ANN estimate against it, so the N² all-pairs distance pass
    * behind it ran twice per profile.
    */
  private[graft] val twoNNExact = Derivation("_derive_twonn_exact", Seq("embeddings"),
    (s, dir) => Similarity.intrinsicDimension(T(s, dir, "embeddings")))

  /** The LSH self-top-5 neighbor list (the registered 100 TB swap for
    * the brute kNN): `ann_knn_graph_lsh` consumes it directly and
    * `ann_knn_graph_agree` re-derived the identical frame for its ANN
    * side (~3.5 s each at sf0.1). Ties break on neighbor id; SRP planes
    * and plane COUNT derive from fixed seeds and the corpus count.
    * ScaleGate still clears memos per measurement, so the gate ratio for
    * ann_knn_graph_lsh keeps paying the full derivation.
    */
  private[graft] def knnLshFresh(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.lshSelfTopK(emb, 5, dim = 64,
      nPlanes = Similarity.srpAutoPlanes(emb.count()), nTables = 8)
  }

  private[graft] val knnLsh = Derivation("_derive_knn_lsh", Seq("embeddings"), knnLshFresh)

  /** The ANN-fed TwoNN estimate (one row): `emb_intrinsic_dim_ann`
    * returns it verbatim and `emb_intrinsic_dim_agree` re-ran the
    * identical candidate pass for its ANN side. Memoizing the ESTIMATE
    * (not the candidate pair frame) keeps the checkpoint a single row
    * instead of N·c vector pairs.
    */
  private[graft] val twoNNAnn = Derivation("_derive_twonn_ann", Seq("embeddings"), (s, dir) => {
    val emb = T(s, dir, "embeddings")
    // the fused collisions→d2→dedup form: byte-identical to composing
    // intrinsicDimensionFromCandidates(lshSelfCandidates(...)), but the
    // pair-dedup shuffle carries a scalar d2 instead of both vectors
    Similarity.intrinsicDimensionLshSelf(emb, dim = 64,
      nPlanes = Similarity.srpAutoPlanes(emb.count()), nTables = 8)
  })

  /** The per-user event-type transition matrix (r19 optimization round):
    * SEVEN queries read the identical frame (ana_transitions verbatim;
    * ana_markov_stationary / ana_markov_entropy as their chain matrix —
    * entropy previously paid the corpus pass TWICE, once inside its
    * stationary call and once for its own entropy terms; ana_pagerank /
    * ana_pagerank_pers / graph_hits / graph_reciprocity as their edge
    * list), each paying the events scan + user-keyed window + pair count
    * (~0.5–1 s at sf0.1). The window orders by (ts, event_id).
    */
  private[graft] val eventTransitions = Derivation("_derive_event_transitions", Seq("events"),
    (s, dir) => Analytics.transitions(T(s, dir, "events")))

  /** The self-consistency NB prediction frame (doc_id, y, pred) over the
    * documents corpus (r19): ml_nb_accuracy / ml_confusion /
    * ml_class_report / ml_mcc_kappa each re-trained and re-scored the
    * identical model (~2.4 s apiece at sf0.1) to then run a sub-100 ms
    * aggregate. 6-dp score quantization, ties → lower label.
    */
  private[graft] val nbPred = Derivation("_derive_nb_pred", Seq("documents"), (s, dir) => {
    val d = T(s, dir, "documents")
    operators.ML.naiveBayesPredict(d, d, "lang")
  })

  /** The 2-round LPA community labels over the co-purchase graph (r20):
    * graph_label_prop, graph_modularity and graph_conductance each re-ran
    * the IDENTICAL propagation (same edges, same node%3 init, same 2
    * rounds, ~1–1.5 s apiece at sf0.1) to then run a per-community
    * aggregate. Vote ties → lowest label via the row_number ordering.
    */
  private[graft] def lpaLabelsFresh(s: SparkSession, dir: String): DataFrame = {
    val edges = copurchaseEdges(s, dir)
    val init = nodeSet(edges).select(col("node"), (col("node") % 3).as("label"))
    operators.Graph.labelPropagate(edges, init, 2)
  }

  private[graft] val lpaLabels = Derivation("_derive_lpa_labels", copurchaseEdges.tables,
    lpaLabelsFresh)

  /** The ten shared derivations, each declared once above. */
  private[graft] val sharedDerivations: Seq[Derivation] = Seq(copurchaseEdges,
    docClusters, embCov, knnExact, knnLsh, twoNNExact, twoNNAnn,
    eventTransitions, nbPred, lpaLabels)

  /** The shared derivations as NAMED bench lines: graft.Bench times
    * each one per pass (after clearMemos) under its `_derive_*` name,
    * so consumers record only their marginal work — r15 attributed each
    * derivation's full cost to its alphabetically-first consumer, which
    * made per-query history inside memo families order-dependent noise
    * (`dedup_cluster_stats` carried 3.59 s of cluster derivation its
    * three siblings then read for ~0.05 s). NOT part of the
    * `queries`/`oracleSql` correctness contract — these are timings of
    * internal materializations, each already parity-checked in
    * EntrySpec and consumed by oracle-checked queries.
    */
  private[graft] val derivations: Seq[(String, (SparkSession, String) => DataFrame)] =
    sharedDerivations.map(d => d.name -> (d(_, _)))

  /** Drops every memoized derivation and unpersists its blocks, so a
    * frame built before the clear must not be executed after it. See
    * [[Derivation.clear]] for who clears and why.
    */
  private[graft] def clearMemos(): Unit = Derivation.clear()

  private[graft] def drainTouchedDerivations(): Set[String] = Derivation.drainTouched()

  /** Tie-free 8-dp quantization of a COMPUTED double, engine-identical.
    * `cast(x AS DECIMAL(18,8))` is NOT: Spark casts through the
    * double's SHORTEST decimal representation (BigDecimal.valueOf)
    * while DuckDB rounds the exact binary value, and a product whose
    * shortest repr lands exactly on a 0.5×10⁻⁸ boundary rounds apart —
    * one lineitem row did at sf0.1, moving q1's sum_disc_price by one
    * ulp. Scaling into the integer domain first removes the ambiguity:
    * for |x|·10⁸ < 2⁵², every half IS exactly representable, so both
    * engines' scale-0 round (half away from zero) agree bit-for-bit,
    * and k/10⁸ recovers the same 8-dp decimal on both (the grid point
    * is ≫ one ulp from any cast tie). DuckDB mirror:
    * `CAST(round(x * 100000000) / 100000000 AS DECIMAL(18,8))`.
    * Same family as perplexityBigram's `(2x+m) div 2m` final round.
    */
  private def q8(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (round(c * lit(1e8)) / lit(1e8)).cast("decimal(18,8)")

  /** DECIMAL(·,8) aggregate → DOUBLE, engine-identical even when the
    * UNSCALED value exceeds 2⁵³: a plain cast is correctly rounded by
    * Spark (BigDecimal.doubleValue over the full rational) but DuckDB
    * rounds the unscaled integer to a double FIRST and then divides —
    * q1's sum_disc_price (unscaled ≈ 2.7×10¹⁷) came out one ulp apart
    * at sf0.1. Splitting into whole + fraction/10⁸ makes both addends
    * exactly representable, so the one IEEE add yields the identical
    * double on both engines.
    *
    * The split works on the UNSCALED decimal directly — `s - (s % 1)`
    * and `(s % 1) · 10⁸` — never scaling the whole aggregate into
    * BIGINT: the r16 form `cast(s * 10⁸ as bigint)` overflowed 2⁶³ once
    * the aggregate passed ~9.2×10¹⁰ (sf ≈ 2 for q1's largest group —
    * ADVICE r16 medium). Now only the integral part rides a BIGINT
    * (overflow at an aggregate of 9.2×10¹⁸, sf ≈ 10⁸, and ANSI mode
    * fails loudly there) and the fraction is < 10⁸ by construction.
    * Both engines' `%` follows the dividend's sign, so the two addends
    * reconstruct negatives identically too. The intermediate
    * `decimal(9,8)` cast keeps the fraction's ×10⁸ product inside
    * precision 38 (an unbounded decimal times 10⁸ would trip Spark's
    * precision cap into scale-6 TRUNCATION — 2 fractional digits lost).
    * DuckDB mirror: `CAST(CAST(s - (s % 1) AS BIGINT) AS DOUBLE) +
    * CAST(CAST(CAST(s % 1 AS DECIMAL(9,8)) * 100000000 AS BIGINT) AS
    * DOUBLE) / 1e8`.
    */
  private[graft] def dec8ToDouble(name: String): org.apache.spark.sql.Column =
    expr(s"cast(cast($name - ($name % 1) as bigint) as double)" +
      s" + cast(cast(cast($name % 1 as decimal(9,8)) * 100000000 as bigint)" +
      s" as double) / 1e8")

  /** Flagship query on sf=0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing")(spark, "/root/testdata/sf0.001")

  /** Every registered query: the families declared as [[entries.Q]]
    * lists, plus the entries still written below as a name → frame map
    * beside a name → oracle map.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    remainingQueries ++ families.map(q => q.name -> q.spark)

  def oracleSql: Map[String, String] =
    remainingOracleSql ++ families.map(q => q.name -> q.oracle)

  /** Each family's name prefix beside its [[entries.Q]] list: every name
    * in a list carries the prefix, and no remaining entry does.
    */
  private[graft] def familiesByPrefix: Seq[(String, Seq[Q])] = Seq(
    "emb_" -> EmbEntry.queries, "dedup_" -> DedupEntry.queries,
    "sample_" -> SampleEntry.queries, "sketch_" -> SketchEntry.queries,
    "graph_" -> GraphEntry.queries, "ts_" -> TsEntry.queries,
    "ana_" -> AnaEntry.queries)

  private[graft] def families: Seq[Q] = familiesByPrefix.flatMap(_._2)

  private[graft] def remainingQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- headline aggregations (analytics capability, README.md:9) ----

    // TPC-H Q1-style pricing summary: scan-heavy groupBy with exact
    // decimal sums; the canonical bench headliner.
    "q1_pricing" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("sum_base_price"),
          sum(q8(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sdp_dec"),
          (sum(col("l_quantity").cast("decimal(18,4)")).cast("double") / count(lit(1)))
            .as("avg_qty"),
          count(lit(1)).as("n_rows"))
        .withColumn("sum_disc_price", dec8ToDouble("sdp_dec")).drop("sdp_dec")
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // TPC-H Q3-style: 3-way join (two broadcastable dims) + agg + top-k.
    "q3_top_orders" -> ((s, dir) => {
      val l = T(s, dir, "lineitem")
      val o = T(s, dir, "orders")
      val c = T(s, dir, "customer")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("c_custkey"))
        .agg(
          sum(q8(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("rev_dec"),
          count(lit(1)).as("n_items"))
        .withColumn("revenue", dec8ToDouble("rev_dec")).drop("rev_dec")
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // TPC-H Q5-style: 6-table snowflake join (region/nation/supplier
    // broadcast; customer co-keyed with supplier nation) + revenue agg.
    "q5_region_volume" -> ((s, dir) => {
      val l = T(s, dir, "lineitem")
      val o = T(s, dir, "orders")
      val c = T(s, dir, "customer")
      val su = T(s, dir, "supplier")
      val n = T(s, dir, "nation")
      val r = T(s, dir, "region")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, l("l_suppkey") === su("s_suppkey") &&
          c("c_nationkey") === su("s_nationkey"))
        .join(n, su("s_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .filter(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("n_name"))
        .agg(
          sum(q8(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("rev_dec"),
          count(lit(1)).as("n_items"))
        .withColumn("revenue", dec8ToDouble("rev_dec")).drop("rev_dec")
        .orderBy(col("revenue").desc, col("n_name").asc)
    }),

    // TPC-H Q18-style: large-order semi join (HAVING subquery) + top-k.
    "q18_big_orders" -> ((s, dir) => {
      val l = T(s, dir, "lineitem")
      val o = T(s, dir, "orders")
      val c = T(s, dir, "customer")
      val big = l.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("qs"))
        .filter(col("qs") > 300)
        .select(col("l_orderkey").as("big_orderkey"))
      l.join(big, l("l_orderkey") === big("big_orderkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
        .agg(sum(col("l_quantity").cast("decimal(18,6)"))
          .cast("double").as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
    }),

    // Point-in-time join: each click gets the user's latest prior signup
    // value. Spark lacks a native as-of join; see operators/AsOfJoin.
    "asof_join" -> ((s, dir) => {
      val clicks = T(s, dir, "events").filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val signups = T(s, dir, "events").filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value").as("signup_value"))
      AsOfJoin.asOf(clicks, signups, "user_id", "ts", "ts", Seq("signup_value"))
        .select("event_id", "user_id", "signup_value")
        .orderBy("event_id")
    }),

    // Forward as-of: each click's NEXT same-user purchase value.
    "asof_join_forward" -> ((s, dir) => {
      val clicks = T(s, dir, "events").filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("next_purchase"))
      AsOfJoin.asOfForward(clicks, purchases, "user_id", "ts", "ts",
          Seq("next_purchase"))
        .select("event_id", "user_id", "next_purchase")
        .orderBy("event_id")
    }),

    // Interpolating as-of: the same-user purchase value ESTIMATED AT the
    // click's instant — linear between the bracketing purchases, flat at
    // the edges (mark-to-time semantics; resampleInterpolate's edge
    // rules and DECIMAL(24,12)->6dp rounding discipline).
    "asof_join_interp" -> ((s, dir) => {
      val clicks = T(s, dir, "events").filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("purchase_at_click"))
      AsOfJoin.asOfInterpolate(clicks, purchases, "user_id", "ts", "ts",
          "purchase_at_click")
        .select("event_id", "user_id", "purchase_at_click")
        .orderBy("event_id")
    }),

    // Nearest as-of (either direction, 48 h tolerance, prior wins ties):
    // each click's temporally closest same-user purchase — the sensor-
    // fusion / log-alignment join. Oracle: two native ASOF joins + the
    // same epoch-exact direction CASE.
    "asof_join_nearest" -> ((s, dir) => {
      val clicks = T(s, dir, "events").filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("near_purchase"))
      AsOfJoin.asOfNearest(clicks, purchases, "user_id", "ts", "ts",
          Seq("near_purchase"), toleranceSeconds = Some(48L * 3600))
        .select("event_id", "user_id", "near_purchase")
        .orderBy("event_id")
    }),

    // Set operations beyond UNION: distinct intersection and difference.
    "q_intersect" -> ((s, dir) => {
      val e = T(s, dir, "events")
      e.filter(col("event_type") === "click").select("user_id")
        .intersect(e.filter(col("event_type") === "purchase").select("user_id"))
        .orderBy("user_id")
    }),

    // Clickers who never made a high-value purchase (the value filter
    // keeps the difference non-empty — every user has SOME purchase).
    "q_except" -> ((s, dir) => {
      val e = T(s, dir, "events")
      e.filter(col("event_type") === "click").select("user_id")
        .except(e.filter(col("event_type") === "purchase" && col("value") >= 90)
          .select("user_id"))
        .orderBy("user_id")
    }),

    // EXCEPT ALL — the MULTISET difference (occurrence counts subtract,
    // unlike q_except's set semantics): type occurrences above value 1
    // minus those above value 2.
    "q_except_all" -> ((s, dir) => {
      val e = T(s, dir, "events")
      e.filter(col("value") > 1).select("event_type")
        .exceptAll(e.filter(col("value") > 2).select("event_type"))
        .orderBy("event_type")
    }),

    // Bucketized range join (operators/RangeJoin): clicks matched to the
    // 1-hour window after each same-user signup. The naive theta-join
    // plans as a nested loop; binning the time axis turns it into one
    // hash join on (user_id, bin) + exact containment filter.
    "q_range_join" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("p"))
      val signups = T(s, dir, "events").filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"),
          unix_millis(col("ts")).as("w_start"),
          (unix_millis(col("ts")) + 3600000L).as("w_end"))
      operators.RangeJoin.pointInInterval(clicks, signups, "p", "w_start", "w_end",
          Seq("user_id"), binWidth = 3600000L)
        .select("event_id", "signup_id")
        .orderBy("event_id", "signup_id")
    }),

    // Left-semi: customers that placed at least one order.
    "q_semi_join" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // Bloom-pruned semi-join: build Spark's bloom sketch over the dim keys
    // in a scalar subquery, discard fact rows pre-shuffle, exact residual
    // join removes false positives — result ≡ the plain EXISTS oracle.
    "q_bloom_semi_join" -> ((s, dir) =>
      BloomJoin.bloomSemiJoin(
          T(s, dir, "orders"),
          T(s, dir, "customer").filter(col("c_nationkey") === 5),
          "o_custkey", "c_custkey", estimatedItems = 10000L)
        .select("o_orderkey", "o_custkey").orderBy("o_orderkey")),

    // Exact distributed quantiles per group (Spark's `percentile` builds a
    // value→count map per group — no global sort; the sketch path at
    // 100 TB is approx_percentile, same plan shape, bounded memory).
    "q_quantiles" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(percentile(col("l_quantity"), lit(0.5)).as("p50"),
          percentile(col("l_quantity"), lit(0.9)).as("p90"),
          percentile(col("l_extendedprice"), lit(0.95)).as("price_p95"))
        .select(col("l_returnflag"), round(col("p50"), 6).as("p50"),
          round(col("p90"), 6).as("p90"), round(col("price_p95"), 6).as("price_p95"))
        .orderBy("l_returnflag")),

    // Left-anti: parts with no shipment in the last months of the data.
    "q_anti_join" -> ((s, dir) => {
      val p = T(s, dir, "part")
      val l = T(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("2001-06-01").cast("timestamp"))
      p.join(l, p("p_partkey") === l("l_partkey"), "left_anti")
        .select("p_partkey", "p_name").orderBy("p_partkey")
    }),

    // Set op: distinct union of two filtered projections.
    "q_union" -> ((s, dir) => {
      val e = T(s, dir, "events")
      e.filter(col("event_type") === "click").select("user_id")
        .union(e.filter(col("event_type") === "view").select("user_id"))
        .distinct().orderBy("user_id")
    }),

    // Full outer join: high-value order counts vs one market segment —
    // rows survive from both unmatched sides (the reconciliation shape).
    "q_full_outer" -> ((s, dir) => {
      val o = T(s, dir, "orders").filter(col("o_totalprice") > 150000)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_big_orders"))
      val c = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"))
      o.join(c, o("o_custkey") === c("c_custkey"), "full_outer")
        .select(coalesce(o("o_custkey"), c("c_custkey")).as("custkey"),
          col("n_big_orders"), col("c_name"))
        .orderBy("custkey")
    }),

    // Relative-rank window functions: percent_rank + cume_dist within
    // each order priority (exact small-integer ratios, rounded 6 dp).
    "q_percent_rank" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy("o_orderkey")
    }),

    // Grouping sets: ROLLUP over (returnflag, linestatus) with exact sums.
    "q_rollup" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // ntile bucketing WITHIN each priority group (a global unpartitioned
    // ntile would funnel the table through one task — never do that).
    "q_ntile" -> ((s, dir) =>
      T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          ntile(4).over(Window.partitionBy("o_orderpriority")
            .orderBy(col("o_totalprice").desc, col("o_orderkey")))
            .cast("long").as("quartile"))
        .orderBy("o_orderkey")),

    // Full CUBE over the same pair of keys (all four grouping levels).
    "q_cube" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // Pivot: one column per event type (explicit value list — at scale an
    // implicit pivot runs a distinct-collect job first), count per cell.
    "q_pivot" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")),

    // min_by/max_by argmin aggregates: per nation, the poorest/richest
    // customer. Ties are made impossible by construction: the ordering
    // key folds the unique custkey under the cents-exact balance
    // (cents·10⁹ + key — strictly monotone in (cents, key)), so both
    // engines' otherwise-arbitrary tie choice never fires.
    "q_min_by" -> ((s, dir) => {
      val key = round(col("c_acctbal") * 100).cast("long") *
        lit(1000000000L) + col("c_custkey")
      T(s, dir, "customer").groupBy("c_nationkey")
        .agg(min_by(col("c_custkey"), key).as("poorest_cust"),
          max_by(col("c_custkey"), key).as("richest_cust"),
          count(lit(1)).as("n"))
        .orderBy("c_nationkey")
    }),

    // Array higher-order functions over the embedding column — filter /
    // transform / aggregate / array_max per row (the nested-data API
    // surface; per-row lambdas on a 64-wide array, the documented
    // non-codegen exception that stays narrow).
    "q_array_ops" -> ((s, dir) => {
      val v = col("embedding").cast("array<double>")
      T(s, dir, "embeddings").select(col("vec_id"),
        size(filter(v, x => x > lit(0.0))).cast("long").as("n_pos"),
        round(aggregate(v, lit(0.0), (acc, x) => acc + x * x), 6)
          .as("sum_sq"),
        round(array_max(transform(v, x => abs(x))), 6).as("max_abs"))
        .orderBy("vec_id")
    }),

    // Time-range moving aggregate: per-user trailing 1-hour mean. The
    // range frame is on exact epoch-millis (both engines frame
    // [t−3600000, t] inclusively; equal timestamps are peers in both).
    "q_moving_avg" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_ms"))
        .rangeBetween(-3600000L, 0L)
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"), col("value"))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_win"),
          (sum(col("value").cast("decimal(18,6)")).over(w).cast("double") /
            count(lit(1)).over(w)).as("avg_1h"))
        .orderBy("event_id")
    }),

    // Winsorize: clamp values to the exact per-group [p05, p95] band —
    // outlier taming before stats/training. Percentiles broadcast back.
    "q_winsorize" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val pct = e.groupBy("event_type")
        .agg(percentile(col("value"), lit(0.05)).as("lo"),
          percentile(col("value"), lit(0.95)).as("hi"))
      e.join(broadcast(pct), "event_type")
        .select(col("event_id"), col("event_type"),
          round(greatest(col("lo"), least(col("hi"), col("value"))), 6)
            .as("v_clamped"))
        .orderBy("event_id")
    }),

    // Top-3 orders per customer by price — the warehouse top-N-per-group
    // staple (rank window, deterministic tie-break, heap-friendly).
    "q_topn_per_group" -> ((s, dir) =>
      T(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(Window.partitionBy("o_custkey")
            .orderBy(col("o_totalprice").desc, col("o_orderkey").asc))
            .cast("long").as("rnk"))
        .filter(col("rnk") <= 3)
        .orderBy("o_custkey", "rnk")),

    // Windowed analytics: per-user running event count + previous value.
    "q_window_running" -> ((s, dir) =>
      T(s, dir, "events").select(col("event_id"), col("user_id"),
          count(lit(1)).over(Window.partitionBy("user_id")
            .orderBy("ts", "event_id")).as("running_n"),
          lag(col("value"), 1).over(Window.partitionBy("user_id")
            .orderBy("ts", "event_id")).as("prev_value"))
        .orderBy("event_id")),

    // RANGE-frame window (time-interval frame, not row counts): per
    // user, the event count and DECIMAL-exact value sum over the
    // trailing hour — boundaries are value-based so ties in ts
    // contribute regardless of row order (order-independent by
    // construction, no tie-break needed).
    "q_window_range" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0L)
      T(s, dir, "events").select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_last_hour"),
          sum(col("value").cast("decimal(18,6)")).over(w)
            .cast("double").as("sum_last_hour"))
        .orderBy("event_id")
    }),

    // ---- SURVEY §2 core operators over the testdata analogs ----

    // op 1: positional JSON path extraction (JSONPaths ≈ ordered path list).
    "op01_json_positional" -> ((s, dir) =>
      T(s, dir, "events").select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")),

    // op 2: name-matched JSON mapping (`JSON 'auto'` semantics).
    "op02_json_auto" -> ((s, dir) =>
      T(s, dir, "events").select(col("event_id"),
          from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
            .getField("k").as("k"))
        .orderBy("event_id")),

    // op 6: 3-column compound inner equi-join (song=title AND
    // artist=artist_name AND length=duration analog, incl. a double key).
    "op06_join3" -> ((s, dir) => {
      val l = T(s, dir, "lineitem")
      val dim = l.groupBy("l_partkey", "l_suppkey")
        .agg(min("l_extendedprice").as("min_price"))
        .withColumnRenamed("l_partkey", "d_partkey")
        .withColumnRenamed("l_suppkey", "d_suppkey")
      l.join(dim,
          l("l_partkey") === col("d_partkey") &&
          l("l_suppkey") === col("d_suppkey") &&
          l("l_extendedprice") === col("min_price"))
        .select(l("l_orderkey"), l("l_linenumber"), l("l_partkey"),
          l("l_suppkey"), l("l_extendedprice"))
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
        // order by every output column for a total order.
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_extendedprice")
    }),

    // op 7: string-equality filter (page = 'NextSong' analog).
    "op07_filter" -> ((s, dir) =>
      T(s, dir, "events").filter(col("event_type") === "click")
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")),

    // op 8: projection + aliasing with per-row arithmetic.
    "op08_project" -> ((s, dir) =>
      T(s, dir, "lineitem").select(
          col("l_orderkey").as("order_id"), col("l_linenumber").as("line_no"),
          col("l_quantity").as("qty"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"))
        .orderBy("order_id", "line_no", "qty", "net_price")),

    // op 9 verbatim: projection with no dedup (reference users insert).
    "op09_users_verbatim" -> ((s, dir) =>
      T(s, dir, "events").select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")),

    // op 9 idiomatic variant: keep the latest row per key (SURVEY §7.4.3).
    "op09_dedup_latest" -> ((s, dir) =>
      Transforms.dedupLatest(T(s, dir, "events"), Seq("user_id"), Seq("ts", "event_id"))
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")),

    // op 10: sentinel → NULL CASE normalization (year=0 analog on p_size=1).
    "op10_nullif" -> ((s, dir) =>
      T(s, dir, "part").select(col("p_partkey"), col("p_name"),
          when(col("p_size") =!= 1, col("p_size")).as("p_size_n"))
        .orderBy("p_partkey")),

    // op 11: 2-column compound equi-join.
    "op11_join2" -> ((s, dir) => {
      val l = T(s, dir, "lineitem")
      val d = l.groupBy("l_partkey", "l_suppkey").agg(count(lit(1)).as("n_li"))
      l.join(d, Seq("l_partkey", "l_suppkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("n_li"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    }),

    // op 12: DISTINCT timestamps (time-dimension source).
    "op12_distinct" -> ((s, dir) =>
      T(s, dir, "events").select(col("ts").as("start_time")).distinct()
        .orderBy("start_time")),

    // ops 12+13: the full time dimension — DISTINCT + 6 date parts incl.
    // the Redshift dow (0=Sunday) off-by-one fix.
    "op13_timedim" -> ((s, dir) => {
      val t = Transforms.buildTime(T(s, dir, "events"))
      t.select(col("start_time") +:
          Seq("hour", "day", "week", "month", "year", "weekday")
            .map(c => col(c).cast("long").as(c)): _*)
        .orderBy("start_time")
    }),

    // op 14: epoch-millis → timestamp (TIMEFORMAT 'epochmillisecs').
    "op14_epoch_ms" -> ((s, dir) =>
      T(s, dir, "events").select(col("event_id"),
          timestamp_millis(unix_millis(col("ts"))).as("ts_ms"))
        .orderBy("event_id")),

    // op 15: surrogate-key generation — deterministic ids 1..N in key
    // order via the two-level distributed prefix-sum (no global window;
    // the scale path for random ids stays monotonically_increasing_id).
    "op15_surrogate" -> ((s, dir) =>
      Transforms.withDeterministicId(
          T(s, dir, "events").select("event_id", "event_type"), Seq("event_id"), "sk")
        .orderBy("event_id")),

    // op 16: typed-load casts + NOT NULL validation filter.
    "op16_typed_cast" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_returnflag").isNotNull && col("l_quantity").isNotNull)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("line_no"),
          col("l_quantity").cast("long").as("qty_int"), col("l_returnflag"))
        .orderBy("l_orderkey", "line_no", "qty_int", "l_returnflag")),

    // ops 3+4: CREATE x7 / DROP x7 / re-CREATE — exercised live against
    // the session catalog; returns the declared table inventory, which
    // the oracle pins as a VALUES literal. Idempotence is what's tested:
    // any failure in the drop/create cycle aborts the query.
    "op03_04_catalog" -> ((s, dir) => {
      T(s, dir, "region").count() // registers graft functions; touches dir
      etl.Catalog.dropTables(s)   // IF EXISTS: safe when absent
      etl.Catalog.createTables(s)
      etl.Catalog.createTables(s) // IF NOT EXISTS: no-op
      val inventory = etl.Catalog.tables.map { case (n, schema) =>
        (n, schema.fields.length.toLong, s.catalog.tableExists(n))
      }
      etl.Catalog.dropTables(s)   // leave the catalog clean
      import s.implicits._
      inventory.toDF("table_name", "n_cols", "existed")
        .filter(col("existed")).drop("existed").orderBy("table_name")
    }),

    // op 5: INSERT…SELECT append — two appends of the time dimension into
    // a cataloged table must double the row count; the oracle computes
    // the same invariant (2 × distinct ts) straight from events.
    "op05_insert_append" -> ((s, dir) => {
      val time = Transforms.buildTime(T(s, dir, "events"))
      s.sql("DROP TABLE IF EXISTS graft_op05_time")
      time.limit(0).write.saveAsTable("graft_op05_time")
      etl.Catalog.insertInto(time, "graft_op05_time")
      etl.Catalog.insertInto(time, "graft_op05_time")
      val n = s.table("graft_op05_time").count()
      s.sql("DROP TABLE IF EXISTS graft_op05_time")
      import s.implicits._
      Seq(n).toDF("n")
    }),

    // op 17: the whole orchestration — staging frames mapped from events
    // (constant join keys so every transform's output count has a closed
    // form the oracle computes straight from events), Pipeline.run with
    // staging checkpointed as rows + five observed fork-free writes,
    // counts returned.
    "op17_pipeline_e2e" -> ((s, dir) => {
      val se = T(s, dir, "events").select(
        col("event_type").as("song"), lit("X").as("artist"),
        lit(1.0).as("length"), col("ts"),
        col("user_id").cast("string").as("user_id"),
        col("event_type").as("level"),
        col("event_id").cast("int").as("session_id"),
        lit("L").as("location"), lit("UA").as("user_agent"),
        when(col("event_type") === "click", "NextSong").otherwise("Home").as("page"),
        lit("FN").as("first_name"), lit("LN").as("last_name"), lit("F").as("gender"))
      val ss = T(s, dir, "events").select(col("event_type")).distinct().select(
        concat(lit("SO_"), col("event_type")).as("song_id"),
        concat(lit("AR_"), col("event_type")).as("artist_id"),
        col("event_type").as("title"), lit("X").as("artist_name"),
        lit(1.0).as("duration"), lit(0).as("year"),
        lit("Loc").as("artist_location"),
        lit(1.5).as("artist_latitude"), lit(2.5).as("artist_longitude"))
      // Result.counts is an eager Map, so the written tables can go now
      val out = Files.createTempDirectory("graft-op17")
      val r = try etl.Pipeline.run(s, se, ss, out.toString) finally Sessions.deleteTree(out)
      require(r.failures.isEmpty, s"pipeline failures: ${r.failures.keySet}")
      import s.implicits._
      r.counts.toSeq.toDF("table_name", "n").orderBy("table_name")
    }),

    // ---- analytics module (star-schema read side) ----

    // Column-level completeness profile: rows / non-null / exact
    // distinct per column, reshaped one-row-per-column with stack() —
    // all in a single aggregation job. (Exact distinct expands the agg;
    // at corpus scale swap in the HLL registers — sketch_hll_grouped —
    // per the same schema.)
    "q_column_profile" -> ((s, dir) => {
      val a = T(s, dir, "events").agg(
        count(lit(1)).as("n"),
        count(col("user_id")).as("nn_user"),
        countDistinct(col("user_id")).as("nd_user"),
        count(col("event_type")).as("nn_type"),
        countDistinct(col("event_type")).as("nd_type"),
        count(col("value")).as("nn_value"),
        countDistinct(col("value")).as("nd_value"))
      a.selectExpr(
        """stack(3,
          |  'event_type', n, nn_type, nd_type,
          |  'user_id', n, nn_user, nd_user,
          |  'value', n, nn_value, nd_value)
          |AS (col_name, n_rows, n_non_null, n_distinct)""".stripMargin)
        .orderBy("col_name")
    }),

    // Distribution profiling: exact interpolated percentiles + moments
    // per group — the per-column statistics a data-quality pass emits.
    "q_profile_stats" -> ((s, dir) =>
      T(s, dir, "events").groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"),
          round(min("value"), 6).as("v_min"),
          round(max("value"), 6).as("v_max"),
          round(stddev("value"), 6).as("v_std"))
        .orderBy("event_type")),

    // Fixed-width histogram of a numeric column: integer bucket counts
    // (explicit floor arithmetic — width_bucket semantics, portable).
    "q_histogram" -> ((s, dir) =>
      T(s, dir, "events")
        .select(when(col("value") < 0, lit(0L))
          .when(col("value") >= 100, lit(11L))
          .otherwise(floor(col("value") / 10) + 1).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    // Pure-SQL usage of the native extension functions: the documents
    // table as a temp view, queried with spark.sql text.
    // Correlated scalar subquery (Catalyst decorrelates it into an agg +
    // join — the SQL surface users actually write). The per-customer mean
    // is an exact DECIMAL sum over one double division, so the strict `>`
    // cut is engine-identical.
    "q_correlated_subquery" -> ((s, dir) => {
      T(s, dir, "orders").createOrReplaceTempView("graft_orders")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice FROM graft_orders o
          |WHERE o_totalprice > (
          |  SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
          |         / count(*)
          |  FROM graft_orders o2 WHERE o2.o_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
    }),

    "q_sql_native_fns" -> ((s, dir) => {
      T(s, dir, "documents").createOrReplaceTempView("graft_docs")
      s.sql(
        """SELECT doc_id,
          |  CAST(size(graft_shingles(text, 3)) AS BIGINT) AS n_shingles,
          |  size(graft_minhash(text, 3, 32)) AS sig_len
          |FROM graft_docs ORDER BY doc_id""".stripMargin)
    }),

    // ---- LLM-data-pipeline: similarity search ----

    "ann_brute_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), 10)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // Mutual 5-NN similarity graph over ALL vectors: an undirected edge
    // survives iff each endpoint is in the other's top-5 — the noisy
    // directed k-NN list turned into the similarity graph that LPA /
    // SemDeDup-style carving consume. Exact brute k-NN here (the verify
    // baseline); at 100 TB feed mutualKnnGraph the lshAnnTopK / ivfTopK
    // neighbor list instead — the graph construction is input-agnostic.
    "ann_knn_graph" -> ((s, dir) =>
      Similarity.mutualKnnGraph(knnExact(s, dir))
        .orderBy("id_a", "id_b")),

    // The registered 100 TB swap for ann_knn_graph: the SAME
    // mutualKnnGraph over lshSelfTopK — per-vector top-5 among SRP
    // bucket-mates from a plain (tbl, bucket)-keyed self-join, no
    // broadcast, no N² stage. 4 planes × 8 tables: the fixture's
    // embeddings are near-isotropic (d̂≈35 in 64 dims — LSH's hardest
    // regime), so the operating point leans recall (~0.7 measured by
    // the agree row below); at scale nPlanes grows ∝ log N to hold
    // bucket occupancy constant, and real clustered corpora sit far
    // above this recall at the same cost.
    // nPlanes from a corpus count (4 at the 500-vector oracle scale,
    // matching the static DuckDB mirror) — fixed planes would make
    // the bucket self-join quadratic in data growth; see srpAutoPlanes
    // (the derivation lives in knnLsh).
    "ann_knn_graph_lsh" -> ((s, dir) =>
      Similarity.mutualKnnGraph(knnLsh(s, dir))
        .orderBy("id_a", "id_b")),

    // Edge-overlap agreement of the LSH graph against the brute graph —
    // the recallAtK discipline applied to graph construction: recall of
    // exact edges plus the symmetric Jaccard. This row is WHY the swap
    // above is trustworthy.
    "ann_knn_graph_agree" -> ((s, dir) => {
      val ex = Similarity.mutualKnnGraph(knnExact(s, dir))
        .select(col("id_a"), col("id_b"))
      val an = Similarity.mutualKnnGraph(knnLsh(s, dir))
        .select(col("id_a"), col("id_b"))
      val j = ex.withColumn("ex", lit(1L))
        .join(an.withColumn("an", lit(1L)), Seq("id_a", "id_b"), "full_outer")
      // coalesce: sum() over an empty/all-NULL side yields NULL where the
      // DuckDB oracle's count(*) yields 0 — a degenerate-fixture (empty
      // graph) divergence the hash comparison would flag spuriously.
      j.agg(
          coalesce(sum(col("ex")), lit(0L)).as("ne"),
          coalesce(sum(col("an")), lit(0L)).as("na"),
          sum(when(col("ex").isNotNull && col("an").isNotNull, 1L)
            .otherwise(0L)).as("nc"))
        .select(col("ne").as("n_exact_edges"), col("na").as("n_ann_edges"),
          col("nc").as("n_common"),
          Fns.q6(try_divide(col("nc").cast("double"),
            col("ne").cast("double"))).as("edge_recall"),
          Fns.q6(try_divide(col("nc").cast("double"),
            col("ne").cast("double") + col("na").cast("double")
              - col("nc").cast("double"))).as("jaccard"))
    }),

    // Exact max-inner-product top-10 for the same 8 probes — the
    // magnitude-aware retrieval semantic (recommendation scoring);
    // the exact baseline the norm-augmented ANN path measures against.
    "ann_mips_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.mipsTopK(emb, emb.filter(col("vec_id") < 8), 10)
        .orderBy("query_id", "rank")
    }),

    // Range search: every neighbor with 6-dp cosine >= 0.3 of the 8
    // lowest-id probes — variable-cardinality retrieval (no top-k cut),
    // pure broadcast map work, zero shuffles.
    "ann_range" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.rangeSearch(emb, emb.filter(col("vec_id") < 8), 0.3)
        .orderBy("query_id", "neighbor_id")
    }),

    // Hard-negative mining for contrastive training: per query, top-5 by
    // cosine among vectors assigned to a DIFFERENT coarse cluster (k=4
    // lowest-id seeds) — near-misses with a known non-match label.
    "ann_hard_negatives" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 8), 5, nClusters = 4)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("neighbor_cluster"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // IVF is the inverted-list scale path beside SRP-LSH. Centroids are
    // the nClusters smallest samplingHash(id) vectors — ANSI arithmetic,
    // so the oracle selects the identical set and checks the full
    // assign→probe→rank pipeline.
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), 10,
          nClusters = 16, nProbe = 4)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // Seed-fixed hyperplanes (java.util.Random — algorithm pinned by the
    // Java spec) are embedded as literal double arrays in the generated
    // oracle SQL, so DuckDB reproduces every bucket and the candidate set.
    "ann_lsh_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.lshAnnTopK(emb, emb.filter(col("vec_id") < 8), 10, dim = 64,
          nPlanes = 8, nTables = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // ANN evaluation: mean recall@10 of the SRP-LSH result against the
    // exact brute-force ranking — the tuning metric, as a first-class
    // operator (both sides are themselves oracle-verified queries).
    "ann_recall" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      Similarity.recallAtK(
        Similarity.lshAnnTopK(emb, q, 10, dim = 64, nPlanes = 8, nTables = 2),
        Similarity.bruteForceTopK(emb, q, 10))
    }),

    // Two-stage ANN: exact-integer code-dot coarse cut (engine-identical
    // candidate sets), exact cosine rerank of the survivors.
    "ann_refine" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.refineTopK(emb, emb.filter(col("vec_id") < 8), 10, 40)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // ---- LLM-data-pipeline: text analysis ----

    // Per-doc top-5 TF-IDF terms: (doc,term) tf shuffle + term df shuffle
    // + broadcast corpus count + per-doc top-k window.
    "text_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopK(T(s, dir, "documents"), 5)
        .orderBy("doc_id", "rank")),

    // Frequency-ordered vocabulary with dense ids: the tokenizer /
    // embedding id-assignment step. Bounded top-200, so the id window
    // never sees more than 200 rows.
    "text_vocab" -> ((s, dir) =>
      TextAnalysis.vocabulary(T(s, dir, "documents"), 200)
        .orderBy("term_id")),

    // Tokenizer-apply: every doc -> its vocab term-id sequence (unk=-1,
    // exercised here: maxVocab=20 < the corpus's 31 terms). Flattened to
    // (doc_id, pos, term_id) rows for the column-hash compare; the
    // operator itself returns one id-array row per doc.
    "text_encode" -> ((s, dir) =>
      TextAnalysis.encode(T(s, dir, "documents"), 20)
        .select(col("doc_id"), posexplode(col("token_ids")))
        .toDF("doc_id", "pos", "term_id")
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("term_id"))
        .orderBy("doc_id", "pos")),

    // encode → decode round trip: ids back to text through the same
    // vocab (OOV → <unk>) — proves the tokenizer plumbing lossless for
    // in-vocab text.
    "text_decode" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      TextAnalysis.decode(
        TextAnalysis.encode(docs, 20),
        TextAnalysis.vocabulary(docs, 20).select("term", "term_id"))
        .orderBy("doc_id")
    }),

    // BM25 top-20 lexical retrieval for a 3-term query — the RAG-corpus /
    // contamination-probe retrieval primitive. Per-document score is an
    // exact DECIMAL sum of 9-dp-rounded per-term weights (order-free).
    "text_bm25" -> ((s, dir) =>
      TextAnalysis.bm25TopK(T(s, dir, "documents"),
        Seq("spark", "join", "filter"), 20)),

    // Adjacent-pair PMI collocations (count >= 5, top 50) — the
    // multi-word-expression miner over corpus bigram/unigram counts.
    "text_pmi" -> ((s, dir) =>
      TextAnalysis.pmiBigrams(T(s, dir, "documents"), 50)),

    // Dunning G² collocations: 2×2 contingency over bigram positions,
    // log-likelihood-ratio scored — rewards pairs both surprising AND
    // well-attested where PMI explodes on rare ones. Top-40, c_ab >= 5.
    "text_collocations" -> ((s, dir) =>
      TextAnalysis.g2Collocations(T(s, dir, "documents"), 40)),

    // Pairwise Jensen–Shannon divergence between per-source unigram
    // distributions — "is source X redundant with Y" for mixture design;
    // bounded ≤ ln 2, symmetric, union-of-support exact.
    "text_jsd" -> ((s, dir) =>
      TextAnalysis.jsdBySource(T(s, dir, "documents"))
        .orderBy("source_a", "source_b")),

    // Hot-bigram boilerplate removal: grams in >= 8% of docs are dropped
    // position-wise and each doc is reassembled (CCNet-style cleanup).
    "text_boilerplate" -> ((s, dir) =>
      TextAnalysis.boilerplateRemove(T(s, dir, "documents"), 2, 0.08)
        .orderBy("doc_id")),

    // Quality-ordered token-budget selection: best docs by distinct-token
    // ratio until 10k subword tokens — the final "best N tokens" curation
    // cut, running on the two-level distributed prefix sum (no global
    // window).
    "text_select_budget" -> ((s, dir) =>
      TextAnalysis.selectByBudget(T(s, dir, "documents"), 10000L)
        .orderBy("doc_id")),

    // Within-doc repeated-span removal (trigram spans): tokens covered by
    // an n-gram already seen earlier in the SAME doc are dropped — the
    // crawl-stutter cleaner corpus-level dedup can't see.
    "text_dedup_spans" -> ((s, dir) =>
      TextAnalysis.dedupSpans(T(s, dir, "documents"), 3)
        .orderBy("doc_id")),

    // Per-doc trigram novelty vs the earlier corpus (first occurrence by
    // min doc_id): the "is this source exhausted?" curation curve.
    "text_ngram_novelty" -> ((s, dir) =>
      TextAnalysis.ngramNovelty(T(s, dir, "documents"), 3)
        .orderBy("doc_id")),

    // Daily ingest-volume anomaly: per-type daily counts z-scored against
    // the type's own history, |z| > 2 flagged — the dead-feed/backfill
    // monitor, riding the outliers DECIMAL moment recipe.
    "dq_volume_anomaly" -> ((s, dir) =>
      operators.DataQuality.volumeAnomaly(T(s, dir, "events"))
        .orderBy("day", "event_type")),

    // Per-type freshness monitor: latest arrival, lag in hours behind the
    // freshest feed, stale flag past 24 h — catches the feed that STOPPED
    // (which the volume z-score cannot see: no daily row, no z).
    "dq_freshness" -> ((s, dir) =>
      operators.DataQuality.freshness(T(s, dir, "events"), 24L)
        .orderBy("group_key")),

    // Per-source quantile quality gate: each doc competes against its OWN
    // source's p25 of the distinct-token-ratio score, so low-register
    // sources aren't deleted wholesale by a global cutoff.
    // Rare-token (corpus-hapax) occurrence ratio per doc — the gibberish
    // / OCR-noise detector: vocabulary no other document corroborates.
    "text_rare_ratio" -> ((s, dir) =>
      TextAnalysis.rareTokenRatio(T(s, dir, "documents"), 1L, 0.5)
        .orderBy("doc_id")),

    "text_quality_gate" -> ((s, dir) =>
      TextAnalysis.qualityGate(T(s, dir, "documents"), 0.25)
        .orderBy("doc_id")),

    // Shannon token entropy per doc (nats) + max-normalized form — the
    // repetitive-sludge detector; Σ c·ln c rides a DECIMAL sum.
    "text_entropy" -> ((s, dir) =>
      TextAnalysis.entropy(T(s, dir, "documents")).orderBy("doc_id")),

    // Single-pass Pearson correlation matrix over lineitem numerics —
    // all moments in ONE wide aggregate, pairs exploded from the single
    // aggregate row.
    "q_corr" -> ((s, dir) =>
      operators.DataQuality.corrMatrix(T(s, dir, "lineitem"),
        Seq("l_discount", "l_extendedprice", "l_quantity"))
        .orderBy("col_a", "col_b")),

    // Join-key skew report on orders.o_custkey: top-10 hottest keys with
    // row share + table totals — the pre-join salting diagnostic.
    "dq_skew_report" -> ((s, dir) =>
      Skew.keyProfile(T(s, dir, "orders"), "o_custkey", 10)
        .orderBy("rank")),

    // ADC serving over the PQ codes: queries (vec_id < 8) ranked by the
    // sum of per-subspace code distances — the corpus is scanned as
    // 4 ints/vector, never as vectors.
    "ann_adc_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.annAdcTopK(emb, emb.filter(col("vec_id") < 8), 5, 16, 4)
        .orderBy("query_id", "rank")
    }),

    // Inverted postings index: term -> df + sorted doc-id list (the
    // search-index build; df-capped against stopword skew — uncapped here,
    // the corpus vocabulary is tiny). The public operator returns the
    // ARRAY posting list; the registered query canonicalizes it to a
    // comma-joined string because the harness's pandas comparator cannot
    // hash array cells (same convention as ana_session_sequences).
    "text_postings" -> ((s, dir) =>
      TextAnalysis.postingsIndex(T(s, dir, "documents"))
        .withColumn("postings",
          array_join(transform(col("postings"), _.cast("string")), ","))
        .orderBy("term")),

    // df-capped postings variant: terms with df > 40 (stopword-like in
    // this corpus) are dropped entirely — the index-skew guard exercised.
    "text_postings_capped" -> ((s, dir) =>
      TextAnalysis.postingsIndex(T(s, dir, "documents"), maxDf = 40L)
        .withColumn("postings",
          array_join(transform(col("postings"), _.cast("string")), ","))
        .orderBy("term")),

    // Tokenizer fertility per language: subwords-per-word +
    // chars-per-subword — the cross-lingual tokenizer-cost metric.
    "text_fertility" -> ((s, dir) =>
      TextAnalysis.fertility(T(s, dir, "documents")).orderBy("lang")),

    // Bigram argmax LM: every term's most likely successor + P(next|term) —
    // the template-detection / perplexity-floor baseline.
    "text_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramModel(T(s, dir, "documents")).orderBy("term")),

    // Zipf slope over the top-200 vocabulary (log-freq vs log-rank
    // least squares; ~-1 = natural text) — one row.
    "text_zipf_slope" -> ((s, dir) =>
      TextAnalysis.zipfSlope(T(s, dir, "documents"), 200)),

    // C4-style line-level boilerplate dedup: lines (3-token windows here —
    // the corpus has no newlines; the operator takes any pre-split lines
    // frame) occurring in > 3 distinct docs are dropped from every doc.
    "text_dedup_lines" -> ((s, dir) => {
      val toks = T(s, dir, "documents")
        .select(col("doc_id"), posexplode(graft.functions.Fns.tokens(col("text"))))
      val lines = toks
        .groupBy(col("doc_id"), floor(col("pos") / lit(3)).cast("long").as("line_no"))
        .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("col")))),
          t => t.getField("col")), " ").as("line"))
      TextAnalysis.dedupLines(lines, maxDocs = 3).orderBy("doc_id")
    }),

    // Language-ID with top1−top2 confidence margin and top1 share — the
    // "confidently-English only" corpus filter signals.
    "text_langid_margin" -> ((s, dir) =>
      TextAnalysis.langIdMargin(T(s, dir, "documents")).orderBy("doc_id")),

    // Corpus-wide token-length histogram (bounded domain — one
    // register-sized shuffle regardless of corpus size).
    "text_wordlen_hist" -> ((s, dir) =>
      TextAnalysis.wordLengthHistogram(T(s, dir, "documents"))
        .orderBy("token_len")),

    // Hapax-legomenon ratio per source — vocabulary richness / OCR-noise
    // profile (share of the source's distinct terms occurring once).
    "text_hapax" -> ((s, dir) =>
      TextAnalysis.hapaxProfile(T(s, dir, "documents")).orderBy("source")),

    // Yule's K per source: 10⁴·(Σf² − N)/N² — the length-invariant
    // repetitiveness constant (corpus-level cousin of text_repetition).
    "text_yule_k" -> ((s, dir) =>
      TextAnalysis.yuleK(T(s, dir, "documents")).orderBy("source")),

    // Church–Gale term burstiness: Fano factor (variance/mean of the
    // per-doc count, absences as zeros) for the top-200 corpus terms —
    // content words clump, function words are ~Poisson.
    "text_burstiness" -> ((s, dir) =>
      TextAnalysis.termBurstiness(T(s, dir, "documents"), 200)
        .orderBy("term")),

    // Mean segmental TTR per source (8-token full segments): the
    // document-length-invariant lexical-diversity scale that raw TTR
    // (text_source_profile's mean_distinct_ratio) is not.
    "text_msttr" -> ((s, dir) =>
      TextAnalysis.msttr(T(s, dir, "documents"), segLen = 8)
        .orderBy("source")),

    // Conditional character-bigram entropy H(c2|c1) per source — the
    // sub-token gibberish detector (base64/OCR sludge approaches the
    // unconditional alphabet entropy; natural text sits well below).
    "text_char_bigram_entropy" -> ((s, dir) =>
      TextAnalysis.charBigramEntropy(T(s, dir, "documents"))
        .orderBy("source")),

    // Per-source character-class fractions (letters/digits/whitespace/
    // other) — the pre-tokenization script/garbage gate. Narrow regex
    // counts into one source-keyed aggregate.
    "text_script_hist" -> ((s, dir) =>
      TextAnalysis.charClassProfile(T(s, dir, "documents"))
        .orderBy("source")),

    // Per-source Simpson lexical diversity (repeat-rate complement) —
    // exact integer moments, flags template-heavy sources.
    "text_simpson" -> ((s, dir) =>
      TextAnalysis.simpsonDiversity(T(s, dir, "documents"))
        .orderBy("source")),

    // Heaps'-law vocabulary-growth exponent over 10 doc-id prefixes —
    // "does more crawling still buy new vocabulary?" — one row.
    "text_heaps_law" -> ((s, dir) =>
      TextAnalysis.heapsLaw(T(s, dir, "documents"), 10)),

    // Skip-gram pairs (±2 window, top 100) — word2vec-style training-pair
    // extraction via an exact (doc, position+offset) equi-join.
    "text_skipgrams" -> ((s, dir) =>
      TextAnalysis.skipgramCounts(T(s, dir, "documents"), 2, 100)),

    // Unigram-LM perplexity per doc (CCNet-style corpus-surprise filter);
    // DECIMAL-summed per-term log-probs.
    "text_perplexity" -> ((s, dir) =>
      TextAnalysis.perplexity(T(s, dir, "documents")).orderBy("doc_id")),

    // Interpolated bigram-LM perplexity (Jelinek–Mercer λ=0.75, unigram
    // back-off) — catches shuffled/disfluent text the unigram filter
    // scores as normal; docs with <2 tokens have no bigram events.
    "text_perplexity_bigram" -> ((s, dir) =>
      TextAnalysis.perplexityBigram(T(s, dir, "documents")).orderBy("doc_id")),

    // Length-quantile bucketing for padding-efficient batching — exact
    // broadcast quartile boundaries, flat scoring, no ntile window.
    "text_length_buckets" -> ((s, dir) =>
      TextAnalysis.lengthBuckets(T(s, dir, "documents")).orderBy("doc_id")),

    // UNPIVOT/melt: wide metrics to (key, metric, value) rows — the
    // relational dual of pivot (which is covered elsewhere).
    "q_unpivot" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount")), "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric", "value")),

    // SCD2 point-in-time lookup: each sampled fact event joined to the
    // dimension VERSION valid at its timestamp (valid_from inclusive,
    // valid_to exclusive) — the canonical versioned-dimension read.
    "q_scd2_lookup" -> ((s, dir) => {
      val events = T(s, dir, "events")
      val hist = Merge.scdType2(events, Seq("user_id"), "ts", "event_id", "event_type")
      val facts = events.filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("user_id"), col("ts").as("fact_ts"))
      facts.join(hist, Seq("user_id"))
        .filter(col("fact_ts") >= col("valid_from") &&
          (col("valid_to").isNull || col("fact_ts") < col("valid_to")))
        .select(col("event_id"), col("user_id"), col("fact_ts"),
          col("state"), col("version"))
        .orderBy("event_id")
    }),

    // Snapshot profile drift: per-column null/distinct/mean deltas
    // between the pre-1997 orders snapshot and the full table — the
    // schema-silent input-shift check.
    "dq_profile_drift" -> ((s, dir) => {
      val orders = T(s, dir, "orders")
      operators.DataQuality.profileDrift(
        orders.filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        orders, Seq("o_custkey", "o_totalprice"))
        .orderBy("col_name")
    }),

    // Pairwise categorical association (chi-square + Cramér's V) over
    // lineitem's three low-cardinality columns — empty contingency cells
    // folded via the chi² = n + Σ((o−e)²/e − e) identity, no cell spine.
    "dq_association" -> ((s, dir) =>
      operators.DataQuality.association(T(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_linenumber"))
        .orderBy("col_a", "col_b")),

    // Benford first-digit audit of order totals: observed vs log10(1+1/d)
    // shares + chi-square, first digit via exact integer-cents strings
    // (never float formatting / log10).
    "dq_benford" -> ((s, dir) =>
      operators.DataQuality.benford(T(s, dir, "orders"), "o_totalprice", 2)
        .orderBy("digit")),

    // Population Stability Index of the value distribution, click
    // (reference) vs error (current) events, 10 reference-anchored
    // equal-width bins — the binned-drift scalar profileDrift's
    // mean/null deltas can't see.
    "dq_psi" -> ((s, dir) => {
      val e = T(s, dir, "events")
      operators.DataQuality.psiDrift(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "error"), "value", 10)
        .orderBy("bin")
    }),

    // Two-sample Kolmogorov–Smirnov drift test, click (ref) vs error
    // (cur) event values — the every-quantile drift statistic PSI's 10
    // fixed bins can't resolve; exact-integer ECDFs via the two-level
    // bucketed prefix sum (no global window over the value spine).
    "dq_ks_test" -> ((s, dir) => {
      val e = T(s, dir, "events")
      operators.DataQuality.ksTest(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "error"), "value")
    }),

    // Mann–Whitney AUC of `value` as a score predicting error events —
    // the threshold-free classifier eval; BIGINT-exact concordant-pair
    // numerator, one rounded division.
    "dq_auc" -> ((s, dir) =>
      operators.DataQuality.aucScore(
        T(s, dir, "events").filter(col("event_type").isin("click", "error")),
        "value", col("event_type") === "error")),

    // Reliability bins: 10 equal-width score buckets with empirical
    // positive rate — whether a quality score reads as a probability.
    "dq_calibration" -> ((s, dir) =>
      operators.DataQuality.calibrationBins(
        T(s, dir, "events").filter(col("event_type").isin("click", "error")),
        "value", col("event_type") === "error", 10)
        .orderBy("bin")),

    // Mutual information (nats) + normalized MI between source and lang
    // on the documents corpus — the dataset-card dependence measure chi²
    // (dq_association) can't read as shared-information.
    "dq_mutual_info" -> ((s, dir) =>
      operators.DataQuality.mutualInfo(T(s, dir, "documents"),
        "source", "lang")),

    // Deequ-style declarative constraint suite over events: every rule is
    // one conditional sum inside a SINGLE partial aggregate (one scan, one
    // scalar row, rules unfold from an inline array; NULL predicate =
    // violation — three-valued logic closed).
    "dq_constraints" -> ((s, dir) =>
      operators.DataQuality.constraintSuite(T(s, dir, "events"), Seq(
        "value_non_negative" -> (col("value") >= 0),
        "event_type_known" -> col("event_type").isin(
          "click", "view", "purchase", "signup", "error"),
        "user_id_present" -> col("user_id").isNotNull,
        "ts_in_range" -> (col("ts") >= lit("2023-01-01") &&
          col("ts") < lit("2027-01-01")),
        "props_parseable" -> col("props").isNotNull))
        .orderBy("rule_idx")),

    // Primary-key uniqueness audit over every table's declared key
    // (incl. lineitem's composite) — the Deequ check whose silent
    // failure fans out every downstream join.
    "dq_pk_uniqueness" -> ((s, dir) =>
      operators.DataQuality.pkUniqueness(Seq(
        ("customer", T(s, dir, "customer"), Seq("c_custkey")),
        ("orders", T(s, dir, "orders"), Seq("o_orderkey")),
        ("part", T(s, dir, "part"), Seq("p_partkey")),
        ("lineitem", T(s, dir, "lineitem"),
          Seq("l_orderkey", "l_linenumber")),
        ("documents", T(s, dir, "documents"), Seq("doc_id")),
        ("events", T(s, dir, "events"), Seq("event_id"))))
        .orderBy("table_name")),

    // Sequence-order audit: does ts increase along event_id order per
    // user — the clock-skew detector run before trusting windows,
    // sessionization, or as-of joins.
    "dq_sequence" -> ((s, dir) =>
      operators.DataQuality.sequenceAudit(
        T(s, dir, "events"), "user_id", "event_id", "ts")),

    // Chi-squared goodness-of-fit of the event-type mix against
    // uniform, with the single worst-deviating category — the
    // categorical drift test beside KS (continuous) and PSI (binned).
    "dq_chi2" -> ((s, dir) =>
      operators.DataQuality.chiSquaredUniform(
        T(s, dir, "events"), "event_type")),

    // Calendar completeness per event type: days with data vs the
    // first→last span, longest total-outage run — the silent-feed-gap
    // detector volume z-scoring can't see.
    "dq_calendar" -> ((s, dir) =>
      operators.DataQuality.calendarAudit(
        T(s, dir, "events"), "event_type", "ts")
        .orderBy("event_type")),

    // Functional-dependency discovery over four orders columns (12
    // ordered pairs in ONE multi-distinct aggregate): o_orderkey -> *
    // comes out as the PK's exact FDs, the rest grade as near-FD
    // strengths — the undocumented-schema-structure profiler.
    "dq_func_deps" -> ((s, dir) =>
      operators.DataQuality.functionalDeps(T(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("lhs", "rhs")),

    // Referential-integrity audit of the star schema: orphan scans for
    // lineitem→orders, orders→customer, lineitem→part (left-anti per
    // relation; Catalyst broadcasts dim-sized parents).
    "dq_referential" -> ((s, dir) =>
      operators.DataQuality.referentialIntegrity(Seq(
        ("lineitem_orders", T(s, dir, "lineitem"), "l_orderkey",
          T(s, dir, "orders"), "o_orderkey"),
        ("orders_customer", T(s, dir, "orders"), "o_custkey",
          T(s, dir, "customer"), "c_custkey"),
        ("lineitem_part", T(s, dir, "lineitem"), "l_partkey",
          T(s, dir, "part"), "p_partkey")))
        .orderBy("relation")),

    // Two full-batch logistic-regression GD steps over the embedding
    // features (label = class < 5) from w = 0 — the quality-classifier
    // training shape: per-step one N-key margin sum + one d-key gradient
    // sum, model state broadcast throughout.
    "ml_logreg" -> ((s, dir) =>
      operators.ML.logregSteps(T(s, dir, "embeddings"), col("label") < 5,
        steps = 2, lr = 0.5).orderBy("dim")),

    // Closed-form ridge (λ=1) of extendedprice on quantity+discount via
    // normal equations: one scan, nine DECIMAL sums, Cramer solve as
    // column expressions over the single aggregate row.
    "ml_ridge" -> ((s, dir) =>
      operators.ML.ridgeNormal(T(s, dir, "lineitem"), col("l_quantity"),
        col("l_discount"), col("l_extendedprice"), lambda = 1.0)),

    // One spherical GMM E-step (k=4 lowest-id seeds, corpus-mean
    // bandwidth): max-subtracted softmax responsibilities — the soft
    // membership table a mixture M-step or soft-dedup weighting eats.
    "ml_gmm_estep" -> ((s, dir) =>
      operators.ML.gmmEStep(T(s, dir, "embeddings"), 4)
        .orderBy("cid")),

    // Precision/recall/F1 operating-point table over a threshold ladder
    // (score = value, label = error events) — one aggregate, all cuts.
    "ml_pr_curve" -> ((s, dir) =>
      operators.ML.prCurve(T(s, dir, "events"), col("value"),
        col("event_type") === "error",
        Seq(1.0, 2.0, 5.0, 10.0, 20.0, 50.0))
        .orderBy("threshold")),

    // Cumulative gains/lift by score-quantile decile over the same
    // click-vs-error frame as dq_auc — "how much better than random is
    // the top k/10 of the ranking"; ties share a bin (no ntile).
    "ml_lift" -> ((s, dir) =>
      operators.ML.liftDeciles(
        T(s, dir, "events").filter(col("event_type").isin("click", "error")),
        "value", col("event_type") === "error")
        .orderBy("decile")),

    // Best single Gini split of the same score/label frame — "is there
    // one cutoff worth filtering at"; all decile candidates in one
    // aggregate, winner by TakeOrdered on (gain, threshold).
    "ml_stump" -> ((s, dir) =>
      operators.ML.decisionStump(
        T(s, dir, "events").filter(col("event_type").isin("click", "error")),
        "value", col("event_type") === "error")),

    // Multinomial NB language classifier trained + self-evaluated over
    // the corpus in one lazy plan: per-lang recall rows (model-card
    // sanity, not a generalization claim).
    "ml_nb_accuracy" -> ((s, dir) =>
      operators.ML.naiveBayesEvalFromPredictions(nbPred(s, dir))
        .orderBy("label")),

    // Confusion matrix of the same NB language classifier — sparse
    // (label, pred, n, row_share) cells: WHERE the misclassifications
    // go, which the aggregate recall hides.
    "ml_confusion" -> ((s, dir) =>
      operators.ML.confusionMatrix(nbPred(s, dir))
        .orderBy("label", "pred")),

    // Per-class precision/recall/F1 report over the same predictions —
    // the sklearn classification_report as a distributed aggregate.
    "ml_class_report" -> ((s, dir) =>
      operators.ML.classReport(nbPred(s, dir))
        .orderBy("label")),

    // Chance-corrected agreement over the same predictions: accuracy,
    // Cohen's kappa, multiclass MCC (Gorodkin R_K) — one scalar row,
    // marginal products on DECIMAL(38,0) so 100 TB counts never wrap.
    "ml_mcc_kappa" -> ((s, dir) =>
      operators.ML.mccKappa(nbPred(s, dir))),

    // Learning curve: NB generalization accuracy on the FIXED held-out
    // decile (doc_id % 10 == 9) as the training pool grows 25% → 50% →
    // 100% — "is more data still buying accuracy", the
    // collect-more-vs-model-work decision card.
    "ml_learning_curve" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val test = d.filter(Fns.pmod(col("doc_id"), lit(10L)) === 9)
      val pool = d.filter(Fns.pmod(col("doc_id"), lit(10L)) =!= 9)
      def acc(frac: Double, train: org.apache.spark.sql.DataFrame) = {
        val pred = operators.ML.naiveBayesPredict(train, test, "lang")
        val nTrain = train.agg(count(lit(1)).as("n_train"))
        pred.agg(count(lit(1)).as("n_test"),
            sum(when(col("pred") === col("y"), 1L).otherwise(0L))
              .as("n_correct"))
          .crossJoin(broadcast(nTrain))
          .select(lit(frac).as("train_frac"), col("n_train"),
            col("n_test"), col("n_correct"),
            Fns.q6(try_divide(col("n_correct").cast("double"),
              col("n_test").cast("double"))).as("accuracy"))
      }
      acc(0.25, pool.filter(Fns.pmod(col("doc_id"), lit(4L)) === 0))
        .unionByName(acc(0.5, pool.filter(Fns.pmod(col("doc_id"), lit(2L)) === 0)))
        .unionByName(acc(1.0, pool))
        .orderBy("train_frac")
    }),

    // Leave-one-out 5-NN accuracy on the embeddings (1-in-10 query
    // sample — the eval-sample convention keeping pairs at N²/10):
    // per-label accuracy of cosine-majority voting.
    "ml_knn_accuracy" -> ((s, dir) =>
      operators.ML.knnAccuracy(T(s, dir, "embeddings"), 5, 10)
        .orderBy("label")),

    // Watermark late-data cost report: replay under a pseudo-shuffled
    // arrival order (Knuth-hash of event_id — bijective mod 2^31, so
    // the replay is deterministic and tie-free) and count what a
    // ONE-WEEK watermark would drop: events from the corpus' last week
    // survive, older ones are the quantified loss.
    "stream_late_events" -> ((s, dir) =>
      StreamingJobs.lateEvents(
        T(s, dir, "events").withColumn("arr",
          Fns.pmod(Fns.pmod(col("event_id"), lit(2147483648L)) *
            lit(2654435761L), lit(2147483648L))),
        delaySeconds = 604800L)
        .orderBy("event_type")),

    // Per-event-type mean global quantile of `value` (midrank ECDF, the
    // quantile-normalization substrate) — stochastic-dominance-at-a-
    // glance across groups.
    "dq_quantile_score" -> ((s, dir) =>
      operators.DataQuality.quantileScoreByGroup(T(s, dir, "events"),
        "value", "event_type")
        .orderBy("event_type")),

    // Vocabulary-size coverage curve (10/20/30 terms) — the OOV-rate
    // stat behind tokenizer sizing.
    "text_vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(T(s, dir, "documents"), Seq(10, 20, 30))
        .orderBy("vocab_size")),

    // Gini coefficient of the top-200 term-frequency distribution — the
    // vocabulary-concentration scalar beside zipf_slope / simpson.
    "text_gini" -> ((s, dir) =>
      TextAnalysis.giniConcentration(T(s, dir, "documents"), 200)),

    // Distinctive terms per source: z-scored smoothed log-odds vs the
    // rest of the corpus over the top-200 vocabulary — what a source
    // talks about, on the dataset card.
    "text_keyness" -> ((s, dir) =>
      TextAnalysis.keynessTopTerms(T(s, dir, "documents"), 5, 200)
        .orderBy("source", "rank")),

    // Term burstiness: variance-to-mean ratio of per-doc counts over
    // the top-200 vocabulary (Church & Gale) — topical vs filler terms.
    "text_term_dispersion" -> ((s, dir) =>
      TextAnalysis.termDispersion(T(s, dir, "documents"), 200)
        .orderBy("term")),

    // Flesch / Flesch-Kincaid readability per doc (regex word/sentence/
    // vowel-group counts) — the classic quality prior.
    "text_readability" -> ((s, dir) =>
      TextAnalysis.readability(T(s, dir, "documents"))
        .orderBy("doc_id")),

    // PII audit over the documents corpus per source: emails / IPv4 /
    // phone-shaped / long digit runs. One conditional-aggregation scan;
    // a clean corpus legitimately reports zeros — the report IS the
    // compliance artifact.
    "text_pii_scan" -> ((s, dir) =>
      TextAnalysis.patternScan(T(s, dir, "documents"), "text", "source",
        Seq(
          "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
          "ipv4" -> "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}",
          "phone" -> "\\+?[0-9][0-9() -]{6,}[0-9]",
          "digitrun" -> "[0-9]{4,}"))
        .orderBy("source")),

    // Same scanner over the events' JSON props per event type — numeric
    // literals and quoted keys, nonzero counts proving the match path.
    "text_pattern_scan" -> ((s, dir) =>
      TextAnalysis.patternScan(T(s, dir, "events"), "props", "event_type",
        Seq("number" -> "[0-9]+", "qkey" -> "\"[a-z]+\""))
        .orderBy("event_type")),

    // BPE merge training (first 3 merges): pair counts weighted by word
    // frequency, greedy left-to-right application — the tokenizer-build
    // step, iterations state = the vocabulary table.
    "text_bpe_merges" -> ((s, dir) =>
      TextAnalysis.bpeMerges(T(s, dir, "documents"), 3)),

    // Materialized training sequences: text_pack's assignment turned into
    // the actual <eos>-joined byte streams a training run consumes.
    "text_pack_materialize" -> ((s, dir) =>
      TextAnalysis.packMaterialize(T(s, dir, "documents"), 400)
        .orderBy("seq_id")),

    // Hashing-trick bag-of-words vectors (dim 64, flattened) — the
    // no-vocabulary fixed-width featurizer.
    "text_feature_hash" -> ((s, dir) =>
      TextAnalysis.hashingTrickVectors(T(s, dir, "documents"), 64)
        .orderBy("doc_id", "slot")),

    // Per-(source, lang) dataset-card profile: doc/token counts + mean
    // distinct-token ratio (DECIMAL mean).
    "text_source_profile" -> ((s, dir) =>
      TextAnalysis.sourceProfile(T(s, dir, "documents"))
        .orderBy("source", "lang")),

    // Corpus bigram table (top 200 by occurrence count): the LM-data
    // profile pass — boilerplate discovery, contamination probes.
    "text_ngrams" -> ((s, dir) =>
      TextAnalysis.ngramCounts(T(s, dir, "documents"), 2, 200)
        .orderBy(col("freq").desc, col("ngram"))),

    "text_quality" -> ((s, dir) =>
      TextAnalysis.quality(T(s, dir, "documents")).orderBy("doc_id")),

    // Deterministic BERT-style masking plan: ~15% of positions, 80/10/10
    // mask/random/keep decided by (doc, pos) hash.
    "text_mlm_masking" -> ((s, dir) =>
      TextAnalysis.mlmMasking(T(s, dir, "documents"))
        .orderBy("doc_id", "pos")),

    // langId measured against the labeled lang column: confusion counts
    // + per-language recall shares.
    "text_langid_eval" -> ((s, dir) =>
      TextAnalysis.langIdEval(T(s, dir, "documents"))
        .orderBy("lang_true", "lang_pred")),

    "text_langid" -> ((s, dir) =>
      TextAnalysis.langId(T(s, dir, "documents")).orderBy("doc_id")),

    "text_token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(T(s, dir, "documents")).orderBy("doc_id")),

    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(T(s, dir, "documents")).orderBy("doc_id")),

    "text_normalize" -> ((s, dir) =>
      TextAnalysis.normalize(T(s, dir, "documents")).orderBy("doc_id")),

    // Declared-vs-detected language disagreement (metadata validation):
    // und predictions count as mismatches — unverifiable is not verified.
    "text_lang_mismatch" -> ((s, dir) =>
      TextAnalysis.langMismatch(T(s, dir, "documents")).orderBy("doc_id")),

    // URL/email redaction (ASCII regex, RE2-compatible with the oracle).
    "text_scrub" -> ((s, dir) =>
      TextAnalysis.scrub(T(s, dir, "documents")).orderBy("doc_id")),

    // Fixed-size token chunking with overlap (40-token chunks, 10 shared).
    "text_chunk" -> ((s, dir) =>
      TextAnalysis.chunk(T(s, dir, "documents"), 40, 10)
        .orderBy("doc_id", "chunk_idx")),

    // Gopher/C4-style repetition quality signal: duplicated-n-gram
    // fractions for n = 2, 3 (exact integer ratios, oracle bit-identical).
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(T(s, dir, "documents")).orderBy("doc_id")),

    // Token-budget packing: docs -> ~400-subword training sequences.
    // GLOBAL semantics computed as a two-level distributed prefix-sum
    // (bucket-local cumsum windows + tiny offset join) — r7's constant-
    // shard registration optimized to the same single-partition window it
    // claimed to demote (PlanGuardSpec now proves no registered query
    // plans a global ordered window; this is the fix).
    "text_pack" -> ((s, dir) =>
      TextAnalysis.packSequencesGlobal(T(s, dir, "documents"), 400)
        .orderBy("doc_id")),

    // The scale path: cumsum window partitioned by language shard, so
    // packing is one hash shuffle + per-shard sorts (no global sort).
    // Packing-efficiency report on the sharded packer's output: per
    // shard, sequences produced / token mass / utilization vs budget.
    "text_pack_stats" -> ((s, dir) =>
      TextAnalysis.packStats(
          TextAnalysis.packSequencesSharded(T(s, dir, "documents"), 400, "lang"),
          400)
        .orderBy("shard")),

    "text_pack_sharded" -> ((s, dir) =>
      TextAnalysis.packSequencesSharded(T(s, dir, "documents"), 400, "lang")
        .orderBy("doc_id")),

    // ---- LLM-data-pipeline: multimodal plumbing ----

    "mm_metadata" -> ((s, dir) =>
      Multimodal.metadata(
          Multimodal.assetsFrom(T(s, dir, "documents"), "doc_id", "text"))
        .select(col("asset_id"), col("kind"),
          col("n_bytes").cast("long").as("n_bytes"), col("checksum"),
          col("header_code").cast("long").as("header_code"))
        .orderBy("asset_id")),

    // Text payloads are not a recognized image container, so the dispatch
    // lands on the labeled stub codec; width/height/n_bytes are
    // deterministic functions of the payload bytes, so oracle-checkable.
    "mm_decode" -> ((s, dir) =>
      Multimodal.decode(s,
          Multimodal.assetsFrom(T(s, dir, "documents"), "doc_id", "text")).toDF()
        .select(col("asset_id"), col("kind"),
          col("n_bytes").cast("long").as("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
        .orderBy("asset_id")),

    // REAL codec path: each doc_id becomes a tiny deterministic grayscale
    // PNG (JDK encoder), decoded back via javax.imageio. PNG is lossless
    // and the raster is read as raw samples, so the decoded dimensions and
    // the integer sample sum are pure functions of doc_id the DuckDB
    // oracle recomputes from the same formula. Narrow map end-to-end; the
    // payload bytes never shuffle.
    "mm_decode_png" -> ((s, dir) => {
      import s.implicits._
      val assets = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          Multimodal.Asset(id, "image", Multimodal.syntheticPng(id))))
        .toDF()
      Multimodal.decode(s, assets).toDF()
        .select(col("asset_id"), col("codec"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("sum_sample"))
        .orderBy("asset_id")
    }),

    // The JPEG face of the real-codec path (real media corpora are
    // overwhelmingly JPEG): same dispatch, but the codec is lossy so the
    // oracle-checkable contract is exact geometry + codec name + the
    // operator's fixed reconstruction-error bounds (always-true booleans
    // by contract — a decode defect, a dispatch regression, or a broken
    // encoder flips them and fails the hash).
    "mm_decode_jpeg" -> ((s, dir) => {
      import s.implicits._
      val ids = T(s, dir, "documents").select(col("doc_id")).as[Long]
      Multimodal.jpegRoundTrip(s, ids).toDF().orderBy("asset_id")
    }),

    // Perceptual near-duplicate images: real PNG decode → 56-bit dHash →
    // 4-band exact blocking → Hamming ≤ 3 pairs. The oracle rebuilds the
    // hash arithmetically from the synthetic raster formula, so the whole
    // decode→hash→band→join path is value-checked.
    "mm_dhash_neardup" -> ((s, dir) => {
      import s.implicits._
      val assets = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          Multimodal.Asset(id, "image", Multimodal.syntheticPngRich(id))))
        .toDF()
      Multimodal.dhashNearDup(
        Multimodal.decodeDHash(s, assets).toDF(), 3)
        .orderBy("id_a", "id_b")
    }),

    // Per-image luma mean/std/min/max through the REAL PNG decode —
    // the image-corpus health probe; the oracle rebuilds every statistic
    // from the synthetic raster formula, so decode→stat is value-checked.
    "mm_luma_stats" -> ((s, dir) => {
      import s.implicits._
      val assets = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          Multimodal.Asset(id, "image", Multimodal.syntheticPngRich(id))))
        .toDF()
      Multimodal.lumaStats(s, assets).orderBy("asset_id")
    }),

    // Audio modality through the REAL javax.sound codec path: synthetic
    // 16-bit PCM WAVs (closed-form waveform per doc id) encoded with the
    // RIFF writer, decoded back, and reduced to duration/RMS/DC/peak/ZCR
    // — the oracle recomputes the exact waveform arithmetically, so the
    // encode→decode→stat chain is hash-checked end to end.
    "mm_audio_stats" -> ((s, dir) => {
      import s.implicits._
      val assets = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          Multimodal.Asset(id, "audio", Multimodal.syntheticWav(id))))
        .toDF()
      Multimodal.audioStats(s, assets).orderBy("asset_id")
    }),

    // REAL ISO-BMFF (MP4) container probe over per-doc synthesized
    // video payloads: the fixture writes genuinely valid box structure
    // (ftyp/moov[mvhd,trak/tkhd]/free/mdat, with mvhd v1 64-bit and
    // mdat largesize variants on id-residue subsets), the probe walks
    // the real binary tree, and the oracle recomputes every metadata
    // field from the id closed forms — hash equality proves the
    // encode→parse round-trip including the v1 and largesize paths.
    // This is the scan-side pre-filter of a 100 TB video pipeline:
    // narrow mapPartitions, a few hundred header bytes of signal out,
    // raw payloads never shuffle.
    "mm_video_probe" -> ((s, dir) => {
      import s.implicits._
      val assets = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          Multimodal.Asset(id, "video", Multimodal.syntheticMp4(id))))
        .toDF()
      Multimodal.videoProbe(s, assets).toDF().orderBy("asset_id")
    }),

    // ---- ingestion / warehouse plumbing, end-to-end ----

    // Ops 1+2+14 against REAL JSON files (the COPY statements'
    // fidelity check, reference sql_queries.py:102–114): shape events
    // into the reference's camelCase log-event JSON with epoch-millis
    // timestamps, write it out, bulk-read it back through the declared
    // schema + JSONPaths rename list (Ingest.readLogEvents), project.
    // The oracle computes the same projection straight from the parquet
    // table, so the whole write→scan→rename→epoch-convert path is
    // hash-checked, not just the staging transform. The staging dir
    // ([[stagingDir]]) is overwritten by each build; like every
    // catalog-writing entry it assumes the harness' single-JVM local
    // filesystem — production ingestion reads a real shared path via the
    // same Ingest.readLogEvents.
    "op01_02_json_copy" -> ((s, dir) => {
      val tmp = stagingDir("json-copy", dir)
      T(s, dir, "events").select(
          col("event_type").as("artist"),
          lit("Logged In").as("auth"),
          col("user_id").cast("string").as("userId"),
          col("event_id").cast("int").as("sessionId"),
          col("event_type").as("song"),
          col("value").as("length"),
          unix_millis(col("ts")).as("ts"),
          lit("NextSong").as("page"),
          lit(200).as("status"))
        .write.mode("overwrite").json(tmp)
      Ingest.readLogEvents(s, tmp)
        .select(col("session_id"), col("user_id"), col("song"), col("length"),
          col("ts"))
        .orderBy("session_id")
    }),

    // Schema evolution: two parquet batches with different schemas in
    // one directory (the second adds `value`), read back with
    // mergeSchema — the additive-column migration every long-lived
    // 100 TB table goes through; old files surface NULL for the new
    // column instead of forcing a rewrite.
    "op_schema_evolution" -> ((s, dir) => {
      val tmp = stagingDir("schema-evo", dir)
      val e = T(s, dir, "events")
      e.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"))
        .write.mode("overwrite").parquet(tmp)
      e.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"), col("value"))
        .write.mode("append").parquet(tmp)
      s.read.option("mergeSchema", "true").parquet(tmp)
        .orderBy("event_id")
    }),

    // Hive-style partitioned write + partition-pruned read: the scan-
    // reduction pattern every selective 100 TB query depends on. The
    // read back of ONE partition is plan-asserted in PipelineSpec to
    // carry PartitionFilters (pruning at planning time, not a filter
    // over the full scan).
    "op_partitioned_prune" -> ((s, dir) => {
      val tmp = stagingDir("part-events", dir)
      T(s, dir, "events").select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
      s.read.parquet(tmp).filter(col("event_type") === "click")
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    }),

    // Corrupt-tolerant ingestion: a JSON copy of events plus three
    // hand-planted malformed lines (broken syntax ×2, type-violating
    // event_id) read through the PERMISSIVE quarantine reader — valid
    // rows load (value-checked via the id sum), bad lines are counted,
    // nothing dies. The log-and-continue COPY posture, verified.
    "op_json_quarantine" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val tmp = stagingDir("json-quar", dir)
      T(s, dir, "events").select(col("event_id"), col("user_id"), col("event_type"))
        .write.mode("overwrite").json(tmp)
      import s.implicits._
      val bad = Seq("{broken", "{\"event_id\":\"xyz\"}", "0}{")
      s.createDataset(bad).write.mode("append").text(tmp)
      val schema = StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType)))
      Ingest.readJsonQuarantine(s, tmp, schema)
        .agg(
          count(when(col("_corrupt_record").isNull, 1)).as("n_valid"),
          count(col("_corrupt_record")).as("n_quarantined"),
          sum(when(col("_corrupt_record").isNull, col("event_id"))).as("id_sum"))
    }),

    // CSV source breadth: write a CSV copy, read it back through the
    // schema-declared reader (no inference — SURVEY §1.1), prove the
    // values round-trip (Spark writes shortest-repr doubles, so even the
    // float column survives text exactly).
    "op_csv_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val tmp = stagingDir("csv-copy", dir)
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_millis(col("ts")).as("ts_ms"))
        .write.mode("overwrite").option("header", "true").csv(tmp)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("ts_ms", LongType)))
      Ingest.readCsv(s, tmp, schema)
        .orderBy("event_id")
    }),

    // ORC source breadth: write an ORC copy (timestamps survive natively
    // — no epoch conversion needed, unlike the CSV text roundtrip), read
    // it back schema-enforced, prove values round-trip bit-for-bit.
    // Plain-text source round trip: write the corpus as line files, read
    // back with the native text source — the rawest crawl-delivery format.
    "op_text_source" -> ((s, dir) => {
      val tmp = stagingDir("textsrc", dir)
      Ingest.textRoundTrip(T(s, dir, "documents"), tmp)
        .select(col("value").as("text")).orderBy("text")
    }),

    // Whole-file binary source: the same text parts read as raw
    // (path, length, content BINARY) files — the multimodal ingestion
    // shape — then decoded and re-split, proving content fidelity.
    "op_binary_source" -> ((s, dir) => {
      val tmp = stagingDir("binsrc", dir)
      T(s, dir, "documents").select(col("text"))
        .write.mode("overwrite").text(tmp)
      Ingest.binaryFileLines(s, tmp).orderBy("text")
    }),

    "op_orc_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val tmp = stagingDir("orc-copy", dir)
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"))
        .write.mode("overwrite").orc(tmp)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("ts", TimestampType)))
      Ingest.readOrc(s, tmp, Some(schema))
        .orderBy("event_id")
    }),

    // Bucketed co-located join (Catalog.materializeBucketed): both sides
    // land pre-hashed and pre-sorted on the join key, so the sort-merge
    // join AND the follow-up aggregation on the same key run with ZERO
    // shuffle exchanges (plan-asserted in PipelineSpec) — the warehouse
    // answer to repeated large-fact joins. Oracle = the plain join.
    // Deliberately a WRITE+read benchmark (the rewrite each run is the
    // point); the fixed table names live in the session catalog, and the
    // harness gives every session its own temp warehouse dir, so
    // concurrent driver runs don't collide.
    "op_bucketed_join" -> ((s, dir) => {
      val l = T(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      val o = T(s, dir, "orders").select("o_orderkey", "o_custkey")
      etl.Catalog.materializeBucketed(l, "graft_bj_lineitem", Seq("l_orderkey"), 8)
      etl.Catalog.materializeBucketed(o, "graft_bj_orders", Seq("o_orderkey"), 8)
      val lb = s.table("graft_bj_lineitem")
      val ob = s.table("graft_bj_orders")
      lb.join(ob.hint("merge"), lb("l_orderkey") === ob("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_li"),
          sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
        .orderBy("l_orderkey")
    }),

    // Z-order layout: Morton key over (l_partkey, l_suppkey) + range
    // repartition + partition-local sort. The verified output is the
    // key and the resulting total order — the bit-interleave is mirrored
    // exactly in the oracle's shift/and/or SQL.
    // Pre-write partition audit: rows/files/skew per (day, type)
    // partition at 1000 rows/file — catches both the giant-partition
    // and the tiny-file failure modes before the write.
    "layout_partition_plan" -> ((s, dir) =>
      Layout.partitionPlan(T(s, dir, "events"),
        Seq(to_date(col("ts")).as("p_date"), col("event_type")), 1000L)
        .orderBy("p_date", "event_type")),

    "layout_zorder" -> ((s, dir) =>
      Layout.zorderLayout(
          T(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
          "l_partkey", "l_suppkey", bits = 16)
        .withColumn("zkey", Layout.zorderKey2(col("l_partkey"), col("l_suppkey"), 16))
        .orderBy("zkey", "l_orderkey", "l_linenumber")),

    // Three-dimension Z-order (part × supplier × line number): the
    // layout pass real tables need — 3-4 clustering dims — with 20 bits
    // per column (3·20 = 60 ≤ 62). Same verified surface as
    // layout_zorder: the key and the total order it induces.
    "layout_zorder3" -> ((s, dir) =>
      Layout.zorderLayoutN(
          T(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
          Seq("l_partkey", "l_suppkey", "l_linenumber"), bits = 20)
        .withColumn("zkey", Layout.zorderKeyN(
          Seq(col("l_partkey"), col("l_suppkey"), col("l_linenumber")), 20))
        .orderBy("zkey", "l_orderkey", "l_linenumber")),

    // Zone-map skip estimator: the same point probes against the
    // insertion-order layout and a user-clustered re-sort — the
    // before/after numbers that justify the re-sort.
    "layout_skipping" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val probes = Seq(7L, 42L, 120L)
      Layout.skippingEstimate(ev, Seq(col("ts"), col("event_id")),
          "user_id", probes, 500L, "by_time")
        .unionByName(Layout.skippingEstimate(ev,
          Seq(col("user_id"), col("event_id")),
          "user_id", probes, 500L, "by_user"))
        .orderBy("layout", "probe")
    }),

    // Two-phase salted aggregation over the known-skewed event_type key
    // (Skew.saltedCount): hot keys spread across 16 reducers in the
    // partial phase, then the tiny partials collapse. Result — and the
    // oracle — is exactly the plain GROUP BY count.
    "q_skew_salted" -> ((s, dir) =>
      Skew.saltedCount(T(s, dir, "events"), Seq("event_type"), 16, Seq("event_id"))
        .orderBy("event_type")),

    // Frame sampling fan-out: one "video" payload → k evenly spaced byte
    // windows (narrow flatMap, payloads never shuffle). The oracle
    // recomputes the window offsets and the k-per-asset fan-out; the FNV
    // frame checksum needs mod-2^64 wrap (not ANSI) and stays spec-covered.
    "mm_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(s,
          Multimodal.assetsFrom(T(s, dir, "documents"), "doc_id", "text", "video"), 4)
        .toDF()
        .select(col("asset_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("offset").cast("long").as("offset"))
        .orderBy("asset_id", "frame_idx")),

    // Skew-spread equi-join (Skew.saltedJoin): the big skewed side is
    // content-salted, the small side replicated, joined on (key, salt) —
    // result is exactly the plain join, which is the oracle.
    "q_skew_salted_join" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val dim = e.select(col("event_type")).distinct()
        .select(col("event_type"), upper(col("event_type")).as("type_name"))
      Skew.saltedJoin(e, dim, "event_type", 16, Seq("event_id"))
        .select("event_id", "event_type", "type_name")
        .orderBy("event_id")
    }),

    // ---- incremental warehouse merge (etl/Merge) ----

    // Latest-wins upsert, run INCREMENTALLY: initial load of the
    // pre-cutoff batch into an empty target, then merge of the
    // post-cutoff delta on top. The oracle computes the ONE-SHOT form
    // (latest row per user over all of events), so the hash-match proves
    // the incremental path is byte-equivalent to the batch path — the
    // soundness contract of incremental loading. One shuffle per merge,
    // key-partitioned window, no global sort.
    "merge_upsert" -> ((s, dir) => {
      val e = T(s, dir, "events").select("user_id", "ts", "event_id", "value")
      val cutoff = lit("2024-01-20").cast("timestamp")
      val initial = Merge.upsert(e.limit(0), e.filter(col("ts") < cutoff),
        Seq("user_id"), Seq("ts", "event_id"))
      Merge.upsert(initial, e.filter(col("ts") >= cutoff),
          Seq("user_id"), Seq("ts", "event_id"))
        .orderBy("user_id")
    }),

    // CDC apply with tombstones: event_type='error' rows act as deletes.
    // Same incremental-vs-one-shot proof shape as merge_upsert: replaying
    // the change stream in two batches must equal replaying it at once
    // (the oracle), including keys whose final change is a delete.
    "merge_cdc" -> ((s, dir) => {
      val changes = T(s, dir, "events").select(
        col("user_id"), col("ts"), col("event_id"), col("value"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"))
      val cutoff = lit("2024-01-20").cast("timestamp")
      val state1 = Merge.applyChanges(changes.drop("op").limit(0),
        changes.filter(col("ts") < cutoff),
        Seq("user_id"), Seq("ts", "event_id"), "op", "D")
      Merge.applyChanges(state1, changes.filter(col("ts") >= cutoff),
          Seq("user_id"), Seq("ts", "event_id"), "op", "D")
        .orderBy("user_id")
    }),

    // SCD Type 2 history: each user's event_type change stream collapsed
    // into versioned validity intervals (runs of equal states merge).
    // is_current goes out as 0/1 BIGINT — engine-portable, unlike bools.
    "merge_scd2" -> ((s, dir) =>
      Merge.scdType2(T(s, dir, "events"), Seq("user_id"), "ts", "event_id",
          "event_type")
        .withColumn("is_current", col("is_current").cast("long"))
        .orderBy("user_id", "version")),

    // ---- streaming surface (batch-unified bodies) ----

    "stream_tumbling" -> ((s, dir) =>
      StreamingJobs.windowedCounts(T(s, dir, "events"), "1 hour")
        .orderBy("window_start", "event_type")),

    // Top-3 event types per tumbling hour — the rolling leaderboard;
    // rank is window-partitioned, never global.
    "stream_topk" -> ((s, dir) =>
      StreamingJobs.windowedTopK(T(s, dir, "events"), "1 hour", 3)
        .orderBy("window_start", "rnk")),

    // Watermark-bounded stream dedup, batch-unified: distinct
    // (user_id, event_type) keys (key-only projection keeps the
    // batch-side survivor choice deterministic for the oracle).
    "stream_dedup" -> ((s, dir) =>
      StreamingJobs.dedupStream(
          T(s, dir, "events").select("user_id", "event_type", "ts"),
          Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"))
        .orderBy("user_id", "event_type")),

    "stream_sliding" -> ((s, dir) =>
      StreamingJobs.slidingRates(T(s, dir, "events"))
        .orderBy("window_start")),

    // Sessionization via native session_window (strict >gap starts a new
    // session — adjacent windows merge; see StreamingSpec).
    "stream_session" -> ((s, dir) =>
      StreamingJobs.sessionize(T(s, dir, "events"), "30 minutes")
        .orderBy("user_id", "session_start")),

    // Streaming incremental near-dup admission, batch-unified: two
    // arrival waves (doc_id%5=0, then %5=1) gate against a standing
    // corpus (%5>=2) via Dedup.admitWave — wave 2's corpus includes
    // wave 1's ADMITTED docs, so the oracle proves the stateful chain,
    // not just one admission round. The foreachBatch wiring (corpus
    // state + MinHash register fold per batch) runs in StreamingSpec
    // with stream ≡ sequential-wave parity.
    "stream_dedup_incr" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val (v1, corpus1) = Dedup.admitWave(
        docs.filter(col("doc_id") % 5 >= 2),
        docs.filter(col("doc_id") % 5 === 0), 3, 0.5)
      val (v2, _) = Dedup.admitWave(corpus1,
        docs.filter(col("doc_id") % 5 === 1), 3, 0.5)
      v1.withColumn("wave", lit(1L)).unionByName(v2.withColumn("wave", lit(2L)))
        .select("wave", "doc_id", "n_corpus_dups", "n_batch_dups", "verdict")
        .orderBy("wave", "doc_id")
    }),

    // Declarative data-quality audit across the TPC-H-ish schema: one
    // composed job of not-null / uniqueness / referential checks. The
    // lineitem uniqueness check fires on real duplicates in the data.
    "q_dq_audit" -> ((s, dir) => {
      val orders = T(s, dir, "orders")
      val customer = T(s, dir, "customer")
      val lineitem = T(s, dir, "lineitem")
      val events = T(s, dir, "events")
      operators.DataQuality.audit(
        notNull = Seq(
          ("nn_orders_custkey", orders, "o_custkey"),
          ("nn_orders_orderdate", orders, "o_orderdate"),
          ("nn_events_value", events, "value")),
        unique = Seq(
          ("uq_orders_orderkey", orders, Seq("o_orderkey")),
          ("uq_lineitem_line", lineitem, Seq("l_orderkey", "l_linenumber"))),
        refs = Seq(
          ("fk_orders_customer", orders, "o_custkey", customer, "c_custkey"),
          ("fk_lineitem_orders", lineitem, "l_orderkey", orders, "o_orderkey")))
        .orderBy("check")
    }),

    // Order-independent table fingerprint: one number that any engine
    // (or replica) reproduces with one scan — the cross-system
    // consistency check of a warehouse migration. Components: both ids,
    // epoch-micros, and the native string hash of the type column.
    "q_checksum" -> ((s, dir) => {
      val e = T(s, dir, "events")
      operators.DataQuality.tableChecksum(e, Seq(
        col("event_id"), col("user_id"), unix_micros(col("ts")),
        call_function("graft_strhash", col("event_type"))))
    }),

    // The LLM-pipeline flagship: scrub → quality gate → exact dedup →
    // split → per-split packing, all composed from the verified
    // operators — one row per surviving doc with split and sequence id.
    "pipeline_docs_e2e" -> ((s, dir) =>
      operators.DocPipeline.prepare(T(s, dir, "documents"))
        .orderBy("doc_id")),

    // The ML face of the same chain: gate → dedup → leak-free split →
    // NB trained on the train shard, evaluated on the test shard — a
    // real generalization number over pipeline-curated data, checked as
    // one CTE-chain oracle (cross-stage contract drift shows as a
    // recall shift no solo oracle can see).
    "pipeline_ml_e2e" -> ((s, dir) =>
      operators.DocPipeline.prepareAndEval(T(s, dir, "documents"))
        .orderBy("label")),

    // The LLM-PRETRAINING flagship (north-star counterpart of
    // op17_pipeline_e2e): near-dup cluster dedup (the shared
    // star-contraction label frame) → 4-gram eval-set decontamination
    // (eval = src0/src1; trigrams would wipe 404/428 of the synthetic
    // corpus — 4-grams drop a meaningful ~70 docs and leave a real
    // training set) → Pile/Dolma-style mixture sampling (w(srcK)=K%4+1
    // over the 18 train sources, 10k-token budget → per-source rates
    // strictly inside (0,1), so the hash-threshold rule is genuinely
    // exercised) → per-lang sequence packing. Every stage is an
    // independently-green operator; this row proves the handoffs —
    // schemas and end-to-end determinism across five stage boundaries.
    "pipeline_llm_e2e" -> ((s, dir) =>
      operators.DocPipeline.prepareLlm(T(s, dir, "documents"),
          docClusters(s, dir), Seq("src0", "src1"),
          (2 until 20).map(k => s"src$k" -> (k % 4 + 1).toDouble).toMap,
          10000L)
        .orderBy("doc_id")),

    // Key-candidate profile of the orders table: uniqueness + value
    // entropy per column — true key / category / near-constant triage.
    "dq_key_entropy" -> ((s, dir) =>
      operators.DataQuality.keyEntropy(T(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus"))
        .orderBy("column")),

    // Stream-stream interval join (batch-unified body): views within
    // 6 hours after each click, per user. On streams both sides get
    // watermarks and the range bound GCs the join state (StreamingSpec
    // drives that path on MemoryStreams).
    "stream_interval_join" -> ((s, dir) => {
      val e = T(s, dir, "events")
      StreamingJobs.intervalJoin(
          e.filter(col("event_type") === "click"),
          e.filter(col("event_type") === "view"), "6 hours")
        .select(col("user_id"), col("l_id").as("click_id"),
          col("r_id").as("view_id"))
        .orderBy("user_id", "click_id", "view_id")
    }),

    // Stream-static enrichment (batch-unified body): facts keep flowing
    // even when the dimension has no row — left-outer broadcast join,
    // zero streaming state.
    "stream_enrich" -> ((s, dir) => {
      val e = T(s, dir, "events")
        .select(col("event_id"), col("user_id").as("c_custkey"))
      val dim = T(s, dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
      StreamingJobs.enrich(e, dim, Seq("c_custkey"))
        .select(col("event_id"), col("c_custkey").as("user_id"),
          col("c_name"), col("c_mktsegment"))
        .orderBy("event_id")
    }),

    // Arbitrary-state surface under the oracle gate: the SAME
    // mapGroupsWithState body the streaming job runs, executed on batch
    // events. value is pre-quantized to floor(value·10⁴) — an
    // integer-valued double — so the state fold's running sum is exact
    // and associative (< 2⁵³), and the oracle's unordered SUM matches the
    // fold's ordered sum bit-for-bit; last_type is deterministic because
    // the fold is (ts, value, type)-ordered.
    "stream_profiles" -> ((s, dir) => {
      val e = T(s, dir, "events").select(col("user_id"), col("event_type"),
        floor(col("value") * 10000).cast("double").as("value"), col("ts"))
      StatefulJobs.userProfiles(s, e).toDF().orderBy("user_id")
    }),

    // flatMapGroupsWithState sessionizer on batch input: with no
    // watermark to close gaps, the batch semantics are one whole-input
    // session per key — first/last event-time in epoch millis plus the
    // event count, all order-independent aggregates.
    "stream_closed_sessions" -> ((s, dir) => {
      val e = T(s, dir, "events")
      StatefulJobs.closedSessions(s, e).toDF().orderBy("user_id")
    }),

    // ---- round 7: warehouse ops + pipeline breadth ----

    // Incremental aggregate maintenance: orders split at a date cutoff
    // into base + delta, partial (DECIMAL-sum, count) states merged and
    // finalized — the oracle recomputes from scratch, so the hash match
    // PROVES merge-of-states == one-shot aggregation cross-engine.
    "op_incr_agg" -> ((s, dir) => {
      val orders = T(s, dir, "orders")
      val cutoff = lit("1997-01-01").cast("timestamp")
      val base = Merge.aggState(
        orders.filter(col("o_orderdate") < cutoff), Seq("o_custkey"), "o_totalprice")
      val delta = Merge.aggState(
        orders.filter(col("o_orderdate") >= cutoff), Seq("o_custkey"), "o_totalprice")
      Merge.finalizeAggState(Merge.mergeAggStates(Seq("o_custkey"), base, delta))
        .select(col("o_custkey"), col("total"), col("cnt"),
          Fns.q6(col("mean")).as("mean"))
        .orderBy("o_custkey")
    }),

    // Explicit GROUPING SETS (the rollup/cube generalization with a
    // hand-picked level list — here: pair, first key alone, grand total).
    "q_grouping_sets" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // Snapshot diff: old/new built deterministically from orders (key-mod
    // deletes, inserts, +100.00 price and priority rewrites), classified
    // by one full outer join. changed_cols flattens to a CSV string at
    // the edge (arrays don't survive the cross-engine dump compare).
    "q_table_diff" -> ((s, dir) => {
      val src = T(s, dir, "orders").filter(col("o_orderkey") < 7000)
      val oldSnap = src.filter(col("o_orderkey") % 7 =!= 3)
      val newSnap = src.filter(col("o_orderkey") % 11 =!= 4)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 100.0)
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 10 === 0, lit("RUSH"))
            .otherwise(col("o_orderpriority")))
      operators.Snapshot.diff(oldSnap, newSnap, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("change_type"),
          array_join(col("changed_cols"), ",").as("changed_cols"))
        .orderBy("o_orderkey")
    }),

    // Eval-set n-gram decontamination (the 13-gram-collision rule shape,
    // trigrams here so the synthetic corpus actually collides): any train
    // doc sharing >= 1 n-gram with the eval sources is flagged.
    "text_decontaminate" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val evalSrc = col("source").isin("src0", "src1")
      Dedup.decontaminateNgram(docs.filter(!evalSrc), docs.filter(evalSrc), 3)
        .orderBy("doc_id")
    }),

    // Dynamic partition pruning: the fact is partitioned on the join key,
    // the filter lives on the DIM side only — static pruning can't fire,
    // so the scan's partition list must come from the broadcast result at
    // RUNTIME (plan-asserted in SnapshotSpec). THE mechanism that keeps a
    // selective dim-filtered star join from scanning all 100 TB of fact.
    "op_dpp" -> ((s, dir) => {
      val tmp = stagingDir("dpp-events", dir)
      val e = T(s, dir, "events")
      e.select("event_id", "user_id", "event_type")
        .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
      val dim = e.select("event_type").distinct()
        .withColumn("type_class",
          when(col("event_type").isin("click", "view"), lit("engagement"))
            .otherwise(lit("other")))
      s.read.parquet(tmp)
        .join(broadcast(dim.filter(col("type_class") === "engagement")), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), count_distinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),

    // Small-file compaction, content-preservation proven by the
    // order-independent checksum (the rewrite is free to rebalance rows):
    // 48 tiny files in, byte-sized file count out, same n_rows+checksum
    // as reading the SOURCE table directly — which is what the oracle
    // computes without ever seeing the staging dirs.
    "op_compact" -> ((s, dir) => {
      val base = stagingDir("compact", dir)
      T(s, dir, "documents").repartition(48)
        .write.mode("overwrite").parquet(s"$base/in")
      val compacted = operators.Snapshot.compact(s, s"$base/in", s"$base/out")
      operators.DataQuality.tableChecksum(compacted, Seq(
        col("doc_id"), call_function("graft_strhash", col("text"))))
    })
  )

  /** Shared oracle fragment: per-document whitespace tokens. */
  private[graft] val docToks =
    "SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents"

  /** Shared langId oracle pieces: per-language marker-count SELECT list
    * and the priority-argmax CASE — the exact mirror of
    * TextAnalysis.langId, used by text_langid and text_langid_eval.
    */
  private def langidScoreAndCase: (String, String) = {
    val scores = TextAnalysis.langMarkers.map { case (lang, m) =>
      val markers = m.map(w => s"'$w'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(toks, t -> list_contains($markers, t))) AS BIGINT) AS s_$lang"
    }.mkString(",\n  ")
    val langs = TextAnalysis.langMarkers.map(_._1)
    val cases = langs.zipWithIndex.map { case (lang, i) =>
      val earlier = langs.take(i).map(l => s"s_$lang > s_$l")
      val later = langs.drop(i + 1).map(l => s"s_$lang >= s_$l")
      val conds = (earlier ++ later :+ s"s_$lang > 0").mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString("\n    ")
    (scores, cases)
  }

  private val stopwordList =
    TextAnalysis.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Shared oracle fragment: embeddings as DOUBLE lists. */
  private[graft] val embCte =
    "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings"

  /** Shared nearest-seed assignment CTE chain — mirrors
    * `Similarity.assignToSeeds` with `k` lowest-id seeds: defines
    * relations `e` (vec_id, v), `f` (flattened), and `a` (vec_id, cid).
    * Used by the kmeans / SemDeDup / hard-negative oracles.
    */
  private[graft] def assignCtes(k: Int): String =
    s"""e AS ($embCte),
       |f AS (SELECT vec_id, CAST(generate_subscripts(v, 1) AS BIGINT) AS dim,
       |        unnest(v) AS x FROM e),
       |seeds AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT $k),
       |c AS (SELECT f.vec_id AS cid, f.dim, f.x AS cx
       |      FROM f JOIN seeds USING (vec_id)),
       |d AS (SELECT f.vec_id, c.cid,
       |        sum(CAST(round((f.x - c.cx) * (f.x - c.cx), 6)
       |          AS DECIMAL(18,6))) AS d2
       |      FROM f JOIN c USING (dim) GROUP BY 1, 2),
       |a AS (SELECT vec_id, cid FROM
       |        (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |           ORDER BY d2, cid) AS rn FROM d)
       |      WHERE rn = 1)""".stripMargin

  /** Multinomial-NB model + per-doc argmax prediction CTE chain
    * (documents self-train, +1 smoothing, 6-dp score quantization,
    * ties to the smaller label) — shared by the ml_nb_accuracy /
    * ml_confusion / ml_class_report oracles, all of which consume the
    * final `pred(doc_id, pred)` relation.
    */
  private val nbPredCtes: String =
    """WITH t AS (SELECT doc_id, lang AS y,
      |        unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |          AS term FROM documents),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |      FROM t GROUP BY 1, 2),
      |ct AS (SELECT y AS l, term, CAST(count(*) AS BIGINT) AS c
      |      FROM t GROUP BY 1, 2),
      |ctot AS (SELECT l, CAST(sum(c) AS BIGINT) AS nl FROM ct GROUP BY 1),
      |voc AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM tf),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
      |pri AS (SELECT lang AS l, CAST(count(*) AS BIGINT) AS dl
      |      FROM documents GROUP BY 1),
      |langs AS (SELECT pri.l, ctot.nl, voc.v,
      |        round(ln(CAST(dl AS DOUBLE) / CAST(nd.nd AS DOUBLE)), 6)
      |          AS lprior
      |      FROM pri CROSS JOIN nd CROSS JOIN voc
      |      JOIN ctot ON ctot.l = pri.l),
      |tll AS (SELECT tf.doc_id, langs.l, langs.lprior,
      |        round(CAST(tf AS DOUBLE) *
      |          ln(CAST(coalesce(ct.c, 0) + 1 AS DOUBLE) /
      |            CAST(langs.nl + langs.v AS DOUBLE)), 6) AS ll
      |      FROM tf CROSS JOIN langs
      |      LEFT JOIN ct ON ct.l = langs.l AND ct.term = tf.term),
      |sc AS (SELECT doc_id, l,
      |        round(CAST(sum(CAST(ll AS DECIMAL(28,6))) AS DOUBLE)
      |          + lprior, 6) AS score
      |      FROM tll GROUP BY doc_id, l, lprior),
      |pred AS (SELECT doc_id, l AS pred FROM (
      |      SELECT doc_id, l, row_number() OVER (PARTITION BY doc_id
      |        ORDER BY score DESC, l) AS rn FROM sc) WHERE rn = 1)""".stripMargin

  /** Train/test-SPLIT variant of [[nbPredCtes]] with prefixed CTE names
    * — one instantiation per learning-curve training fraction. Unlike
    * the self-train chain (where train = test collapses the
    * distinction), vocabulary, class totals and priors here all come
    * from the TRAIN side, mirroring `ML.naiveBayesPredict` exactly.
    * Emits `<p>row(train_frac, n_train, n_test, n_correct, accuracy)`.
    */
  private def nbSplitRow(p: String, frac: String, trainWhere: String,
                         testWhere: String): String =
    s"""${p}tr AS (SELECT doc_id, lang AS y,
       |        unnest(list_filter(string_split(text, ' '), x -> x <> ''))
       |          AS term FROM documents WHERE $trainWhere),
       |${p}tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |      FROM (SELECT doc_id,
       |          unnest(list_filter(string_split(text, ' '), x -> x <> ''))
       |            AS term FROM documents WHERE $testWhere)
       |      GROUP BY 1, 2),
       |${p}ct AS (SELECT y AS l, term, CAST(count(*) AS BIGINT) AS c
       |      FROM ${p}tr GROUP BY 1, 2),
       |${p}ctot AS (SELECT l, CAST(sum(c) AS BIGINT) AS nl
       |      FROM ${p}ct GROUP BY 1),
       |${p}voc AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v
       |      FROM ${p}ct),
       |${p}nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents
       |      WHERE $trainWhere),
       |${p}pri AS (SELECT lang AS l, CAST(count(*) AS BIGINT) AS dl
       |      FROM documents WHERE $trainWhere GROUP BY 1),
       |${p}langs AS (SELECT ${p}pri.l, ${p}ctot.nl, ${p}voc.v,
       |        round(ln(CAST(dl AS DOUBLE) / CAST(${p}nd.nd AS DOUBLE)), 6)
       |          AS lprior
       |      FROM ${p}pri CROSS JOIN ${p}nd CROSS JOIN ${p}voc
       |      JOIN ${p}ctot ON ${p}ctot.l = ${p}pri.l),
       |${p}tll AS (SELECT ${p}tf.doc_id, ${p}langs.l, ${p}langs.lprior,
       |        round(CAST(tf AS DOUBLE) *
       |          ln(CAST(coalesce(${p}ct.c, 0) + 1 AS DOUBLE) /
       |            CAST(${p}langs.nl + ${p}langs.v AS DOUBLE)), 6) AS ll
       |      FROM ${p}tf CROSS JOIN ${p}langs
       |      LEFT JOIN ${p}ct ON ${p}ct.l = ${p}langs.l
       |        AND ${p}ct.term = ${p}tf.term),
       |${p}sc AS (SELECT doc_id, l,
       |        round(CAST(sum(CAST(ll AS DECIMAL(28,6))) AS DOUBLE)
       |          + lprior, 6) AS score
       |      FROM ${p}tll GROUP BY doc_id, l, lprior),
       |${p}pred AS (SELECT doc_id, l AS pred FROM (
       |      SELECT doc_id, l, row_number() OVER (PARTITION BY doc_id
       |        ORDER BY score DESC, l) AS rn FROM ${p}sc) WHERE rn = 1),
       |${p}row AS (SELECT $frac AS train_frac,
       |        (SELECT CAST(count(*) AS BIGINT) FROM documents
       |          WHERE $trainWhere) AS n_train,
       |        CAST(count(*) AS BIGINT) AS n_test,
       |        CAST(sum(CASE WHEN pred = d.lang THEN 1 ELSE 0 END)
       |          AS BIGINT) AS n_correct,
       |        round((CAST(sum(CASE WHEN pred = d.lang
       |            THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE))
       |          * 1000000) / 1000000 AS accuracy
       |      FROM ${p}pred JOIN documents d USING (doc_id))""".stripMargin

  /** IVF oracle: identical centroid selection (nClusters smallest
    * samplingHash(id)), nearest-centroid corpus assignment, nProbe query
    * probes, bucket join, per-query rank — the full inverted-list
    * pipeline in SQL.
    */
  private val ivfOracle: String =
    s"""WITH e AS ($embCte),
       |cent AS (SELECT vec_id AS centroid_id, v AS centroid FROM e
       |         ORDER BY ${samplingHashSql("vec_id")}, vec_id
       |         LIMIT 16),
       |ca AS (SELECT vec_id, v, centroid_id,
       |              row_number() OVER (PARTITION BY vec_id
       |                ORDER BY list_cosine_similarity(v, centroid) DESC, centroid_id) AS r
       |       FROM e CROSS JOIN cent),
       |corp AS (SELECT vec_id AS neighbor_id, v AS cv, centroid_id FROM ca WHERE r <= 1),
       |qp AS (SELECT vec_id AS query_id, v AS qv, centroid_id FROM ca
       |       WHERE vec_id < 8 AND r <= 4),
       |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
       |      FROM corp JOIN qp USING (centroid_id)
       |      WHERE query_id <> neighbor_id)
       |SELECT query_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
       |  neighbor_id, round(cos, 6) AS cosine
       |FROM s
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** SRP-LSH ANN oracle: the seed-42 hyperplanes are embedded as literal
    * double arrays (java.util.Random's algorithm is pinned by the Java
    * spec and Double.toString round-trips exactly), buckets recomputed
    * per table, candidates = bucket-mates, then exact cosine rank.
    */
  /** Exact all-pairs cosine top-10 for the < 8 query vectors — shared by
    * ann_brute_topk and as the truth side of ann_recall.
    */
  private[graft] val bruteAnnOracle: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qe FROM e WHERE vec_id < 8),
      |s AS (SELECT query_id, c.vec_id AS neighbor_id,
      |             list_cosine_similarity(qe, c.v) AS cos
      |      FROM q, e c WHERE c.vec_id <> query_id)
      |SELECT query_id,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
      |  neighbor_id, round(cos, 6) AS cosine
      |FROM s
      |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** SQL for the exploded SRP bucket table over relation `e` (vec_id, v):
    * one SELECT per hash table with the seed-42 hyperplanes embedded as
    * literal double arrays (java.util.Random's algorithm is pinned by
    * the Java spec and Double.toString round-trips exactly) — mirrors
    * `Similarity.lshBuckets`. Shared by every oracle that reproduces an
    * SRP candidate set (ann_lsh_topk, the self-join kNN graph, the
    * ANN-fed TwoNN).
    */
  private def planeLit(pl: Array[Double]) =
    pl.map(_.toString).mkString("[", ", ", "]")

  private def srpBucketTablesSql(dim: Int, nPlanes: Int, nTables: Int): String = {
    (0 until nTables).map { t =>
      val planes = Similarity.hyperplanes(dim, nPlanes, 42L, t)
      val bucket = (0 until nPlanes).map { h =>
        s"(CASE WHEN list_dot_product(v, ${planeLit(planes(h))}) >= 0 THEN ${1L << h} ELSE 0 END)"
      }.mkString("\n     + ")
      s"SELECT vec_id, v, $t AS tbl, $bucket AS bucket FROM e"
    }.mkString("\nUNION ALL\n")
  }

  private val srpAnnOracle: String = {
    val tables = srpBucketTablesSql(64, 8, 2)
    s"""WITH e AS ($embCte),
       |b AS ($tables),
       |cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |         FROM b c JOIN b q ON c.tbl = q.tbl AND c.bucket = q.bucket
       |         WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id
       |         GROUP BY 1, 2),
       |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qe.v, ce.v) AS cos
       |      FROM cand JOIN e qe ON qe.vec_id = query_id
       |                JOIN e ce ON ce.vec_id = neighbor_id)
       |SELECT query_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
       |  neighbor_id, round(cos, 6) AS cosine
       |FROM s
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Directed all-corpus SRP candidate pairs (the
    * `Similarity.lshSelfCandidates` mirror): relation `cand` (id, nid),
    * multi-table collisions collapsed by the GROUP BY. Shared by the
    * self-kNN-graph and ANN-TwoNN oracles (each at its own recall/cost
    * operating point — see the query comments).
    */
  /** Largest SRP plane count the self-candidate oracles embed hyperplane
    * literals for. The Spark side derives its plane count from the live
    * corpus (`srpAutoPlanes(emb.count())`), so the DuckDB mirror must
    * too — through round 16 it instead pinned the count to the 500-vector
    * correctness fixtures, which made the 4 LSH-family rows fail BY
    * DESIGN on any other corpus size (sf0.1's 2,000 vectors → 6 planes
    * vs the pinned 4; r16 judge item 2). Now the SQL computes
    * `np = min p in [2, 16] with 32·2ᵖ ≥ count(*)` — the integer-domain
    * mirror of [[Similarity.srpAutoPlanes]] — and masks the embedded
    * plane terms to the first np. `hyperplanes` draws row-major from one
    * PRNG stream per table, so the np-plane set IS the prefix of the
    * 16-plane set for every np ≤ 16. 16 planes covers corpora up to
    * 32·2¹⁶ ≈ 2.1M vectors (sf ≈ 1000); beyond that the SQL raises via
    * DuckDB `error()` instead of silently under-bucketing.
    */
  private[graft] val MaxOraclePlanes = 16

  /** Corpus-derived plane count as a 1-row CTE: the all-integer mirror of
    * `srpAutoPlanes(count, target = 32)` (both sides pick the smallest p
    * with 32·2ᵖ ≥ n — no floating log₂ whose power-of-two ties could
    * ceil apart across engines).
    */
  private val srpNpCte: String =
    s"""np AS (SELECT coalesce(
       |  (SELECT min(p) FROM range(2, ${MaxOraclePlanes + 1}) t(p)
       |   WHERE 32 * (1::BIGINT << p) >= (SELECT count(*) FROM embeddings)),
       |  CAST(error('corpus needs > $MaxOraclePlanes SRP planes; extend MaxOraclePlanes') AS INT)) AS np)""".stripMargin

  /** Exploded SRP bucket table with the plane count taken from the `np`
    * CTE at query time: every table embeds all $MaxOraclePlanes seed-42
    * hyperplanes and each plane h contributes its 2ʰ bit only when
    * h < np, so the bucket value equals `Similarity.lshBuckets` run with
    * `srpAutoPlanes(count)` planes at ANY corpus size in the domain.
    */
  private[graft] def srpBucketTablesDynSql(dim: Int, nTables: Int): String =
    (0 until nTables).map { t =>
      val planes = Similarity.hyperplanes(dim, MaxOraclePlanes, 42L, t)
      val bucket = (0 until MaxOraclePlanes).map { h =>
        s"(CASE WHEN $h < np AND list_dot_product(v, ${planeLit(planes(h))}) >= 0 THEN ${1L << h} ELSE 0 END)"
      }.mkString("\n     + ")
      s"SELECT vec_id, v, $t AS tbl, $bucket AS bucket FROM e, np"
    }.mkString("\nUNION ALL\n")

  private[graft] def srpSelfCandCte(nTables: Int): String =
    s"""$srpNpCte,
       |b AS (${srpBucketTablesDynSql(64, nTables)}),
       |cand AS (SELECT q.vec_id AS id, c.vec_id AS nid
       |         FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
       |         WHERE q.vec_id <> c.vec_id
       |         GROUP BY 1, 2)""".stripMargin

  /** Exact mutual-5-NN-graph oracle (shared with the agreement row). */
  private val knnGraphExactOracle: String =
    """WITH e AS (SELECT vec_id,
      |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |      FROM embeddings),
      |s AS (SELECT a.vec_id AS qid, c.vec_id AS nid,
      |        list_cosine_similarity(a.v, c.v) AS cos
      |      FROM e a, e c WHERE a.vec_id <> c.vec_id),
      |k AS (SELECT qid, nid, cos FROM s WHERE cos IS NOT NULL
      |      QUALIFY row_number() OVER (PARTITION BY qid
      |        ORDER BY cos DESC, nid) <= 5)
      |SELECT a.qid AS id_a, a.nid AS id_b, round(a.cos, 6) AS cosine
      |FROM k a JOIN k b ON a.qid = b.nid AND a.nid = b.qid
      |  AND a.qid < a.nid
      |ORDER BY id_a, id_b""".stripMargin

  /** LSH-fed mutual-5-NN-graph oracle: the same mutuality filter over
    * per-vector top-5 among SRP bucket-mates. A zero-norm vector yields
    * NaN from list_cosine_similarity (sorts above everything in DuckDB);
    * Spark's graft_cosine returns NULL there and lshSelfTopK drops it —
    * the isnan guard filters identically.
    */
  private val knnGraphLshOracle: String =
    s"""WITH e AS ($embCte),
       |${srpSelfCandCte(8)},
       |s AS (SELECT cand.id AS qid, cand.nid,
       |        list_cosine_similarity(qe.v, ce.v) AS cos
       |      FROM cand JOIN e qe ON qe.vec_id = cand.id
       |                JOIN e ce ON ce.vec_id = cand.nid),
       |k AS (SELECT qid, nid, cos FROM s
       |      WHERE cos IS NOT NULL AND NOT isnan(cos)
       |      QUALIFY row_number() OVER (PARTITION BY qid
       |        ORDER BY cos DESC, nid) <= 5)
       |SELECT a.qid AS id_a, a.nid AS id_b, round(a.cos, 6) AS cosine
       |FROM k a JOIN k b ON a.qid = b.nid AND a.nid = b.qid
       |  AND a.qid < a.nid
       |ORDER BY id_a, id_b""".stripMargin

  private[graft] def remainingOracleSql: Map[String, String] = Map(

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  (CAST(CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100000000) / 100000000 AS DECIMAL(18,8))) - (SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100000000) / 100000000 AS DECIMAL(18,8))) % 1) AS BIGINT) AS DOUBLE) + CAST(CAST(CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100000000) / 100000000 AS DECIMAL(18,8))) % 1 AS DECIMAL(9,8)) * 100000000 AS BIGINT) AS DOUBLE) / 1e8) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q3_top_orders" ->
      """SELECT l_orderkey, o_orderdate, c_custkey,
        |  (CAST(CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100000000) / 100000000 AS DECIMAL(18,8))) - (SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100000000) / 100000000 AS DECIMAL(18,8))) % 1) AS BIGINT) AS DOUBLE) + CAST(CAST(CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100000000) / 100000000 AS DECIMAL(18,8))) % 1 AS DECIMAL(9,8)) * 100000000 AS BIGINT) AS DOUBLE) / 1e8) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q5_region_volume" ->
      """SELECT n_name,
        |  (CAST(CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount)
        |    * 100000000) / 100000000 AS DECIMAL(18,8))) - (SUM(CAST(round(l_extendedprice * (1.0 - l_discount)
        |    * 100000000) / 100000000 AS DECIMAL(18,8))) % 1) AS BIGINT) AS DOUBLE)
        |    + CAST(CAST(CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount)
        |    * 100000000) / 100000000 AS DECIMAL(18,8))) % 1 AS DECIMAL(9,8)) * 100000000 AS BIGINT) AS DOUBLE) / 1e8) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q18_big_orders" ->
      """WITH big AS (SELECT l_orderkey FROM lineitem GROUP BY 1
        |      HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 300)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |    AS total_qty
        |FROM lineitem
        |JOIN big USING (l_orderkey)
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20""".stripMargin,

    "asof_join" ->
      """SELECT l.event_id, l.user_id, r.value AS signup_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'signup') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY event_id""".stripMargin,

    "asof_join_forward" ->
      """SELECT l.event_id, l.user_id, r.value AS next_purchase
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts <= r.ts
        |ORDER BY event_id""".stripMargin,

    // Mirrors asOfNearest exactly: backward + forward native ASOF, the
    // epoch-long direction pick with prior-wins ties, 48 h tolerance.
    // Backward + forward native ASOF, then the resampleInterpolate
    // interpolation/edge CASE on epoch longs with the shared
    // DECIMAL(24,12)->6dp rounding route.
    "asof_join_interp" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, value FROM events
        |      WHERE event_type = 'purchase'),
        |b AS (SELECT l.event_id, r.value AS pv, r.ts AS pt
        |      FROM l ASOF LEFT JOIN r
        |        ON l.user_id = r.user_id AND l.ts >= r.ts),
        |f AS (SELECT l.event_id, r.value AS nv, r.ts AS nt
        |      FROM l ASOF LEFT JOIN r
        |        ON l.user_id = r.user_id AND l.ts <= r.ts)
        |SELECT l.event_id, l.user_id,
        |  CAST(round((CASE WHEN pv IS NULL THEN nv
        |             WHEN nv IS NULL THEN pv
        |             WHEN epoch_us(nt) = epoch_us(pt) THEN pv
        |             ELSE pv + (nv - pv)
        |                    * CAST(epoch_us(l.ts) - epoch_us(pt) AS DOUBLE)
        |                    / CAST(epoch_us(nt) - epoch_us(pt) AS DOUBLE) END
        |   ) * 1000000) / 1000000 AS DOUBLE) AS purchase_at_click
        |FROM l JOIN b USING (event_id) JOIN f USING (event_id)
        |ORDER BY event_id""".stripMargin,

    "asof_join_nearest" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, value FROM events
        |      WHERE event_type = 'purchase'),
        |b AS (SELECT l.event_id, r.value AS v_b, r.ts AS t_b
        |      FROM l ASOF LEFT JOIN r
        |        ON l.user_id = r.user_id AND l.ts >= r.ts),
        |f AS (SELECT l.event_id, r.value AS v_f, r.ts AS t_f
        |      FROM l ASOF LEFT JOIN r
        |        ON l.user_id = r.user_id AND l.ts <= r.ts)
        |SELECT l.event_id, l.user_id,
        |  CASE WHEN t_f IS NULL OR (t_b IS NOT NULL
        |            AND epoch(l.ts) - epoch(t_b) <= epoch(t_f) - epoch(l.ts))
        |       THEN CASE WHEN epoch(l.ts) - epoch(t_b) <= 172800 THEN v_b END
        |       ELSE CASE WHEN epoch(t_f) - epoch(l.ts) <= 172800 THEN v_f END
        |  END AS near_purchase
        |FROM l JOIN b USING (event_id) JOIN f USING (event_id)
        |ORDER BY event_id""".stripMargin,

    "stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    "q_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,

    "q_except" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase' AND value >= 90
        |ORDER BY user_id""".stripMargin,

    "q_except_all" ->
      """SELECT event_type FROM events WHERE value > 1
        |EXCEPT ALL
        |SELECT event_type FROM events WHERE value > 2
        |ORDER BY event_type""".stripMargin,

    "q_range_join" ->
      """SELECT c.event_id, s.event_id AS signup_id
        |FROM (SELECT event_id, user_id, epoch_ms(ts) AS p FROM events
        |      WHERE event_type = 'click') c
        |JOIN (SELECT event_id, user_id, epoch_ms(ts) AS st,
        |             epoch_ms(ts) + 3600000 AS en FROM events
        |      WHERE event_type = 'signup') s
        |  ON c.user_id = s.user_id AND c.p >= s.st AND c.p <= s.en
        |ORDER BY c.event_id, signup_id""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,

    // The bloom pre-filter admits a superset (false positives only); the
    // exact residual semi-join collapses it back to plain EXISTS.
    "q_bloom_semi_join" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE EXISTS (
        |  SELECT 1 FROM customer
        |  WHERE c_custkey = o_custkey AND c_nationkey = 5)
        |ORDER BY o_orderkey""".stripMargin,

    // Both engines interpolate lower + (upper - lower)·frac at position
    // (n-1)·q; round(…,6) absorbs any last-ulp libm divergence.
    "q_quantiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.95), 6) AS price_p95
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_anti_join" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey
        |    AND l_shipdate >= TIMESTAMP '2001-06-01 00:00:00')
        |ORDER BY p_partkey""".stripMargin,

    "q_union" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |UNION
        |SELECT user_id FROM events WHERE event_type = 'view'
        |ORDER BY user_id""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_topn_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,

    "q_window_running" ->
      """SELECT event_id, user_id,
        |  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS running_n,
        |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |FROM events ORDER BY event_id""".stripMargin,

    // RANGE frame over epoch-micros (numeric order key in both engines,
    // so the interval arithmetic is exact integer comparison).
    "q_window_range" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_last_hour,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |    AS sum_last_hour
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_ntile" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  ntile(4) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS quartile
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_moving_avg" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value
        |           FROM events)
        |SELECT event_id, user_id,
        |  count(*) OVER w AS n_win,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |    / count(*) OVER w AS avg_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
        |             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_winsorize" ->
      """WITH p AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY 1)
        |SELECT event_id, e.event_type,
        |  round(greatest(lo, least(hi, value)), 6) AS v_clamped
        |FROM events e JOIN p ON e.event_type = p.event_type
        |ORDER BY event_id""".stripMargin,

    "op01_json_positional" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "op02_json_auto" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "op03_04_catalog" ->
      """SELECT * FROM (VALUES
        |  ('artists', CAST(5 AS BIGINT)), ('songplays', 9), ('songs', 5),
        |  ('staging_events', 18), ('staging_songs', 10), ('time', 7),
        |  ('users', 5)) t(table_name, n_cols)
        |ORDER BY table_name""".stripMargin,

    "op05_insert_append" ->
      "SELECT CAST(2 * count(DISTINCT ts) AS BIGINT) AS n FROM events",

    // Closed forms of the five star-table cardinalities under the op17
    // staging mapping: every event matches exactly one song row on the
    // (song=title, artist=artist_name[, length=duration]) keys.
    "op17_pipeline_e2e" ->
      """SELECT 'artists' AS table_name, CAST(count(*) AS BIGINT) AS n FROM events
        |UNION ALL SELECT 'songplays', count(*) FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'songs', count(DISTINCT event_type) FROM events
        |UNION ALL SELECT 'time', count(DISTINCT ts) FROM events
        |UNION ALL SELECT 'users', count(*) FROM events
        |ORDER BY table_name""".stripMargin,

    "op06_join3" ->
      """WITH dim AS (SELECT l_partkey AS d_partkey, l_suppkey AS d_suppkey,
        |                    min(l_extendedprice) AS min_price
        |             FROM lineitem GROUP BY 1, 2)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey, l.l_extendedprice
        |FROM lineitem l JOIN dim
        |  ON l.l_partkey = d_partkey AND l.l_suppkey = d_suppkey
        | AND l.l_extendedprice = min_price
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice""".stripMargin,

    "op07_filter" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin,

    "op08_project" ->
      """SELECT l_orderkey AS order_id, l_linenumber AS line_no, l_quantity AS qty,
        |  l_extendedprice * (1.0 - l_discount) AS net_price
        |FROM lineitem ORDER BY order_id, line_no, qty, net_price""".stripMargin,

    "op09_users_verbatim" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin,

    "op09_dedup_latest" ->
      """SELECT user_id, event_id, event_type FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,

    "op10_nullif" ->
      """SELECT p_partkey, p_name, CASE WHEN p_size <> 1 THEN p_size END AS p_size_n
        |FROM part ORDER BY p_partkey""".stripMargin,

    "op11_join2" ->
      """WITH d AS (SELECT l_partkey, l_suppkey, count(*) AS n_li
        |           FROM lineitem GROUP BY 1, 2)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey, d.n_li
        |FROM lineitem l JOIN d USING (l_partkey, l_suppkey)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,

    "op12_distinct" ->
      "SELECT DISTINCT ts AS start_time FROM events ORDER BY start_time",

    "op13_timedim" ->
      """SELECT ts AS start_time,
        |  EXTRACT(hour FROM ts) AS hour, EXTRACT(day FROM ts) AS day,
        |  weekofyear(ts) AS week, EXTRACT(month FROM ts) AS month,
        |  EXTRACT(year FROM ts) AS year, dayofweek(ts) AS weekday
        |FROM (SELECT DISTINCT ts FROM events) ORDER BY start_time""".stripMargin,

    "op14_epoch_ms" ->
      """SELECT event_id, epoch_ms(epoch_ms(ts)) AS ts_ms
        |FROM events ORDER BY event_id""".stripMargin,

    "op15_surrogate" ->
      """SELECT event_id, event_type,
        |  CAST(row_number() OVER (ORDER BY event_id) AS BIGINT) AS sk
        |FROM events ORDER BY event_id""".stripMargin,

    "op16_typed_cast" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
        |  CAST(l_quantity AS BIGINT) AS qty_int, l_returnflag
        |FROM lineitem
        |WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
        |ORDER BY l_orderkey, line_no, qty_int, l_returnflag""".stripMargin,

    // Each component mirrors the Scala side exactly: non-negative pmod
    // ((x % p) + p) % p, then NULL -> sentinel p-1. DuckDB's % keeps the
    // dividend's sign, so the +p fold is required for negative values.
    "q_checksum" ->
      """WITH h AS (
        |  SELECT coalesce(((event_id % 2147483647) + 2147483647) % 2147483647,
        |           2147483646) AS p1,
        |    coalesce(((user_id % 2147483647) + 2147483647) % 2147483647,
        |      2147483646) AS p2,
        |    coalesce(((epoch_us(ts) % 2147483647) + 2147483647) % 2147483647,
        |      2147483646) AS p3,
        |    coalesce(((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(length(event_type)),
        |        i -> ascii(substr(event_type, CAST(i + 1 AS INT), 1)))),
        |      (acc, c) -> (acc * 131 + c) % 2147483647)
        |      % 2147483647) + 2147483647) % 2147483647, 2147483646) AS p4
        |  FROM events),
        |m AS (SELECT ((((((p1 * 131 + p2) % 2147483647) * 131 + p3)
        |        % 2147483647) * 131 + p4) % 2147483647) AS mix FROM h)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(mix) % 2147483647 AS BIGINT) AS checksum
        |FROM m""".stripMargin,

    // n_shingles == count of DISTINCT trigrams (hash-set cardinality);
    // signature length is the constant numPerms.
    "q_sql_native_fns" ->
      s"""$trigramCtes
         |SELECT d.doc_id, CAST(coalesce(s.n, 0) AS BIGINT) AS n_shingles,
         |       CASE WHEN s.n IS NULL THEN NULL ELSE 32 END AS sig_len
         |FROM documents d
         |LEFT JOIN (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1) s
         |  ON d.doc_id = s.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q_column_profile" ->
      """SELECT * FROM (
        |  SELECT 'event_type' AS col_name, count(*) AS n_rows,
        |    count(event_type) AS n_non_null,
        |    count(DISTINCT event_type) AS n_distinct FROM events
        |  UNION ALL
        |  SELECT 'user_id', count(*), count(user_id),
        |    count(DISTINCT user_id) FROM events
        |  UNION ALL
        |  SELECT 'value', count(*), count(value),
        |    count(DISTINCT value) FROM events)
        |ORDER BY col_name""".stripMargin,

    "q_profile_stats" ->
      """SELECT event_type, count(*) AS n,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95,
        |  round(min(value), 6) AS v_min,
        |  round(max(value), 6) AS v_max,
        |  round(stddev_samp(value), 6) AS v_std
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_histogram" ->
      """SELECT CASE WHEN value < 0 THEN 0 WHEN value >= 100 THEN 11
        |            ELSE CAST(floor(value / 10) AS BIGINT) + 1 END AS bucket,
        |       count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_scrub" ->
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(text, '${TextAnalysis.urlPattern}', '<URL>', 'g'),
         |    '${TextAnalysis.emailPattern}', '<EMAIL>', 'g') AS text_scrubbed
         |FROM documents ORDER BY doc_id""".stripMargin,

    // chunkLen 40, step 30; the k bound (range 0..63) is generous for the
    // corpus' ≤100-token docs and the WHERE re-derives the exact count
    // (kMax = ceil((n − 40)/30), min 0 — no pure-suffix trailing chunk).
    "text_chunk" ->
      s"""WITH base AS ($docToks),
         |nz AS (SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) > 0)
         |SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
         |  array_to_string(toks[k * 30 + 1 : k * 30 + 40], ' ') AS chunk_text
         |FROM nz CROSS JOIN range(0, 64) t(k)
         |WHERE k <= greatest(CAST(ceil((n - 40) / 30.0) AS BIGINT), 0)
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    "ann_ivf_topk" -> ivfOracle,

    "ann_lsh_topk" -> srpAnnOracle,

    "ann_brute_topk" -> bruteAnnOracle,

    // Mutual 5-NN graph: exact brute k-NN per vector, then the pair
    // survives only when membership is mutual (a < b).
    "ann_knn_graph" -> knnGraphExactOracle,

    // LSH-fed mutual 5-NN graph: identical mutuality filter, SRP
    // bucket-mate candidates instead of all pairs.
    "ann_knn_graph_lsh" -> knnGraphLshOracle,

    // Edge-overlap agreement of the LSH graph vs the brute graph: three
    // scalar counts over the two committed graph oracles.
    "ann_knn_graph_agree" ->
      s"""WITH ex AS (SELECT id_a, id_b FROM ($knnGraphExactOracle)),
         |an AS (SELECT id_a, id_b FROM ($knnGraphLshOracle))
         |SELECT
         |  (SELECT count(*) FROM ex) AS n_exact_edges,
         |  (SELECT count(*) FROM an) AS n_ann_edges,
         |  (SELECT count(*) FROM ex JOIN an USING (id_a, id_b))
         |    AS n_common,
         |  round((CAST((SELECT count(*) FROM ex JOIN an USING (id_a, id_b))
         |      AS DOUBLE)
         |    / nullif(CAST((SELECT count(*) FROM ex) AS DOUBLE), 0.0)) * 1000000) / 1000000
         |    AS edge_recall,
         |  round((CAST((SELECT count(*) FROM ex JOIN an USING (id_a, id_b))
         |      AS DOUBLE)
         |    / nullif(CAST((SELECT count(*) FROM ex) AS DOUBLE)
         |      + CAST((SELECT count(*) FROM an) AS DOUBLE)
         |      - CAST((SELECT count(*) FROM ex JOIN an USING (id_a, id_b))
         |          AS DOUBLE), 0.0)) * 1000000) / 1000000 AS jaccard""".stripMargin,

    // MIPS mirror: list_inner_product for graft_dot, 6-dp-rounded
    // before the rank window (same membership discipline as cosine).
    "ann_mips_topk" ->
      s"""WITH e AS ($embCte),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
         |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |        round(list_inner_product(q.qv, e.v), 6) AS dot
         |      FROM q JOIN e ON e.vec_id <> q.query_id
         |      WHERE list_inner_product(q.qv, e.v) IS NOT NULL),
         |r AS (SELECT query_id, neighbor_id, dot,
         |        CAST(row_number() OVER (PARTITION BY query_id
         |          ORDER BY dot DESC, neighbor_id) AS BIGINT) AS rank
         |      FROM s)
         |SELECT query_id, rank, neighbor_id, dot FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // Range search mirror: cosines are 6-dp rounded BEFORE the threshold
    // test on both engines (boundary-safe); NaN (zero-norm) → NULL never
    // matches.
    "ann_range" ->
      s"""WITH e AS ($embCte),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
         |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |        round(CASE WHEN isnan(list_cosine_similarity(q.qv, e.v))
         |          THEN NULL
         |          ELSE list_cosine_similarity(q.qv, e.v) END, 6) AS cosine
         |      FROM q JOIN e ON e.vec_id <> q.query_id)
         |SELECT query_id, neighbor_id, cosine FROM s
         |WHERE cosine >= 0.3
         |ORDER BY query_id, neighbor_id""".stripMargin,

    // Hard negatives: brute ranking restricted to cross-cluster pairs;
    // assignment CTEs shared with the kmeans oracle (k=4). The Spark
    // side drops NULL cosines (zero-norm vectors); DuckDB yields NaN
    // there and ranks it FIRST under `cos DESC` — the CASE + IS NOT
    // NULL guard excludes undefined cosines identically in both engines.
    "ann_hard_negatives" ->
      s"""WITH ${assignCtes(4)},
         |q AS (SELECT e.vec_id AS query_id, e.v AS qv, a.cid AS qcid
         |      FROM e JOIN a USING (vec_id) WHERE e.vec_id < 8),
         |s AS (SELECT q.query_id, ce.vec_id AS neighbor_id,
         |        CAST(ca.cid AS BIGINT) AS neighbor_cluster,
         |        CASE WHEN isnan(list_cosine_similarity(q.qv, ce.v))
         |          THEN NULL
         |          ELSE list_cosine_similarity(q.qv, ce.v) END AS cos
         |      FROM q JOIN e ce ON ce.vec_id <> q.query_id
         |      JOIN a ca ON ca.vec_id = ce.vec_id AND ca.cid <> q.qcid
         |      WHERE cos IS NOT NULL)
         |SELECT query_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
         |  neighbor_id, neighbor_cluster, round(cos, 6) AS cosine
         |FROM s
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // Both sides are the committed oracles of ann_lsh_topk / ann_brute_topk
    // wrapped as derived tables; recall math mirrors Similarity.recallAtK.
    "ann_recall" ->
      s"""WITH l AS (SELECT query_id, neighbor_id FROM ($srpAnnOracle)),
         |b AS (SELECT query_id, neighbor_id FROM ($bruteAnnOracle)),
         |m AS (SELECT b.query_id, count(l.neighbor_id) AS hits,
         |        count(*) AS k
         |      FROM b LEFT JOIN l ON l.query_id = b.query_id
         |        AND l.neighbor_id = b.neighbor_id
         |      GROUP BY 1)
         |SELECT count(*) AS n_queries,
         |  round((CAST(sum(CAST(round((CAST(hits AS DOUBLE) / k) * 1000000)
         |    / 1000000 AS DECIMAL(18,6))) AS DOUBLE) / count(*)) * 1000000)
         |    / 1000000 AS mean_recall
         |FROM m""".stripMargin,

    "text_quality" ->
      s"""WITH base AS ($docToks)
         |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         |  CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
         |    / len(toks) AS avg_token_len,
         |  CAST(len(list_filter(toks, t -> list_contains($stopwordList, t))) AS DOUBLE)
         |    / len(toks) AS stopword_ratio,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio
         |FROM base ORDER BY doc_id""".stripMargin,

    // Same argmax-with-priority as TextAnalysis.langId: lang i wins iff
    // its score beats (strictly) all earlier and (weakly) all later
    // (langidScoreAndCase builds both SQL pieces).
    "text_langid" -> {
      val (scores, cases) = langidScoreAndCase
      s"""WITH base AS ($docToks),
         |scored AS (SELECT doc_id,
         |  $scores
         |FROM base)
         |SELECT doc_id, s_en, s_de, s_es, s_fr, s_zh,
         |  CASE $cases
         |    ELSE 'und' END AS lang_pred
         |FROM scored ORDER BY doc_id""".stripMargin
    },

    // MLM plan: same (doc,pos) Knuth hash chain, 15%-cut at
    // floor(0.15·2^32), 80/10/10 action split, vocab replacement by
    // (h div 10) mod |vocab|.
    "text_mlm_masking" ->
      s"""WITH base AS ($docToks),
         |tk AS (SELECT doc_id,
         |        CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos,
         |        unnest(toks) AS token FROM base),
         |hh AS (SELECT doc_id, pos, token,
         |        (((${samplingHashSql("doc_id")}
         |          + pos) % 2147483648) * 2654435761) % 4294967296 AS h
         |      FROM tk),
         |t AS (SELECT unnest(toks) AS term FROM base),
         |c AS (SELECT term, count(*) AS freq FROM t GROUP BY 1),
         |top AS (SELECT term, freq FROM c ORDER BY freq DESC, term
         |      LIMIT 200),
         |v AS (SELECT CAST(row_number() OVER (ORDER BY freq DESC, term)
         |        - 1 AS BIGINT) AS term_id, term FROM top),
         |vs AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
         |m AS (SELECT * FROM hh WHERE h < 644245094)
         |SELECT m.doc_id, m.pos, m.token,
         |  CASE WHEN h % 10 < 8 THEN 'mask'
         |       WHEN h % 10 = 8 THEN 'random' ELSE 'keep' END AS action,
         |  CASE WHEN h % 10 < 8 THEN '[MASK]'
         |       WHEN h % 10 = 8 THEN v.term ELSE m.token END AS replacement
         |FROM m CROSS JOIN vs
         |LEFT JOIN v ON v.term_id = (m.h // 10) % vs.n
         |ORDER BY doc_id, pos""".stripMargin,

    // Confusion of langId vs the labeled lang: counts + row-normalized
    // recall shares.
    "text_langid_eval" -> {
      val (scores, cases) = langidScoreAndCase
      s"""WITH base AS ($docToks),
         |scored AS (SELECT doc_id,
         |  $scores
         |FROM base),
         |pred AS (SELECT doc_id, CASE $cases
         |    ELSE 'und' END AS lang_pred FROM scored),
         |conf AS (SELECT d.lang AS lang_true, p.lang_pred,
         |        CAST(count(*) AS BIGINT) AS n
         |      FROM documents d JOIN pred p ON p.doc_id = d.doc_id
         |      GROUP BY 1, 2),
         |tot AS (SELECT lang_true, CAST(sum(n) AS BIGINT) AS t
         |      FROM conf GROUP BY 1)
         |SELECT lang_true, lang_pred, n,
         |  round((CAST(n AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000) / 1000000
         |    AS frac_of_true
         |FROM conf JOIN tot USING (lang_true)
         |ORDER BY lang_true, lang_pred""".stripMargin
    },

    // Same langid scaffolding joined back to the declared tag; an 'und'
    // prediction mismatches every declared tag.
    "text_lang_mismatch" -> {
      val scores = TextAnalysis.langMarkers.map { case (lang, m) =>
        val markers = m.map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_filter(toks, t -> list_contains($markers, t))) AS BIGINT) AS s_$lang"
      }.mkString(",\n  ")
      val langs = TextAnalysis.langMarkers.map(_._1)
      val cases = langs.zipWithIndex.map { case (lang, i) =>
        val earlier = langs.take(i).map(l => s"s_$lang > s_$l")
        val later = langs.drop(i + 1).map(l => s"s_$lang >= s_$l")
        val conds = (earlier ++ later :+ s"s_$lang > 0").mkString(" AND ")
        s"WHEN $conds THEN '$lang'"
      }.mkString("\n    ")
      s"""WITH base AS ($docToks),
         |scored AS (SELECT doc_id,
         |  $scores
         |FROM base),
         |pred AS (SELECT doc_id,
         |  CASE $cases
         |    ELSE 'und' END AS lang_pred
         |FROM scored)
         |SELECT p.doc_id, d.lang AS lang_declared, p.lang_pred,
         |  p.lang_pred <> d.lang AS mismatch
         |FROM pred p JOIN documents d ON d.doc_id = p.doc_id
         |ORDER BY p.doc_id""".stripMargin
    },

    "text_token_counts" ->
      s"""WITH base AS ($docToks)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.subwordPattern.replace("\\", "\\\\")}')) AS BIGINT) AS n_subwords,
         |  CAST(list_aggregate(list_transform(toks, t -> (length(t) + 3) // 4), 'sum') AS BIGINT) AS n_bpe_est
         |FROM base ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      s"""WITH base AS ($docToks)
         |SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(toks, t ->
         |        (length(t) * 131 + ascii(substr(t, 1, 1)) * 7 + ascii(right(t, 1))) % 1000000007)),
         |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
         |FROM base ORDER BY doc_id""".stripMargin,

    "text_normalize" ->
      """SELECT doc_id, trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS text_norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      s"""WITH base AS ($docToks),
         |toks AS (SELECT doc_id, unnest(toks) AS t, generate_subscripts(toks, 1) AS i FROM base),
         |sh2 AS (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t AS s
         |        FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
         |sh3 AS (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
         |        FROM toks a
         |        JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |        JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
         |n2 AS (SELECT doc_id, count(*) AS d2 FROM sh2 GROUP BY 1),
         |n3 AS (SELECT doc_id, count(*) AS d3 FROM sh3 GROUP BY 1)
         |SELECT b.doc_id, CAST(len(b.toks) AS BIGINT) AS n_tokens,
         |  CASE WHEN len(b.toks) - 1 > 0
         |       THEN CAST(1.0 AS DOUBLE) - CAST(coalesce(d2, 0) AS DOUBLE) / (len(b.toks) - 1) END AS dup2_ratio,
         |  CASE WHEN len(b.toks) - 2 > 0
         |       THEN CAST(1.0 AS DOUBLE) - CAST(coalesce(d3, 0) AS DOUBLE) / (len(b.toks) - 2) END AS dup3_ratio
         |FROM base b LEFT JOIN n2 USING (doc_id) LEFT JOIN n3 USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // Mirrors the two-stage cut exactly: unit vectors, floor-rounded int8
    // codes, EXACT-integer code dot (every partial sum < 2^27 — no float
    // ordering), rescale in the same left-to-right product order, rerank.
    "ann_refine" ->
      s"""WITH e AS ($embCte),
         |n AS (SELECT vec_id,
         |        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
         |      FROM e WHERE list_dot_product(v, v) > 0),
         |s AS (SELECT vec_id, u,
         |        list_aggregate(list_transform(u, x -> abs(x)), 'max') AS scale
         |      FROM n),
         |qt AS (SELECT vec_id, u, scale,
         |         list_transform(u, x -> floor(x * 127.0 / scale + 0.5)) AS q
         |       FROM s WHERE scale > 0),
         |qry AS (SELECT * FROM qt WHERE vec_id < 8),
         |coarse AS (SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
         |             c.u AS cu, qr.u AS qu,
         |             list_dot_product(c.q, qr.q) * c.scale * qr.scale AS coarse
         |           FROM qt c, qry qr WHERE c.vec_id <> qr.vec_id),
         |cand AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |           ORDER BY coarse DESC, neighbor_id) AS crank FROM coarse),
         |rer AS (SELECT query_id, neighbor_id,
         |          list_cosine_similarity(qu, cu) AS cos
         |        FROM cand WHERE crank <= 40)
         |SELECT query_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
         |  neighbor_id, round(cos, 6) AS cosine
         |FROM rer
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY cos DESC, neighbor_id) <= 10
         |ORDER BY query_id, rank""".stripMargin,

    "q_correlated_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE o_totalprice > (
        |  SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |         / count(*)
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "text_tfidf" ->
      s"""WITH base AS ($docToks),
         |t AS (SELECT doc_id, unnest(toks) AS term FROM base),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
         |s AS (SELECT doc_id, term, tf, df,
         |        tf * ln((n_docs + 1.0) / (df + 1.0)) AS tfidf
         |      FROM tf JOIN df USING (term) CROSS JOIN n),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY tfidf DESC, term ASC) AS rnk FROM s)
         |SELECT doc_id, CAST(rnk AS BIGINT) AS rank, term, tf, df,
         |  round(tfidf, 6) AS tfidf
         |FROM r WHERE rnk <= 5 ORDER BY doc_id, rank""".stripMargin,

    "text_vocab" ->
      s"""WITH base AS ($docToks),
         |t AS (SELECT unnest(toks) AS term FROM base),
         |c AS (SELECT term, count(*) AS freq FROM t GROUP BY 1),
         |top AS (SELECT term, freq FROM c ORDER BY freq DESC, term LIMIT 200)
         |SELECT CAST(row_number() OVER (ORDER BY freq DESC, term) - 1 AS BIGINT)
         |    AS term_id, term, freq
         |FROM top ORDER BY term_id""".stripMargin,

    // Gini over the same ranked vocabulary: BIGINT numerator
    // Σ f·(n − 2·term_id − 1), one rounded division.
    "text_gini" ->
      s"""WITH base AS ($docToks),
         |t AS (SELECT unnest(toks) AS term FROM base),
         |c AS (SELECT term, count(*) AS freq FROM t GROUP BY 1),
         |top AS (SELECT term, freq FROM c ORDER BY freq DESC, term LIMIT 200),
         |v AS (SELECT CAST(row_number() OVER (ORDER BY freq DESC, term) - 1
         |          AS BIGINT) AS term_id, freq FROM top),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
         |        CAST(sum(freq) AS BIGINT) AS total FROM v)
         |SELECT n_terms, total,
         |  round((CAST(sum(freq * (n_terms - 2 * term_id - 1)) AS DOUBLE) /
         |    (CAST(n_terms AS DOUBLE) * CAST(total AS DOUBLE))) * 1000000)
         |    / 1000000 AS gini
         |FROM v CROSS JOIN tot GROUP BY n_terms, total""".stripMargin,

    // Keyness: the vocabulary CTE, a sources×vocab spine, the four
    // ln-odds operands as exact-integer-plus-half doubles in the Spark
    // side's operation order, z rounded before the rank.
    "text_keyness" ->
      """WITH t AS (SELECT source,
        |        unnest(list_filter(string_split(text, ' '), x -> x <> ''))
        |          AS term FROM documents),
        |c AS (SELECT term, count(*) AS freq FROM t GROUP BY 1),
        |v AS (SELECT term, CAST(freq AS BIGINT) AS y_w FROM (
        |      SELECT term, freq FROM c ORDER BY freq DESC, term LIMIT 200)),
        |sw AS (SELECT t.source, t.term, CAST(count(*) AS BIGINT) AS y_sw
        |      FROM t JOIN v ON v.term = t.term GROUP BY 1, 2),
        |srcs AS (SELECT source, CAST(sum(y_sw) AS BIGINT) AS n_s
        |      FROM sw GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM srcs),
        |spine AS (SELECT s.source, s.n_s, v.term, v.y_w,
        |        CAST(coalesce(sw.y_sw, 0) AS BIGINT) AS y_sw
        |      FROM srcs s CROSS JOIN v
        |      LEFT JOIN sw ON sw.source = s.source AND sw.term = v.term),
        |z AS (SELECT source, term, y_sw,
        |        round((ln((CAST(y_sw AS DOUBLE) + 0.5) /
        |            (CAST(n_s - y_sw AS DOUBLE) + 0.5))
        |          - ln((CAST(y_w - y_sw AS DOUBLE) + 0.5) /
        |            (CAST(n - n_s - (y_w - y_sw) AS DOUBLE) + 0.5)))
        |          / sqrt(1.0 / (CAST(y_sw AS DOUBLE) + 0.5)
        |            + 1.0 / (CAST(y_w - y_sw AS DOUBLE) + 0.5)), 6) AS z
        |      FROM spine CROSS JOIN tot)
        |SELECT source, rank, term, y_sw, z FROM (
        |  SELECT source, term, y_sw, z,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY z DESC, term) AS BIGINT) AS rank FROM z)
        |WHERE rank <= 5 ORDER BY source, rank""".stripMargin,

    // PII scan: len(regexp_extract_all) is Spark's
    // size(regexp_extract_all) — same RE dialect subset (classes,
    // bounded repeats), zero matches is the honest report on this corpus.
    "text_pii_scan" ->
      """SELECT source, count(*) AS n_rows,
        |  CAST(sum(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT)
        |    AS n_email,
        |  CAST(sum(CASE WHEN len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS rows_email,
        |  CAST(sum(len(regexp_extract_all(text,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))) AS BIGINT)
        |    AS n_ipv4,
        |  CAST(sum(CASE WHEN len(regexp_extract_all(text,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS rows_ipv4,
        |  CAST(sum(len(regexp_extract_all(text,
        |    '\+?[0-9][0-9() -]{6,}[0-9]'))) AS BIGINT) AS n_phone,
        |  CAST(sum(CASE WHEN len(regexp_extract_all(text,
        |    '\+?[0-9][0-9() -]{6,}[0-9]')) > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS rows_phone,
        |  CAST(sum(len(regexp_extract_all(text, '[0-9]{4,}'))) AS BIGINT)
        |    AS n_digitrun,
        |  CAST(sum(CASE WHEN len(regexp_extract_all(text, '[0-9]{4,}')) > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS rows_digitrun
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // Late-data accounting: the sf-scale oracle collapses the two-level
    // prefix max to ONE global strictly-before window over the
    // hash-shuffled arrival key (a bijection on Z_2^31 — odd multiplier
    // — so arrival order is total and tie-free on both engines);
    // epoch-micros BIGINTs throughout, nothing floats.
    "stream_late_events" ->
      """WITH e AS (SELECT ((event_id % 2147483648) * 2654435761)
        |          % 2147483648 AS arr,
        |        epoch_us(ts) AS t, event_type AS etype FROM events),
        |w AS (SELECT etype, t,
        |        max(t) OVER (ORDER BY arr ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND 1 PRECEDING) AS pm
        |      FROM e)
        |SELECT etype AS event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN pm IS NOT NULL AND t < pm - 604800000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  max(CASE WHEN pm IS NOT NULL AND t < pm - 604800000000
        |    THEN pm - 604800000000 - t END) AS max_late_us
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    // Term dispersion: postings-cardinality moments over the top-200
    // vocabulary, exact integer sums, rounded divisions in the Spark
    // side's operation order.
    "text_term_dispersion" ->
      """WITH t AS (SELECT doc_id,
        |        unnest(list_filter(string_split(text, ' '), x -> x <> ''))
        |          AS term FROM documents),
        |c AS (SELECT term, count(*) AS freq FROM t GROUP BY 1),
        |v AS (SELECT term FROM (SELECT term, freq FROM c
        |      ORDER BY freq DESC, term LIMIT 200)),
        |dt AS (SELECT t.term, t.doc_id, CAST(count(*) AS BIGINT) AS c
        |      FROM t JOIN v ON v.term = t.term GROUP BY 1, 2),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |agg AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
        |        CAST(sum(c) AS BIGINT) AS freq,
        |        CAST(sum(c * c) AS BIGINT) AS s2 FROM dt GROUP BY 1)
        |SELECT term, df, freq,
        |  round(((CAST(s2 AS DOUBLE) / CAST(nd AS DOUBLE)
        |    - (CAST(freq AS DOUBLE) / CAST(nd AS DOUBLE))
        |      * (CAST(freq AS DOUBLE) / CAST(nd AS DOUBLE)))
        |    / (CAST(freq AS DOUBLE) / CAST(nd AS DOUBLE))) * 1000000)
        |    / 1000000 AS vmr
        |FROM agg CROSS JOIN nd ORDER BY term""".stripMargin,

    // Quantile-position score: one global strictly-before window over
    // distinct values stands in for the Spark side's two-level prefix
    // sum; midranks are exact .5-grain doubles.
    "dq_quantile_score" ->
      """WITH r AS (SELECT event_type AS grp, CAST(value AS DOUBLE) AS v
        |      FROM events WHERE value IS NOT NULL),
        |byv AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM byv),
        |rk AS (SELECT v, round(((CAST(coalesce(sum(c) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS DOUBLE) + CAST(c + 1 AS DOUBLE) / 2.0)
        |        / CAST(n AS DOUBLE)) * 1000000) / 1000000 AS q
        |      FROM byv CROSS JOIN tot)
        |SELECT grp AS event_type, count(*) AS n_rows,
        |  round((CAST(sum(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*))
        |    * 1000000) / 1000000 AS mean_quantile
        |FROM r JOIN rk USING (v) GROUP BY 1 ORDER BY 1""".stripMargin,

    // Pattern scan over JSON props — nonzero counts prove the match
    // path the PII report exercises with zeros.
    "text_pattern_scan" ->
      """SELECT event_type, count(*) AS n_rows,
        |  CAST(sum(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT)
        |    AS n_number,
        |  CAST(sum(CASE WHEN len(regexp_extract_all(props, '[0-9]+')) > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS rows_number,
        |  CAST(sum(len(regexp_extract_all(props, '"[a-z]+"'))) AS BIGINT)
        |    AS n_qkey,
        |  CAST(sum(CASE WHEN len(regexp_extract_all(props, '"[a-z]+"')) > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS rows_qkey
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_encode" ->
      s"""WITH base AS ($docToks),
         |t AS (SELECT doc_id, unnest(toks) AS term,
         |        generate_subscripts(toks, 1) AS pos1 FROM base),
         |c AS (SELECT term, count(*) AS freq FROM t GROUP BY 1),
         |v AS (SELECT term, CAST(row_number() OVER (ORDER BY freq DESC, term) - 1
         |          AS BIGINT) AS term_id
         |      FROM (SELECT term, freq FROM c ORDER BY freq DESC, term LIMIT 20))
         |SELECT t.doc_id, CAST(t.pos1 - 1 AS BIGINT) AS pos,
         |  coalesce(v.term_id, -1) AS term_id
         |FROM t LEFT JOIN v USING (term)
         |ORDER BY doc_id, pos""".stripMargin,

    // Decode round trip: same vocab CTE, OOV -> <unk>, position-ordered
    // string_agg reassembly.
    "text_decode" ->
      s"""WITH base AS ($docToks),
         |t AS (SELECT doc_id, unnest(toks) AS term,
         |        generate_subscripts(toks, 1) AS pos1 FROM base),
         |c AS (SELECT term, count(*) AS freq FROM t GROUP BY 1),
         |v AS (SELECT term, CAST(row_number() OVER (ORDER BY freq DESC, term) - 1
         |          AS BIGINT) AS term_id
         |      FROM (SELECT term, freq FROM c ORDER BY freq DESC, term LIMIT 20)),
         |e AS (SELECT t.doc_id, t.pos1,
         |        coalesce(v.term_id, -1) AS tid,
         |        CASE WHEN v.term_id IS NULL THEN '<unk>' ELSE t.term END
         |          AS tok
         |      FROM t LEFT JOIN v USING (term))
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unk,
         |  string_agg(tok, ' ' ORDER BY pos1) AS decoded
         |FROM e GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "text_ngrams" ->
      s"""WITH base AS ($docToks),
         |g AS (SELECT list_transform(range(len(toks) - 1),
         |        i -> concat(toks[i + 1], ' ', toks[i + 2])) AS gs
         |      FROM base WHERE len(toks) >= 2),
         |t AS (SELECT unnest(gs) AS ngram FROM g),
         |c AS (SELECT ngram, count(*) AS freq FROM t GROUP BY 1)
         |SELECT ngram, freq FROM c
         |ORDER BY freq DESC, ngram LIMIT 200""".stripMargin,

    // BM25: per-term weights rounded to 9 dp ride an exact DECIMAL(18,9)
    // sum, so the per-doc total is order-free in both engines.
    "text_bm25" ->
      s"""WITH base AS ($docToks),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |        CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM base),
         |tf AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, t.term,
         |        CAST(count(*) AS DOUBLE) AS tf
         |      FROM base, unnest(list_filter(toks,
         |        x -> list_contains(['spark', 'join', 'filter'], x))) AS t(term)
         |      GROUP BY 1, 2, 3),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |w AS (SELECT tf.doc_id,
         |        ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
         |          * tf.tf * 2.2 / (tf.tf + 1.2 * (1.0 - 0.75
         |            + 0.75 * tf.dl / st.avgdl)) AS w
         |      FROM tf JOIN df USING (term) CROSS JOIN st)
         |SELECT doc_id,
         |  round(CAST(sum(CAST(round(w, 9) AS DECIMAL(18,9))) AS DOUBLE), 6)
         |    AS score,
         |  count(*) AS n_terms_hit
         |FROM w GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // PMI over exact BIGINT counts; ln + round(6) is the one accepted
    // cross-engine float caveat (same class as tfidf/hll).
    "text_pmi" ->
      s"""WITH base AS ($docToks),
         |u AS (SELECT unnest(toks) AS t FROM base),
         |uni AS (SELECT t, count(*) AS c FROM u GROUP BY 1),
         |g AS (SELECT list_transform(range(len(toks) - 1),
         |        i -> concat(toks[i + 1], ' ', toks[i + 2])) AS gs
         |      FROM base WHERE len(toks) >= 2),
         |bi AS (SELECT bigram, count(*) AS c_ab
         |       FROM (SELECT unnest(gs) AS bigram FROM g) GROUP BY 1),
         |tot AS (SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uni) AS n_tok,
         |               (SELECT CAST(sum(c_ab) AS DOUBLE) FROM bi) AS n_big)
         |SELECT bigram, c_ab, ua.c AS c_a, ub.c AS c_b,
         |  round(ln((c_ab / n_big) /
         |    ((ua.c / n_tok) * (ub.c / n_tok))), 6) AS pmi
         |FROM bi
         |JOIN uni ua ON ua.t = string_split(bigram, ' ')[1]
         |JOIN uni ub ON ub.t = string_split(bigram, ' ')[2]
         |CROSS JOIN tot
         |WHERE c_ab >= 5
         |ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin,

    // G² collocations: marginals from the bigram table itself (first/
    // second position), four zero-guarded k·ln(kM/RC) terms, ×2.
    "text_collocations" ->
      s"""WITH base AS ($docToks),
         |g AS (SELECT list_transform(range(len(toks) - 1),
         |        i -> concat(toks[i + 1], ' ', toks[i + 2])) AS gs
         |      FROM base WHERE len(toks) >= 2),
         |bi AS (SELECT bigram, CAST(count(*) AS BIGINT) AS k11
         |       FROM (SELECT unnest(gs) AS bigram FROM g) GROUP BY 1),
         |bw AS (SELECT bigram, k11, string_split(bigram, ' ')[1] AS w1,
         |         string_split(bigram, ' ')[2] AS w2 FROM bi),
         |r AS (SELECT w1, CAST(sum(k11) AS BIGINT) AS ra FROM bw GROUP BY 1),
         |c AS (SELECT w2, CAST(sum(k11) AS BIGINT) AS cb FROM bw GROUP BY 1),
         |tot AS (SELECT CAST(sum(k11) AS BIGINT) AS m FROM bi)
         |SELECT bigram, k11 AS c_ab, ra AS c_a_first, cb AS c_b_second,
         |  round(2.0 * (
         |    CASE WHEN k11 > 0 THEN CAST(k11 AS DOUBLE) *
         |      ln(CAST(k11 AS DOUBLE) * CAST(m AS DOUBLE)
         |        / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE))) ELSE 0 END
         |    + CASE WHEN ra - k11 > 0 THEN CAST(ra - k11 AS DOUBLE) *
         |      ln(CAST(ra - k11 AS DOUBLE) * CAST(m AS DOUBLE)
         |        / (CAST(ra AS DOUBLE) * CAST(m - cb AS DOUBLE))) ELSE 0 END
         |    + CASE WHEN cb - k11 > 0 THEN CAST(cb - k11 AS DOUBLE) *
         |      ln(CAST(cb - k11 AS DOUBLE) * CAST(m AS DOUBLE)
         |        / (CAST(m - ra AS DOUBLE) * CAST(cb AS DOUBLE))) ELSE 0 END
         |    + CASE WHEN m - ra - cb + k11 > 0
         |      THEN CAST(m - ra - cb + k11 AS DOUBLE) *
         |      ln(CAST(m - ra - cb + k11 AS DOUBLE) * CAST(m AS DOUBLE)
         |        / (CAST(m - ra AS DOUBLE) * CAST(m - cb AS DOUBLE)))
         |      ELSE 0 END), 6) AS g2
         |FROM bw JOIN r USING (w1) JOIN c USING (w2) CROSS JOIN tot
         |WHERE k11 >= 5
         |ORDER BY g2 DESC, bigram LIMIT 40""".stripMargin,

    // Jensen–Shannon divergence between source unigram distributions:
    // union-of-support via full outer join per source pair, per-term
    // halves 9-dp-rounded into DECIMAL sums.
    "text_jsd" ->
      """WITH tok AS (SELECT source,
        |        unnest(list_filter(string_split(text, ' '), x -> x <> ''))
        |          AS t FROM documents),
        |sc AS (SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2),
        |n AS (SELECT source, sum(c) AS n FROM sc GROUP BY 1),
        |pt AS (SELECT sc.source, t,
        |        CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS p
        |      FROM sc JOIN n USING (source)),
        |pr AS (SELECT a.source AS sa, b.source AS sb
        |      FROM n a JOIN n b ON a.source < b.source),
        |l AS (SELECT sa, sb, t, p AS pa FROM pr
        |      JOIN pt ON pt.source = pr.sa),
        |rr AS (SELECT sa, sb, t, p AS pb FROM pr
        |      JOIN pt ON pt.source = pr.sb),
        |f AS (SELECT sa, sb, t, coalesce(pa, 0.0) AS pa,
        |        coalesce(pb, 0.0) AS pb
        |      FROM l FULL JOIN rr USING (sa, sb, t)),
        |a AS (SELECT sa, sb, count(*) AS n_terms_union,
        |        sum(CAST(round(0.5 * (
        |          CASE WHEN pa > 0
        |            THEN pa * ln(2.0 * pa / (pa + pb)) ELSE 0 END
        |          + CASE WHEN pb > 0
        |            THEN pb * ln(2.0 * pb / (pa + pb)) ELSE 0 END), 9)
        |          AS DECIMAL(18,9))) AS jd
        |      FROM f GROUP BY 1, 2)
        |SELECT sa AS source_a, sb AS source_b, n_terms_union,
        |  round(CAST(jd AS DOUBLE) * 1000000) / 1000000 AS jsd,
        |  round(sqrt(CAST(jd AS DOUBLE)) * 1000000) / 1000000
        |    AS jsd_distance
        |FROM a ORDER BY source_a, source_b""".stripMargin,

    // Hot-bigram boilerplate removal: mask every token position covered
    // by a bigram present in >= ceil(0.08 * n_docs) documents, reassemble
    // the survivors in position order.
    "text_boilerplate" ->
      s"""WITH base AS ($docToks),
         |tok AS (SELECT doc_id, unnest(toks) AS t,
         |          generate_subscripts(toks, 1) AS i FROM base),
         |gr AS (SELECT a.doc_id, a.i AS s, a.t || ' ' || b.t AS g
         |       FROM tok a JOIN tok b
         |         ON b.doc_id = a.doc_id AND b.i = a.i + 1),
         |hot AS (SELECT g FROM gr GROUP BY g
         |        HAVING count(DISTINCT doc_id) >=
         |          (SELECT ceil(count(*) * 0.08) FROM documents)),
         |cov AS (SELECT DISTINCT gr.doc_id, gr.s + off.o AS pos
         |        FROM gr JOIN hot USING (g)
         |        CROSS JOIN (SELECT unnest([0, 1]) AS o) off),
         |kept AS (SELECT tok.doc_id, tok.t, tok.i
         |         FROM tok LEFT JOIN cov
         |           ON cov.doc_id = tok.doc_id AND cov.pos = tok.i
         |         WHERE cov.doc_id IS NULL),
         |agg AS (SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS clean_text,
         |          count(*) AS n_kept FROM kept GROUP BY 1)
         |SELECT b.doc_id, coalesce(agg.clean_text, '') AS clean_text,
         |  CAST(len(b.toks) AS BIGINT) AS n_tokens,
         |  CAST(len(b.toks) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
         |  CASE WHEN len(b.toks) = 0 THEN 0.0
         |       ELSE CAST(len(b.toks) - coalesce(agg.n_kept, 0) AS DOUBLE)
         |         / len(b.toks) END AS boilerplate_ratio
         |FROM base b LEFT JOIN agg ON agg.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin,

    // Token-budget selection: BIGINT cumsum over (score DESC, doc_id) vs
    // the 10k budget; score is one exact division, so the cut is
    // engine-independent.
    "text_select_budget" ->
      s"""WITH base AS ($docToks),
         |sc AS (SELECT doc_id,
         |        coalesce(CAST(len(list_distinct(toks)) AS DOUBLE)
         |          / nullif(len(toks), 0), 0.0) AS score,
         |        CAST(len(regexp_extract_all(text,
         |          '${TextAnalysis.subwordPattern}')) AS BIGINT) AS n_subwords
         |      FROM base),
         |c AS (SELECT doc_id, score, n_subwords,
         |        CAST(sum(n_subwords) OVER (ORDER BY score DESC, doc_id
         |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |      FROM sc)
         |SELECT doc_id, score, n_subwords, cum_tokens
         |FROM c WHERE cum_tokens <= 10000 ORDER BY doc_id""".stripMargin,

    // Novelty over STRING trigrams (the ngram-jaccard oracle's shingle
    // CTE) — the Spark side's hashed shingles group identically absent
    // collisions, the same accepted convention as every shingle op.
    "text_ngram_novelty" ->
      s"""WITH base AS ($docToks),
         |toks AS (SELECT doc_id, unnest(toks) AS t,
         |           generate_subscripts(toks, 1) AS i FROM base),
         |sh AS (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS shingle
         |       FROM toks a
         |       JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |       JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
         |fst AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
         |SELECT sh.doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN fst.first_doc = sh.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  round((CAST(sum(CASE WHEN fst.first_doc = sh.doc_id THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*)) * 1000000) / 1000000 AS novelty
         |FROM sh JOIN fst USING (shingle)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // Volume anomaly: ana_outliers' two-pass DECIMAL moment recipe over
    // the (type, day) count frame; sd=0 groups excluded like try_divide.
    "dq_volume_anomaly" ->
      """WITH dly AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |        count(*) AS cnt
        |      FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, count(*) AS n,
        |        CAST(sum(CAST(cnt AS DECIMAL(18,6))) AS DOUBLE) / count(*)
        |          AS mean
        |      FROM dly GROUP BY 1),
        |s AS (SELECT d.event_type, any_value(m.n) AS n,
        |        any_value(m.mean) AS mean,
        |        sum(CAST(round((d.cnt - m.mean) * (d.cnt - m.mean), 6)
        |          AS DECIMAL(18,6))) AS ss
        |      FROM dly d JOIN m USING (event_type) GROUP BY 1),
        |st AS (SELECT event_type, mean,
        |        sqrt(CAST(ss AS DOUBLE) / (n - 1)) AS sd FROM s)
        |SELECT d.day, d.event_type, d.cnt,
        |  round(st.mean * 1000000) / 1000000 AS group_mean,
        |  round(st.sd * 1000000) / 1000000 AS group_sd,
        |  round(((d.cnt - st.mean) / st.sd) * 1000000) / 1000000 AS zscore
        |FROM dly d JOIN st USING (event_type)
        |WHERE st.sd <> 0 AND abs((d.cnt - st.mean) / st.sd) > 2
        |ORDER BY day, event_type""".stripMargin,

    // Whole-hour lag behind the table-wide max ts; truncation == floor
    // since the difference is non-negative.
    "dq_freshness" ->
      """WITH per AS (SELECT event_type AS group_key, count(*) AS n_rows,
        |        max(ts) AS max_ts
        |      FROM events GROUP BY 1),
        |g AS (SELECT max(max_ts) AS gmax FROM per)
        |SELECT group_key, n_rows, max_ts,
        |  CAST(floor((epoch(gmax) - epoch(max_ts)) / 3600) AS BIGINT)
        |    AS lag_hours,
        |  CAST(floor((epoch(gmax) - epoch(max_ts)) / 3600) AS BIGINT) > 24
        |    AS is_stale
        |FROM per CROSS JOIN g ORDER BY group_key""".stripMargin,

    // Within-doc span dedup: same gram/lead chain, dup-start by
    // min-position window, coverage by running max of span ends; docs
    // with zero tokens drop out on BOTH sides (no explode rows).
    "text_dedup_spans" ->
      s"""WITH base AS ($docToks),
         |tok AS (SELECT doc_id, unnest(toks) AS t,
         |          generate_subscripts(toks, 1) AS i FROM base),
         |g AS (SELECT doc_id, i, t,
         |        CASE WHEN lead(t, 2) OVER w IS NOT NULL
         |             THEN t || ' ' || lead(t, 1) OVER w || ' ' ||
         |                  lead(t, 2) OVER w END AS gram
         |      FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
         |m AS (SELECT *, gram IS NOT NULL AND
         |        i > min(i) OVER (PARTITION BY doc_id, gram) AS dup_start
         |      FROM g),
         |f AS (SELECT *, coalesce(max(CASE WHEN dup_start THEN i + 3 END)
         |        OVER (PARTITION BY doc_id ORDER BY i
         |          ROWS UNBOUNDED PRECEDING) > i, false) AS dropped
         |      FROM m),
         |k AS (SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS clean_text,
         |        count(*) AS n_kept
         |      FROM f WHERE NOT dropped GROUP BY 1),
         |tot AS (SELECT doc_id, count(*) AS n_tokens FROM f GROUP BY 1)
         |SELECT tot.doc_id, coalesce(k.clean_text, '') AS clean_text,
         |  tot.n_tokens, tot.n_tokens - coalesce(k.n_kept, 0) AS n_removed
         |FROM tot LEFT JOIN k USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Per-source p25 gate: score and threshold both 6-dp-rounded before
    // the comparison (quantile_cont ≡ Spark percentile — the one value
    // whose last bits could disagree); zero-token docs NULL -> kept false.
    // Rare = document frequency <= 1 corpus-wide; ratio over token
    // OCCURRENCES. Sums cast to BIGINT (DuckDB sums integers to
    // HUGEINT, which would dtype-mismatch the compare).
    "text_rare_ratio" ->
      s"""WITH base AS ($docToks),
         |t AS (SELECT doc_id, unnest(toks) AS term FROM base),
         |df AS (SELECT term, count(*) AS df FROM
         |         (SELECT DISTINCT doc_id, term FROM t) GROUP BY 1),
         |j AS (SELECT t.doc_id, df.df FROM t JOIN df USING (term))
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN df <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
         |  round((CAST(sum(CASE WHEN df <= 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*)) * 1000000) / 1000000 AS rare_ratio,
         |  round((CAST(sum(CASE WHEN df <= 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*)) * 1000000) / 1000000 > 0.5 AS flagged
         |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "text_quality_gate" ->
      """WITH sc AS (SELECT doc_id, source,
        |        round(CAST(len(list_distinct(list_filter(string_split(text, ' '),
        |            x -> x <> ''))) AS DOUBLE)
        |          / nullif(len(list_filter(string_split(text, ' '),
        |            x -> x <> '')), 0) * 1000000) / 1000000 AS score
        |      FROM documents),
        |t AS (SELECT source, round(quantile_cont(score, 0.25) * 1000000) / 1000000 AS thr
        |      FROM sc GROUP BY 1)
        |SELECT sc.doc_id, sc.source, sc.score, t.thr,
        |  coalesce(sc.score >= t.thr, false) AS kept
        |FROM sc JOIN t USING (source) ORDER BY doc_id""".stripMargin,

    // Line dedup: 3-token lines, df > 3 distinct docs -> dropped
    // everywhere; reassembly ordered by line_no (unique per doc).
    "text_dedup_lines" ->
      s"""WITH base AS ($docToks),
         |tok AS (SELECT doc_id, unnest(toks) AS t,
         |          generate_subscripts(toks, 1) AS i FROM base),
         |ln AS (SELECT doc_id, (i - 1) // 3 AS line_no,
         |         string_agg(t, ' ' ORDER BY i) AS line
         |       FROM tok GROUP BY 1, 2),
         |hot AS (SELECT line FROM ln GROUP BY line
         |        HAVING count(DISTINCT doc_id) > 3),
         |kept AS (SELECT ln.doc_id, ln.line_no, ln.line
         |         FROM ln LEFT JOIN hot ON hot.line = ln.line
         |         WHERE hot.line IS NULL),
         |agg AS (SELECT doc_id, string_agg(line, ' ' ORDER BY line_no) AS clean_text,
         |          count(*) AS n_kept FROM kept GROUP BY 1),
         |nl AS (SELECT doc_id, count(*) AS n_lines FROM ln GROUP BY 1)
         |SELECT nl.doc_id, coalesce(agg.clean_text, '') AS clean_text,
         |  nl.n_lines, nl.n_lines - coalesce(agg.n_kept, 0) AS n_removed
         |FROM nl LEFT JOIN agg ON agg.doc_id = nl.doc_id
         |ORDER BY nl.doc_id""".stripMargin,

    // Margin = top1 − top2 of the 5 marker scores (list_sort DESC);
    // share via NULLIF so zero-marker docs yield NULL like try_divide.
    "text_langid_margin" -> {
      val scores = TextAnalysis.langMarkers.map { case (lang, m) =>
        val markers = m.map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_filter(toks, t -> list_contains($markers, t))) AS BIGINT) AS s_$lang"
      }.mkString(",\n  ")
      val langs = TextAnalysis.langMarkers.map(_._1)
      val cases = langs.zipWithIndex.map { case (lang, i) =>
        val earlier = langs.take(i).map(l => s"s_$lang > s_$l")
        val later = langs.drop(i + 1).map(l => s"s_$lang >= s_$l")
        val conds = (earlier ++ later :+ s"s_$lang > 0").mkString(" AND ")
        s"WHEN $conds THEN '$lang'"
      }.mkString("\n    ")
      val arr = langs.map(l => s"s_$l").mkString("[", ", ", "]")
      val total = langs.map(l => s"s_$l").mkString(" + ")
      s"""WITH base AS ($docToks),
         |scored AS (SELECT doc_id,
         |  $scores
         |FROM base),
         |m AS (SELECT doc_id,
         |  CASE $cases
         |    ELSE 'und' END AS lang_pred,
         |  list_sort($arr, 'DESC') AS sv, $total AS total
         |FROM scored)
         |SELECT doc_id, lang_pred, sv[1] AS top1, sv[1] - sv[2] AS margin,
         |  round((CAST(sv[1] AS DOUBLE) / nullif(total, 0)) * 1000000)
         |    / 1000000 AS share
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "text_wordlen_hist" ->
      s"""WITH base AS ($docToks),
         |tok AS (SELECT unnest(toks) AS t FROM base)
         |SELECT CAST(length(t) AS BIGINT) AS token_len,
         |  count(*) AS n_tokens, count(DISTINCT t) AS n_distinct
         |FROM tok GROUP BY 1 ORDER BY token_len""".stripMargin,

    // Shannon entropy: Σ c·ln c through a 6-dp round + DECIMAL sum, outer
    // arithmetic a fixed per-row expression; norm NULL for 1-term docs.
    "text_entropy" ->
      s"""WITH base AS ($docToks),
         |t AS (SELECT doc_id, unnest(toks) AS term FROM base),
         |tf AS (SELECT doc_id, term, count(*) AS c FROM t GROUP BY 1, 2),
         |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |        count(*) AS n_distinct,
         |        sum(CAST(round(c * ln(c), 6) AS DECIMAL(18,6))) AS sclogc
         |      FROM tf GROUP BY 1)
         |SELECT doc_id, n_tokens, n_distinct,
         |  round(ln(n_tokens) - CAST(sclogc AS DOUBLE) / n_tokens, 6)
         |    AS entropy,
         |  CASE WHEN n_distinct = 1 THEN NULL
         |       ELSE round((ln(n_tokens) - CAST(sclogc AS DOUBLE) / n_tokens)
         |         / ln(n_distinct), 6) END AS norm_entropy
         |FROM a ORDER BY doc_id""".stripMargin,

    // Pearson r from five exact DECIMAL moments per pair; one aggregate.
    // Products quantize at the DECIMAL cast (2-dp money columns -> exact
    // 4-dp products, boundary-safe) — mirrors the Spark side.
    "q_corr" -> {
      val cols = Seq("l_discount", "l_extendedprice", "l_quantity")
      def ds(x: String) = s"CAST(sum(CAST($x AS DECIMAL(28,6))) AS DOUBLE)"
      val moments =
        cols.zipWithIndex.map { case (c, i) =>
          s"${ds(c)} AS s$i, ${ds(s"$c * $c")} AS q$i" } ++
          (for { i <- cols.indices; j <- cols.indices if i < j }
            yield s"${ds(s"${cols(i)} * ${cols(j)}")} AS p${i}_$j")
      val pairRows = (for { i <- cols.indices; j <- cols.indices if i < j } yield
        s"""SELECT '${cols(i)}' AS col_a, '${cols(j)}' AS col_b,
           |  round(((n * p${i}_$j - s$i * s$j) /
           |    (sqrt(n * q$i - s$i * s$i) * sqrt(n * q$j - s$j * s$j)))
           |    * 1000000) / 1000000 AS r
           |FROM a""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH a AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |  ${moments.mkString(",\n  ")}
         |  FROM lineitem)
         |$pairRows
         |ORDER BY col_a, col_b""".stripMargin
    },

    // Top-k hottest join keys + totals; rank above LIMIT k is bounded.
    "dq_skew_report" ->
      """WITH f AS (SELECT o_custkey AS key, count(*) AS cnt
        |           FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |          count(*) AS n_keys FROM f),
        |top AS (SELECT key, cnt FROM f ORDER BY cnt DESC, key LIMIT 10)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, key) AS BIGINT)
        |    AS rank,
        |  key, cnt, round((CAST(cnt AS DOUBLE) / n_rows) * 1000000) / 1000000 AS share,
        |  n_rows, n_keys
        |FROM top CROSS JOIN tot ORDER BY rank""".stripMargin,

    // ADC top-k mirror: the emb_pq code chain, a (query, subspace, code)
    // distance table from the same sub-centroids, code-joined sums,
    // per-query rank.
    "ann_adc_topk" ->
      s"""WITH e AS ($embCte),
         |f AS (SELECT vec_id, CAST(generate_subscripts(v, 1) AS BIGINT) AS dim,
         |        unnest(v) AS x FROM e),
         |ff AS (SELECT vec_id, dim,
         |        CAST(floor((dim - 1) / 16) AS BIGINT) AS sub, x FROM f),
         |seeds AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT 4),
         |centk AS (SELECT ff.vec_id AS cid, ff.sub, ff.dim, ff.x AS c
         |      FROM ff JOIN seeds USING (vec_id)),
         |d AS (SELECT ff.vec_id, ff.sub, centk.cid,
         |        sum(CAST(round((ff.x - centk.c) * (ff.x - centk.c), 6)
         |          AS DECIMAL(18,6))) AS d2
         |      FROM ff JOIN centk USING (dim) GROUP BY 1, 2, 3),
         |codes AS (SELECT vec_id AS neighbor_id, sub AS subspace, cid AS code
         |      FROM (SELECT vec_id, sub, cid,
         |              row_number() OVER (PARTITION BY vec_id, sub
         |                ORDER BY d2, cid) AS rn FROM d)
         |      WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, dim, x AS qx FROM f WHERE vec_id < 8),
         |dtab AS (SELECT q.query_id, centk.sub AS subspace, centk.cid AS code,
         |        sum(CAST(round((q.qx - centk.c) * (q.qx - centk.c), 6)
         |          AS DECIMAL(18,6))) AS dq2
         |      FROM q JOIN centk USING (dim) GROUP BY 1, 2, 3),
         |sc AS (SELECT dtab.query_id, codes.neighbor_id, sum(dq2) AS adc
         |      FROM codes JOIN dtab USING (subspace, code)
         |      WHERE dtab.query_id <> codes.neighbor_id
         |      GROUP BY 1, 2),
         |rk AS (SELECT query_id, neighbor_id, adc,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY adc, neighbor_id) AS rn
         |      FROM sc)
         |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id,
         |  round(CAST(adc AS DOUBLE), 6) AS adc_d2
         |FROM rk WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,

    "text_bigram_lm" ->
      s"""WITH base AS ($docToks),
         |t AS (SELECT doc_id, unnest(toks) AS tok,
         |        generate_subscripts(toks, 1) AS i FROM base),
         |pr AS (SELECT a.tok AS term, b.tok AS next, count(*) AS n
         |       FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |       GROUP BY 1, 2),
         |tot AS (SELECT term, sum(n) AS n_term FROM pr GROUP BY 1),
         |rk AS (SELECT term, next, n, row_number() OVER (PARTITION BY term
         |         ORDER BY n DESC, next) AS rn FROM pr)
         |SELECT rk.term, next, CAST(n AS BIGINT) AS n,
         |  round((CAST(n AS DOUBLE) / n_term) * 1000000) / 1000000 AS p
         |FROM rk JOIN tot USING (term) WHERE rn = 1 ORDER BY term""".stripMargin,

    "text_zipf_slope" ->
      s"""WITH base AS ($docToks),
         |t AS (SELECT unnest(toks) AS term FROM base),
         |c AS (SELECT term, count(*) AS freq FROM t GROUP BY 1),
         |top AS (SELECT term, freq FROM c ORDER BY freq DESC, term LIMIT 200),
         |rk AS (SELECT row_number() OVER (ORDER BY freq DESC, term) AS r,
         |         freq FROM top),
         |xy AS (SELECT round(ln(CAST(r AS DOUBLE)), 6) AS x,
         |         round(ln(CAST(freq AS DOUBLE)), 6) AS y FROM rk),
         |s AS (SELECT count(*) AS n_terms,
         |        sum(CAST(x AS DECIMAL(28,6))) AS sx,
         |        sum(CAST(y AS DECIMAL(28,6))) AS sy,
         |        sum(CAST(round((x * y) * 1000000) / 1000000
         |          AS DECIMAL(28,6))) AS sxy,
         |        sum(CAST(round((x * x) * 1000000) / 1000000
         |          AS DECIMAL(28,6))) AS sxx
         |      FROM xy)
         |SELECT CAST(n_terms AS BIGINT) AS n_terms,
         |  round(((CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n_terms)
         |    / (CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n_terms))
         |    * 1000000) / 1000000 AS zipf_slope
         |FROM s""".stripMargin,

    // Char-class mirror: length-difference counts per regex class ('g'
    // flag — DuckDB replaces first-match-only by default), BIGINT sums,
    // one double division per fraction.
    "text_script_hist" ->
      """WITH c AS (SELECT source,
        |    CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |    CAST(sum(length(text)
        |      - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) AS BIGINT)
        |      AS n_alpha,
        |    CAST(sum(length(text)
        |      - length(regexp_replace(text, '[0-9]', '', 'g'))) AS BIGINT)
        |      AS n_digit,
        |    CAST(sum(length(text)
        |      - length(regexp_replace(text, '\s', '', 'g'))) AS BIGINT)
        |      AS n_space
        |  FROM documents GROUP BY 1)
        |SELECT source, n_chars,
        |  round((CAST(n_alpha AS DOUBLE) / n_chars) * 1000000) / 1000000 AS frac_alpha,
        |  round((CAST(n_digit AS DOUBLE) / n_chars) * 1000000) / 1000000 AS frac_digit,
        |  round((CAST(n_space AS DOUBLE) / n_chars) * 1000000) / 1000000 AS frac_space,
        |  round((CAST(n_chars - n_alpha - n_digit - n_space AS DOUBLE)
        |    / n_chars) * 1000000) / 1000000 AS frac_other
        |FROM c ORDER BY source""".stripMargin,

    // Simpson mirror: exact integer moments (DECIMAL(19)×DECIMAL(19)
    // products, overflow-free by construction), one double ratio.
    "text_simpson" ->
      """WITH toks AS (SELECT source,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |f AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        |m AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    sum(CAST(c AS DECIMAL(19,0)) * CAST(c - 1 AS DECIMAL(19,0)))
        |      AS rep_mass
        |  FROM f GROUP BY 1)
        |SELECT source, n_tokens, n_types,
        |  CASE WHEN n_tokens > 1 THEN
        |    round((1.0 - CAST(rep_mass AS DOUBLE)
        |      / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE)))
        |      * 1000000) / 1000000
        |  END AS simpson_diversity
        |FROM m ORDER BY source""".stripMargin,

    // Heaps mirror: the same equal-width id buckets (double division +
    // floor, least-clamped), first-bucket-per-type counts, nBuckets-row
    // cumulative windows, then the zipf-recipe OLS.
    "text_heaps_law" ->
      s"""WITH base AS ($docToks),
         |bounds AS (SELECT CAST(min(doc_id) AS BIGINT) AS lo,
         |    CAST(max(doc_id) AS BIGINT) AS hi FROM documents),
         |toks AS (SELECT least(9, CAST(floor(
         |      CAST((doc_id - lo) * 10 AS DOUBLE)
         |        / greatest(hi - lo + 1, 1)) AS BIGINT)) AS b,
         |    unnest(toks) AS tok
         |  FROM base CROSS JOIN bounds),
         |mass AS (SELECT b, CAST(count(*) AS BIGINT) AS mass
         |         FROM toks GROUP BY 1),
         |fb AS (SELECT min(b) AS b FROM toks GROUP BY tok),
         |nt AS (SELECT b, CAST(count(*) AS BIGINT) AS new_types
         |       FROM fb GROUP BY 1),
         |pts AS (SELECT
         |    round(ln(CAST(sum(mass.mass) OVER w AS DOUBLE)), 6) AS x,
         |    round(ln(CAST(sum(coalesce(nt.new_types, 0)) OVER w AS DOUBLE)),
         |      6) AS y
         |  FROM mass LEFT JOIN nt USING (b)
         |  WINDOW w AS (ORDER BY mass.b ROWS UNBOUNDED PRECEDING)),
         |s AS (SELECT count(*) AS n_points,
         |        sum(CAST(x AS DECIMAL(28,6))) AS sx,
         |        sum(CAST(y AS DECIMAL(28,6))) AS sy,
         |        sum(CAST(round((x * y) * 1000000) / 1000000
         |          AS DECIMAL(28,6))) AS sxy,
         |        sum(CAST(round((x * x) * 1000000) / 1000000
         |          AS DECIMAL(28,6))) AS sxx
         |      FROM pts)
         |SELECT CAST(n_points AS BIGINT) AS n_points,
         |  round(((CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n_points)
         |    / (CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n_points))
         |    * 1000000) / 1000000 AS heaps_beta
         |FROM s""".stripMargin,

    "text_postings" ->
      s"""WITH base AS ($docToks),
         |t AS (SELECT doc_id, unnest(toks) AS term FROM base),
         |u AS (SELECT DISTINCT doc_id, term FROM t)
         |SELECT term, count(*) AS df,
         |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
         |FROM u GROUP BY term ORDER BY term""".stripMargin,

    "text_postings_capped" ->
      s"""WITH base AS ($docToks),
         |t AS (SELECT doc_id, unnest(toks) AS term FROM base),
         |u AS (SELECT DISTINCT doc_id, term FROM t),
         |g AS (SELECT term, count(*) AS df,
         |        string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
         |      FROM u GROUP BY term)
         |SELECT term, df, postings FROM g WHERE df <= 40 ORDER BY term""".stripMargin,

    "text_fertility" ->
      s"""WITH p AS (SELECT lang,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS w,
         |    CAST(len(regexp_extract_all(text,
         |      '${TextAnalysis.subwordPattern}')) AS BIGINT) AS s,
         |    CAST(length(text) AS BIGINT) AS c
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(w) AS BIGINT) AS n_words,
         |  CAST(sum(s) AS BIGINT) AS n_subwords,
         |  round((CAST(sum(s) AS DOUBLE) / nullif(sum(w), 0)) * 1000000)
         |    / 1000000 AS fertility,
         |  round((CAST(sum(c) AS DOUBLE) / nullif(sum(s), 0)) * 1000000)
         |    / 1000000 AS chars_per_subword
         |FROM p GROUP BY 1 ORDER BY lang""".stripMargin,

    "text_hapax" ->
      """WITH t AS (SELECT source,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |  FROM documents),
        |f AS (SELECT source, term, count(*) AS f FROM t GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  round((CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / nullif(count(*), 0)) * 1000000) / 1000000 AS hapax_ratio
        |FROM f GROUP BY 1 ORDER BY source""".stripMargin,

    // Yule's K: Σf² in HUGEINT mirrors the DECIMAL(38,0) sum; one double
    // division, DECIMAL(24,12)-routed.
    "text_yule_k" ->
      """WITH t AS (SELECT source,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |  FROM documents),
        |tc AS (SELECT source, term, CAST(count(*) AS BIGINT) AS f
        |      FROM t GROUP BY 1, 2),
        |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
        |        CAST(sum(f) AS BIGINT) AS n_tokens,
        |        sum(CAST(f AS HUGEINT) * CAST(f AS HUGEINT)) AS sff
        |      FROM tc GROUP BY 1)
        |SELECT source, n_terms, n_tokens,
        |  round((10000.0 * (CAST(sff AS DOUBLE)
        |      - CAST(n_tokens AS DOUBLE))
        |    / nullif(CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE),
        |      0.0)) * 1000000) / 1000000 AS yule_k
        |FROM m ORDER BY source""".stripMargin,

    // Burstiness: same top-200 vocabulary cut (freq DESC, term) as
    // text_vocab; centered moment n·Σc² − (Σc)² formed exactly in
    // HUGEINT (a term at exactly 1/doc everywhere → numerator 0).
    "text_burstiness" ->
      """WITH base AS (SELECT doc_id,
        |        list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |      FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
        |pd AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS c
        |      FROM tok GROUP BY 1, 2),
        |cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS freq
        |      FROM tok GROUP BY 1),
        |top AS (SELECT term FROM cnt ORDER BY freq DESC, term LIMIT 200),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |m AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
        |        CAST(sum(c) AS BIGINT) AS sc,
        |        sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS scc
        |      FROM pd WHERE term IN (SELECT term FROM top) GROUP BY 1)
        |SELECT term, df, sc AS total,
        |  round((CAST(CAST(n_docs AS HUGEINT) * scc
        |      - CAST(sc AS HUGEINT) * CAST(sc AS HUGEINT) AS DOUBLE)
        |    / nullif(CAST(n_docs AS DOUBLE) * CAST(sc AS DOUBLE), 0.0))
        |    * 1000000) / 1000000 AS fano
        |FROM m CROSS JOIN nd ORDER BY term""".stripMargin,

    // MSTTR: 0-based positions (generate_subscripts is 1-based) chop
    // into 8-token full segments; each segment TTR is a 6-dp DECIMAL
    // term; the per-source mean is DECIMAL-routed.
    "text_msttr" ->
      """WITH base AS (SELECT source, doc_id,
        |        list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |      FROM documents),
        |t AS (SELECT source, doc_id, unnest(toks) AS term,
        |        generate_subscripts(toks, 1) - 1 AS pos FROM base),
        |sg AS (SELECT source, doc_id,
        |        CAST(floor(pos / 8) AS BIGINT) AS seg,
        |        count(*) AS n_tok,
        |        CAST(count(DISTINCT term) AS BIGINT) AS n_distinct
        |      FROM t GROUP BY 1, 2, 3 HAVING count(*) = 8)
        |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  count(*) AS n_segments,
        |  round((CAST(sum(CAST(round((CAST(n_distinct AS DOUBLE)
        |      / 8.0) * 1000000) / 1000000 AS DECIMAL(18,6))) AS DOUBLE)
        |    / nullif(CAST(count(*) AS DOUBLE), 0.0)) * 1000000) / 1000000
        |    AS msttr
        |FROM sg GROUP BY 1 ORDER BY source""".stripMargin,

    // Conditional char-bigram entropy: chain rule with no p division —
    // (sum c ln c over prefixes − over cells)/n, both 6-dp DECIMAL sums
    // (the entropy discipline); per-doc H and the source mean routed.
    "text_char_bigram_entropy" ->
      """WITH d AS (SELECT source, doc_id, substr(text, 1, 256) AS s
        |      FROM documents),
        |g AS (SELECT source, doc_id,
        |        unnest(list_transform(range(1, length(s)),
        |          i -> substr(s, CAST(i AS INT), 2))) AS bg
        |      FROM d WHERE length(s) >= 2),
        |cells AS (SELECT source, doc_id, bg, count(*) AS c
        |      FROM g GROUP BY 1, 2, 3),
        |pre AS (SELECT source, doc_id, substr(bg, 1, 1) AS c1,
        |        CAST(sum(c) AS BIGINT) AS c
        |      FROM cells GROUP BY 1, 2, 3),
        |a12 AS (SELECT source, doc_id, CAST(sum(c) AS BIGINT) AS n_bg,
        |        CAST(sum(CAST(round(c * ln(c), 6) AS DECIMAL(18,6)))
        |          AS DECIMAL(38,6)) AS s_bg
        |      FROM cells GROUP BY 1, 2),
        |a1 AS (SELECT source, doc_id,
        |        CAST(sum(CAST(round(c * ln(c), 6) AS DECIMAL(18,6)))
        |          AS DECIMAL(38,6)) AS s_c1
        |      FROM pre GROUP BY 1, 2),
        |pd AS (SELECT a12.source, a12.doc_id, n_bg,
        |        CAST(round((CAST(s_c1 - s_bg AS DOUBLE)
        |          / CAST(n_bg AS DOUBLE)) * 1000000) / 1000000
        |          AS DECIMAL(18,6)) AS h6
        |      FROM a12 JOIN a1 USING (source, doc_id))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_bg) AS BIGINT) AS n_bigrams,
        |  CAST(round((CAST(sum(h6) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE)) * 1000000) / 1000000 AS DOUBLE)
        |    AS mean_cond_entropy
        |FROM pd GROUP BY 1 ORDER BY source""".stripMargin,

    "text_skipgrams" ->
      s"""WITH base AS ($docToks),
         |tok AS (SELECT doc_id, unnest(toks) AS t,
         |          generate_subscripts(toks, 1) AS i FROM base)
         |SELECT a.t AS center, b.t AS context, count(*) AS cnt
         |FROM tok a JOIN tok b ON b.doc_id = a.doc_id
         |  AND b.i BETWEEN a.i - 2 AND a.i + 2 AND b.i <> a.i
         |GROUP BY 1, 2 ORDER BY cnt DESC, center, context LIMIT 100""".stripMargin,

    "text_perplexity" ->
      s"""WITH base AS ($docToks),
         |t AS (SELECT doc_id, unnest(toks) AS term FROM base),
         |tf AS (SELECT doc_id, term, count(*) AS c FROM t GROUP BY 1, 2),
         |tot AS (SELECT term, CAST(sum(c) AS BIGINT) AS cw FROM tf GROUP BY 1),
         |n AS (SELECT CAST(sum(cw) AS BIGINT) AS n_corpus FROM tot),
         |a AS (SELECT tf.doc_id, CAST(sum(tf.c) AS BIGINT) AS n_tokens,
         |        sum(CAST(round(tf.c * ln(CAST(tot.cw AS DOUBLE) / n.n_corpus), 6)
         |          AS DECIMAL(18,6))) AS slogp
         |      FROM tf JOIN tot USING (term) CROSS JOIN n GROUP BY 1)
         |SELECT doc_id, n_tokens,
         |  round((-CAST(slogp AS DOUBLE) / n_tokens) * 1000000) / 1000000
         |    AS log_perplexity,
         |  round(exp(-CAST(slogp AS DOUBLE) / n_tokens), 6) AS perplexity
         |FROM a ORDER BY doc_id""".stripMargin,

    // Mirrors perplexityBigram exactly: same λ literals, same fixed
    // association λ·(cb/cp) + (1−λ)·(cw/N), same 6-dp DECIMAL fold, and
    // the same TIE-EXACT integer final round — (2x+m)//(2m) on the
    // 10⁶-scaled sum — because the double quotient lands exactly on the
    // 0.5×10⁻⁶ rounding tie for ~1/m of docs (see the operator scaladoc).
    "text_perplexity_bigram" ->
      s"""WITH base AS ($docToks),
         |tok AS (SELECT doc_id, unnest(toks) AS term,
         |          generate_subscripts(toks, 1) AS i FROM base),
         |dbg AS (SELECT a.doc_id, a.term AS prev, b.term AS term,
         |          count(*) AS c
         |        FROM tok a JOIN tok b
         |          ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |        GROUP BY 1, 2, 3),
         |cb AS (SELECT prev, term, CAST(sum(c) AS BIGINT) AS cb
         |       FROM dbg GROUP BY 1, 2),
         |cp AS (SELECT prev, CAST(sum(cb) AS BIGINT) AS cp FROM cb GROUP BY 1),
         |uni AS (SELECT term, count(*) AS cw FROM tok GROUP BY 1),
         |n AS (SELECT CAST(sum(cw) AS BIGINT) AS n_corpus FROM uni),
         |a AS (SELECT dbg.doc_id, CAST(sum(dbg.c) AS BIGINT) AS n_bigrams,
         |        sum(CAST(round(dbg.c * ln(
         |            0.75 * (CAST(cb.cb AS DOUBLE) / cp.cp)
         |          + 0.25 * (CAST(uni.cw AS DOUBLE) / n.n_corpus)), 6)
         |          AS DECIMAL(18,6))) AS slogp
         |      FROM dbg JOIN cb USING (prev, term) JOIN cp USING (prev)
         |        JOIN uni USING (term) CROSS JOIN n GROUP BY 1),
         |x AS (SELECT doc_id, n_bigrams, slogp,
         |        CAST(-slogp * 1000000 AS BIGINT) AS x FROM a)
         |SELECT doc_id, n_bigrams,
         |  CAST((x * 2 + n_bigrams) // (n_bigrams * 2) AS DOUBLE) / 1000000.0
         |    AS log_perplexity,
         |  round(exp(-CAST(slogp AS DOUBLE) / n_bigrams), 6) AS perplexity
         |FROM x ORDER BY doc_id""".stripMargin,

    // Exact interpolated quartiles as broadcast boundaries (the ana_rfm
    // recipe); integer lengths keep the comparisons engine-stable.
    "text_length_buckets" ->
      s"""WITH lens AS (SELECT doc_id, CAST(len(regexp_extract_all(text,
         |    '${TextAnalysis.subwordPattern}')) AS BIGINT) AS n_subwords
         |  FROM documents),
         |b AS (SELECT quantile_cont(n_subwords, [0.25, 0.5, 0.75]) AS bnds
         |      FROM lens)
         |SELECT doc_id, n_subwords,
         |  CAST(1 + len(list_filter(bnds, x -> CAST(n_subwords AS DOUBLE) > x))
         |    AS BIGINT) AS bucket
         |FROM lens CROSS JOIN b ORDER BY doc_id""".stripMargin,

    // ORDER BY includes value: (orderkey, linenumber) has real duplicate
    // rows in this data, so the value column completes the total order.
    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |  l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, metric, value""".stripMargin,

    // Same sessionization-derived SCD2 CTE as merge_scd2, plus the
    // validity-interval lookup (valid_from inclusive, valid_to exclusive).
    "q_scd2_lookup" ->
      """WITH tr AS (SELECT user_id, ts, event_id, event_type,
        |        lag(event_type) OVER w AS prev, row_number() OVER w AS rn
        |      FROM events
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |chg AS (SELECT user_id, ts, event_id, event_type FROM tr
        |        WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
        |hist AS (SELECT user_id, event_type AS state, ts AS valid_from,
        |          lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |            AS valid_to,
        |          CAST(row_number() OVER (PARTITION BY user_id
        |            ORDER BY ts, event_id) AS BIGINT) AS version
        |        FROM chg),
        |f AS (SELECT event_id, user_id, ts AS fact_ts FROM events
        |      WHERE event_id % 10 = 0)
        |SELECT f.event_id, f.user_id, f.fact_ts, h.state, h.version
        |FROM f JOIN hist h ON h.user_id = f.user_id
        |  AND f.fact_ts >= h.valid_from
        |  AND (h.valid_to IS NULL OR f.fact_ts < h.valid_to)
        |ORDER BY f.event_id""".stripMargin,

    "dq_profile_drift" -> {
      def side(src: String, tag: String) =
        Seq("o_custkey", "o_totalprice").map { c =>
          s"""SELECT '$c' AS col_name, count(*) AS n_rows_$tag,
             |  count(*) - count($c) AS n_nulls_$tag,
             |  count(DISTINCT $c) AS n_distinct_$tag,
             |  CAST(sum(CAST($c AS DECIMAL(28,6))) AS DOUBLE) / count($c)
             |    AS mean_$tag
             |FROM $src""".stripMargin
        }.mkString("\nUNION ALL\n")
      s"""WITH o AS (SELECT * FROM orders
         |  WHERE o_orderdate < TIMESTAMP '1997-01-01'),
         |po AS (${side("o", "old")}),
         |pn AS (${side("orders", "new")})
         |SELECT col_name, n_rows_old, n_nulls_old, n_distinct_old,
         |  round(mean_old, 6) AS mean_old,
         |  n_rows_new, n_nulls_new, n_distinct_new,
         |  round(mean_new, 6) AS mean_new,
         |  round(mean_new - mean_old, 6) AS mean_delta
         |FROM po JOIN pn USING (col_name) ORDER BY col_name""".stripMargin
    },

    // Same empty-cell identity as the Spark side (chi² = n + Σ over
    // OBSERVED cells of (o−e)²/e − e); e's double conversion order
    // mirrored exactly; terms round(6) + DECIMAL-summed; V NULL for a
    // constant column.
    "dq_association" -> {
      def pairSql(a: String, b: String) =
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
           |  q.n, q.k_a, q.k_b,
           |  round(q.n + q.ts, 6) AS chi2,
           |  round((CASE WHEN least(q.k_a, q.k_b) = 1 THEN NULL
           |    ELSE sqrt((q.n + q.ts)
           |      / ((least(q.k_a, q.k_b) - 1) * q.n)) END) * 1000000)
           |    / 1000000 AS cramers_v
           |FROM (
           |  SELECT any_value(tt.n) AS n, any_value(tt.k_a) AS k_a,
           |    any_value(tt.k_b) AS k_b,
           |    CAST(sum(CAST(tt.term AS DECIMAL(28,6))) AS DOUBLE) AS ts
           |  FROM (
           |    SELECT t.n, t.k_a, t.k_b,
           |      round(((c.o - CAST(r.ra AS DOUBLE) * ct.cb / t.n)
           |        * (c.o - CAST(r.ra AS DOUBLE) * ct.cb / t.n)
           |        / (CAST(r.ra AS DOUBLE) * ct.cb / t.n)
           |        - CAST(r.ra AS DOUBLE) * ct.cb / t.n) * 1000000)
           |        / 1000000 AS term
           |    FROM (SELECT $a AS va, $b AS vb, count(*) AS o
           |          FROM lineitem GROUP BY 1, 2) c
           |    JOIN (SELECT $a AS va, CAST(count(*) AS BIGINT) AS ra
           |          FROM lineitem GROUP BY 1) r USING (va)
           |    JOIN (SELECT $b AS vb, CAST(count(*) AS BIGINT) AS cb
           |          FROM lineitem GROUP BY 1) ct USING (vb)
           |    CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n,
           |        count(DISTINCT $a) AS k_a, count(DISTINCT $b) AS k_b
           |      FROM lineitem) t
           |  ) tt
           |) q""".stripMargin
      val cols = Seq("l_returnflag", "l_linestatus", "l_linenumber")
      val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
        yield pairSql(cols(i), cols(j))
      pairs.mkString("", "\nUNION ALL\n", "\nORDER BY col_a, col_b")
    },

    // Benford: first digit from the exact integer-cents string on both
    // engines; expected shares are shared 6-dp literals (no ln anywhere);
    // chi-square terms round(6) + DECIMAL-summed.
    "dq_benford" ->
      """WITH x AS (SELECT abs(o_totalprice) * 100 AS x FROM orders),
        |u AS (SELECT CAST(round(x) AS BIGINT) AS u FROM x WHERE x > 0),
        |d AS (SELECT CAST(substr(CAST(u AS VARCHAR), 1, 1) AS INT) AS digit
        |      FROM u WHERE u > 0),
        |c AS (SELECT digit, count(*) AS c FROM d GROUP BY 1),
        |spine AS (SELECT CAST(d AS INT) AS digit, CAST(e AS DOUBLE) AS exp_share
        |      FROM (VALUES (1, 0.301030), (2, 0.176091), (3, 0.124939),
        |            (4, 0.096910), (5, 0.079181), (6, 0.066947),
        |            (7, 0.057992), (8, 0.051153), (9, 0.045757)) t(d, e)),
        |j AS (SELECT s.digit, coalesce(c.c, 0) AS c, s.exp_share
        |      FROM spine s LEFT JOIN c USING (digit)),
        |t AS (SELECT digit, c, exp_share,
        |        CAST(sum(c) OVER () AS BIGINT) AS n FROM j),
        |t2 AS (SELECT digit, c,
        |        round((CAST(c AS DOUBLE) / n) * 1000000) / 1000000
        |          AS obs_share, exp_share,
        |        round(((c - n * exp_share) * (c - n * exp_share)
        |          / (n * exp_share)) * 1000000) / 1000000 AS chi2_term
        |      FROM t),
        |tot AS (SELECT CAST(sum(CAST(chi2_term AS DECIMAL(28,6))) AS DOUBLE)
        |        AS chi2 FROM t2)
        |SELECT digit, c, obs_share, exp_share, chi2_term, chi2
        |FROM t2 CROSS JOIN tot ORDER BY digit""".stripMargin,

    // PSI: identical reference-anchored binning arithmetic (subtract /
    // divide / floor / clamp — all single IEEE ops), Laplace-smoothed
    // shares as exact-integer divisions, per-bin ln terms through the
    // round(6) + DECIMAL-sum discipline (text_entropy precedent).
    "dq_psi" ->
      """WITH r AS (SELECT CAST(value AS DOUBLE) AS v FROM events
        |      WHERE event_type = 'click'),
        |c AS (SELECT CAST(value AS DOUBLE) AS v FROM events
        |      WHERE event_type = 'error'),
        |b AS (SELECT CAST(min(v) AS DOUBLE) AS lo,
        |        CAST(max(v) AS DOUBLE) AS hi FROM r),
        |br AS (SELECT CASE WHEN hi = lo THEN 0 ELSE
        |        CAST(least(greatest(floor((v - lo) / ((hi - lo) / 10)), 0), 9)
        |          AS INT) END AS bin FROM r CROSS JOIN b),
        |bc AS (SELECT CASE WHEN hi = lo THEN 0 ELSE
        |        CAST(least(greatest(floor((v - lo) / ((hi - lo) / 10)), 0), 9)
        |          AS INT) END AS bin FROM c CROSS JOIN b),
        |spine AS (SELECT CAST(bin AS INT) AS bin FROM range(10) t(bin)),
        |cr AS (SELECT bin, count(*) AS n FROM br GROUP BY 1),
        |cc AS (SELECT bin, count(*) AS n FROM bc GROUP BY 1),
        |counts AS (SELECT s.bin, coalesce(cr.n, 0) AS c_ref,
        |        coalesce(cc.n, 0) AS c_cur
        |      FROM spine s LEFT JOIN cr USING (bin) LEFT JOIN cc USING (bin)),
        |tot AS (SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref,
        |        CAST(sum(c_cur) AS BIGINT) AS n_cur FROM counts),
        |terms AS (SELECT bin, c_ref, c_cur,
        |        CAST(c_ref + 1 AS DOUBLE) / (n_ref + 10) AS p_ref,
        |        CAST(c_cur + 1 AS DOUBLE) / (n_cur + 10) AS p_cur
        |      FROM counts CROSS JOIN tot),
        |t2 AS (SELECT bin, c_ref, c_cur, p_ref, p_cur,
        |        round((p_ref - p_cur) * ln(p_ref / p_cur), 6) AS term
        |      FROM terms),
        |tpsi AS (SELECT CAST(sum(CAST(term AS DECIMAL(18,6))) AS DOUBLE)
        |        AS psi FROM t2)
        |SELECT bin, c_ref, c_cur,
        |  round(p_ref * 1000000) / 1000000 AS p_ref,
        |  round(p_cur * 1000000) / 1000000 AS p_cur, term, psi
        |FROM t2 CROSS JOIN tpsi ORDER BY bin""".stripMargin,

    // KS: exact-integer cumulative counts over distinct values (the
    // Spark side's two-level prefix sum collapses to one window here),
    // one IEEE division per side, gap rounded to 6 dp before the max;
    // tie on the max gap broken by smallest value on both engines.
    "dq_ks_test" ->
      """WITH byv AS (SELECT v, CAST(sum(cr) AS BIGINT) AS cr,
        |        CAST(sum(cc) AS BIGINT) AS cc FROM (
        |      SELECT CAST(value AS DOUBLE) AS v, 1 AS cr, 0 AS cc FROM events
        |      WHERE event_type = 'click' AND value IS NOT NULL
        |      UNION ALL
        |      SELECT CAST(value AS DOUBLE) AS v, 0, 1 FROM events
        |      WHERE event_type = 'error' AND value IS NOT NULL) GROUP BY 1),
        |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS n_ref,
        |        CAST(sum(cc) AS BIGINT) AS n_cur FROM byv),
        |g AS (SELECT v, n_ref, n_cur,
        |        round(abs(CAST(sum(cr) OVER w AS DOUBLE) / CAST(n_ref AS DOUBLE)
        |          - CAST(sum(cc) OVER w AS DOUBLE) / CAST(n_cur AS DOUBLE))
        |          * 1000000) / 1000000 AS gap
        |      FROM byv CROSS JOIN tot
        |      WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND CURRENT ROW)),
        |mx AS (SELECT max(gap) AS ks_stat FROM g)
        |SELECT min(g.n_ref) AS n_ref, min(g.n_cur) AS n_cur,
        |  min(mx.ks_stat) AS ks_stat, min(v) AS ks_at_value
        |FROM g CROSS JOIN mx WHERE g.gap = mx.ks_stat""".stripMargin,

    // AUC: concordant-pairs-plus-half-ties from grouped score counts —
    // the numerator is BIGINT-exact on both engines; ONE rounded
    // division at the end.
    "dq_auc" ->
      """WITH s AS (SELECT CAST(value AS DOUBLE) AS v,
        |        CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
        |      FROM events WHERE event_type IN ('click', 'error')
        |        AND value IS NOT NULL),
        |byv AS (SELECT v, CAST(sum(y) AS BIGINT) AS cp,
        |        CAST(sum(1 - y) AS BIGINT) AS cn FROM s GROUP BY 1),
        |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
        |        CAST(sum(cn) AS BIGINT) AS n_neg FROM byv),
        |g AS (SELECT cp * (2 * CAST(coalesce(sum(cn) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS BIGINT) + cn) AS num2 FROM byv),
        |n2 AS (SELECT CAST(sum(num2) AS BIGINT) AS num2 FROM g)
        |SELECT n_pos, n_neg,
        |  round((CAST(num2 AS DOUBLE) /
        |    (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)))
        |    * 1000000) / 1000000 AS auc
        |FROM tot CROSS JOIN n2""".stripMargin,

    // Calibration: PSI's reference-anchored equal-width binning
    // arithmetic (single IEEE ops), DECIMAL-quantized score sums.
    "dq_calibration" ->
      """WITH s AS (SELECT CAST(value AS DOUBLE) AS v,
        |        CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
        |      FROM events WHERE event_type IN ('click', 'error')
        |        AND value IS NOT NULL),
        |b AS (SELECT CAST(min(v) AS DOUBLE) AS lo,
        |        CAST(max(v) AS DOUBLE) AS hi FROM s),
        |bb AS (SELECT CASE WHEN hi = lo THEN 0 ELSE
        |        CAST(least(greatest(floor((v - lo) / ((hi - lo) / 10)), 0), 9)
        |          AS INT) END AS bin, v, y FROM s CROSS JOIN b),
        |agg AS (SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
        |        sum(CAST(round(v, 6) AS DECIMAL(28,6))) AS sv
        |      FROM bb GROUP BY 1)
        |SELECT bin, n, n_pos,
        |  round((CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000) / 1000000
        |    AS mean_score,
        |  round((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000)
        |    / 1000000 AS pos_rate
        |FROM agg ORDER BY bin""".stripMargin,

    // MI: every ln argument is a ratio of exact integer counts composed
    // in the Spark side's operation order; per-term round(6) +
    // DECIMAL(18,6) sums (the PSI/entropy discipline); nmi divides the
    // UNrounded decimal-exact mi/h_a/h_b like the Spark select does.
    "dq_mutual_info" ->
      """WITH cells AS (SELECT source AS va, lang AS vb, count(*) AS o
        |      FROM documents GROUP BY 1, 2),
        |ra AS (SELECT va, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
        |cb AS (SELECT vb, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |        count(DISTINCT va) AS k_a, count(DISTINCT vb) AS k_b
        |      FROM cells),
        |mi0 AS (SELECT CAST(sum(CAST(round(
        |        CAST(o AS DOUBLE) / CAST(n AS DOUBLE) *
        |        ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE) /
        |          (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE))), 6)
        |        AS DECIMAL(18,6))) AS DOUBLE) AS mi
        |      FROM cells JOIN ra USING (va) JOIN cb USING (vb)
        |      CROSS JOIN tot),
        |ha AS (SELECT CAST(sum(CAST(round(
        |        CAST(ra AS DOUBLE) / CAST(n AS DOUBLE) *
        |        ln(CAST(n AS DOUBLE) / CAST(ra AS DOUBLE)), 6)
        |        AS DECIMAL(18,6))) AS DOUBLE) AS h_a FROM ra CROSS JOIN tot),
        |hb AS (SELECT CAST(sum(CAST(round(
        |        CAST(cb AS DOUBLE) / CAST(n AS DOUBLE) *
        |        ln(CAST(n AS DOUBLE) / CAST(cb AS DOUBLE)), 6)
        |        AS DECIMAL(18,6))) AS DOUBLE) AS h_b FROM cb CROSS JOIN tot)
        |SELECT n, k_a, k_b, round(mi, 6) AS mi,
        |  round(h_a, 6) AS h_a, round(h_b, 6) AS h_b,
        |  round((mi / sqrt(h_a * h_b)) * 1000000) / 1000000 AS nmi
        |FROM mi0 CROSS JOIN ha CROSS JOIN hb CROSS JOIN tot""".stripMargin,

    // PK uniqueness: one grouped count per declared key, unioned.
    "dq_pk_uniqueness" -> {
      def one(table: String, keys: String) =
        s"""SELECT '$table' AS table_name,
           |  '${keys.replace(" ", "")}' AS key_cols,
           |  CAST(sum(c) AS BIGINT) AS n_rows,
           |  count(*) AS n_distinct_keys,
           |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_dup_keys
           |FROM (SELECT count(*) AS c FROM $table GROUP BY $keys)""".stripMargin
      s"""SELECT table_name, key_cols, n_rows, n_distinct_keys, n_dup_keys,
         |  n_dup_keys = 0 AS is_unique
         |FROM (${one("customer", "c_custkey")}
         |UNION ALL ${one("orders", "o_orderkey")}
         |UNION ALL ${one("part", "p_partkey")}
         |UNION ALL ${one("lineitem", "l_orderkey, l_linenumber")}
         |UNION ALL ${one("documents", "doc_id")}
         |UNION ALL ${one("events", "event_id")})
         |ORDER BY table_name""".stripMargin
    },

    // Calendar audit: exact integer date arithmetic; the longest gap
    // from the lag over ordered distinct days.
    "dq_calendar" ->
      """WITH days AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS d
        |      FROM events WHERE ts IS NOT NULL),
        |g AS (SELECT event_type, d,
        |        date_diff('day', lag(d, 1) OVER (PARTITION BY event_type
        |          ORDER BY d), d) - 1 AS gap
        |      FROM days),
        |a AS (SELECT event_type, count(*) AS n_days, min(d) AS first_day,
        |        max(d) AS last_day, max(gap) AS mg
        |      FROM g GROUP BY 1)
        |SELECT event_type, n_days, first_day, last_day,
        |  CAST(date_diff('day', first_day, last_day) + 1 AS BIGINT)
        |    AS span_days,
        |  CAST(date_diff('day', first_day, last_day) + 1 - n_days
        |    AS BIGINT) AS missing_days,
        |  CAST(coalesce(mg, 0) AS BIGINT) AS max_gap_days,
        |  CAST(round((CAST(n_days AS DOUBLE)
        |    / CAST(date_diff('day', first_day, last_day) + 1 AS DOUBLE)
        |   ) * 1000000) / 1000000 AS DOUBLE) AS coverage
        |FROM a ORDER BY event_type""".stripMargin,

    // Chi2: 6-dp-quantized per-category contributions, exact DECIMAL
    // total; argmax mirrored as ORDER BY (c DESC, category DESC) LIMIT 1.
    "dq_chi2" ->
      """WITH c AS (SELECT CAST(event_type AS VARCHAR) AS category,
        |        count(*) AS n_obs
        |      FROM events WHERE event_type IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_rows,
        |        count(*) AS k FROM c),
        |x AS (SELECT category, n_obs, n_rows, k,
        |        CAST(n_rows AS DOUBLE) / k AS expected
        |      FROM c CROSS JOIN t),
        |g AS (SELECT category, n_rows, k,
        |        CAST(round(((CAST(n_obs AS DOUBLE) - expected)
        |          * (CAST(n_obs AS DOUBLE) - expected) / expected
        |         ) * 1000000) / 1000000 AS DOUBLE) AS c2 FROM x)
        |SELECT max(n_rows) AS n_rows,
        |  CAST(max(k) AS BIGINT) AS n_categories,
        |  CAST(max(k) - 1 AS BIGINT) AS dof,
        |  CAST(sum(CAST(c2 AS DECIMAL(24,6))) AS DOUBLE) AS chi2,
        |  CAST(round((CAST(sum(CAST(c2 AS DECIMAL(24,6))) AS DOUBLE)
        |    / CAST(max(k) - 1 AS DOUBLE)) * 1000000) / 1000000 AS DOUBLE)
        |    AS chi2_per_dof,
        |  (SELECT category FROM g ORDER BY c2 DESC, category DESC LIMIT 1)
        |    AS top_category,
        |  max(c2) AS top_contrib
        |FROM g""".stripMargin,

    // Sequence audit: exact integer backstep comparisons along the
    // event_id ingestion order.
    "dq_sequence" ->
      """WITH r AS (SELECT user_id, event_id, epoch_us(ts) AS us
        |      FROM events),
        |l AS (SELECT user_id, us,
        |        lag(us, 1) OVER (PARTITION BY user_id ORDER BY event_id)
        |          AS prev
        |      FROM r),
        |k AS (SELECT user_id, count(*) AS n,
        |        CAST(sum(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END)
        |          AS BIGINT) AS np,
        |        CAST(sum(CASE WHEN us < prev THEN 1 ELSE 0 END)
        |          AS BIGINT) AS nr,
        |        max(CASE WHEN us < prev THEN prev - us END) AS mb
        |      FROM l GROUP BY 1)
        |SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(sum(np) AS BIGINT) AS n_pairs,
        |  CAST(sum(nr) AS BIGINT) AS n_regressions,
        |  CAST(sum(CASE WHEN nr > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_keys_with_regressions,
        |  max(mb) AS max_backstep_us,
        |  CAST(round((1e0 - CAST(sum(nr) AS DOUBLE)
        |    / nullif(CAST(sum(np) AS DOUBLE), 0e0)
        |   ) * 1000000) / 1000000 AS DOUBLE) AS ordered_rate
        |FROM k""".stripMargin,

    // FD discovery: per-pair distinct counts as scalar subqueries (the
    // oracle pays 12 scans; the Spark side is one Expand aggregate),
    // count(DISTINCT) NULL semantics shared by both engines.
    "dq_func_deps" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
      val pairs = for { a <- cols; b <- cols if a != b } yield (a, b)
      val sels = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS lhs, '$b' AS rhs,
           |  (SELECT CAST(count(DISTINCT $a) AS BIGINT) FROM orders)
           |    AS n_distinct_lhs,
           |  (SELECT CAST(count(*) AS BIGINT) FROM
           |    (SELECT DISTINCT $a, $b FROM orders
           |     WHERE $a IS NOT NULL AND $b IS NOT NULL))
           |    AS n_distinct_pair""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""SELECT lhs, rhs, n_distinct_lhs, n_distinct_pair,
         |  n_distinct_pair = n_distinct_lhs AS fd_holds,
         |  round((CAST(n_distinct_lhs AS DOUBLE)
         |    / nullif(CAST(n_distinct_pair AS DOUBLE), 0.0)) * 1000000)
         |    / 1000000 AS strength
         |FROM ($sels)
         |ORDER BY lhs, rhs""".stripMargin
    },

    // Constraint suite: one aggregate computes all violation counts;
    // NULL predicates count as violations (NOT coalesce(p, FALSE)).
    "dq_constraints" ->
      """WITH a AS (SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN NOT coalesce(value >= 0, FALSE)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v0,
        |  CAST(sum(CASE WHEN NOT coalesce(event_type IN
        |      ('click', 'view', 'purchase', 'signup', 'error'), FALSE)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |  CAST(sum(CASE WHEN user_id IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |  CAST(sum(CASE WHEN NOT coalesce(
        |      ts >= TIMESTAMP '2023-01-01'
        |      AND ts < TIMESTAMP '2027-01-01', FALSE)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        |  CAST(sum(CASE WHEN props IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v4
        |  FROM events)
        |SELECT rule_idx, rule, n_rows, n_violations,
        |  round((CAST(n_violations AS DOUBLE) / CAST(n_rows AS DOUBLE))
        |    * 1000000) / 1000000 AS violation_rate,
        |  n_violations = 0 AS passed
        |FROM (
        |  SELECT 0 AS rule_idx, 'value_non_negative' AS rule,
        |    n_rows, v0 AS n_violations FROM a
        |  UNION ALL SELECT 1, 'event_type_known', n_rows, v1 FROM a
        |  UNION ALL SELECT 2, 'user_id_present', n_rows, v2 FROM a
        |  UNION ALL SELECT 3, 'ts_in_range', n_rows, v3 FROM a
        |  UNION ALL SELECT 4, 'props_parseable', n_rows, v4 FROM a)
        |ORDER BY rule_idx""".stripMargin,

    // Referential integrity: orphan counts per FK relation via left
    // joins against the distinct parent keys.
    "dq_referential" ->
      """WITH r1 AS (SELECT 'lineitem_orders' AS relation,
        |        count(*) AS n_child,
        |        CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_orphans
        |      FROM lineitem l LEFT JOIN
        |        (SELECT DISTINCT o_orderkey FROM orders) o
        |        ON l.l_orderkey = o.o_orderkey
        |      WHERE l.l_orderkey IS NOT NULL),
        |r2 AS (SELECT 'orders_customer' AS relation, count(*) AS n_child,
        |        CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_orphans
        |      FROM orders o LEFT JOIN
        |        (SELECT DISTINCT c_custkey FROM customer) c
        |        ON o.o_custkey = c.c_custkey
        |      WHERE o.o_custkey IS NOT NULL),
        |r3 AS (SELECT 'lineitem_part' AS relation, count(*) AS n_child,
        |        CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_orphans
        |      FROM lineitem l LEFT JOIN
        |        (SELECT DISTINCT p_partkey FROM part) p
        |        ON l.l_partkey = p.p_partkey
        |      WHERE l.l_partkey IS NOT NULL)
        |SELECT relation, n_child, n_orphans,
        |  round((CAST(n_orphans AS DOUBLE) / CAST(n_child AS DOUBLE))
        |    * 1000000) / 1000000 AS orphan_rate,
        |  n_orphans = 0 AS intact
        |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |      UNION ALL SELECT * FROM r3)
        |ORDER BY relation""".stripMargin,

    // NB: train + score CTE-for-plan — Laplace-smoothed per-term log
    // likelihoods 6-dp-rounded into DECIMAL sums, rounded priors, argmax
    // tie to smaller label; docs with zero tokens carry no evidence and
    // drop from the eval on both engines (inner token join).
    "ml_nb_accuracy" ->
      s"""$nbPredCtes
        |SELECT d.lang AS label, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN pred = d.lang THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  round((CAST(sum(CASE WHEN pred = d.lang THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1000000) / 1000000
        |    AS recall
        |FROM pred JOIN documents d USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Learning curve: the split-NB chain instantiated per fraction
    // against the fixed held-out decile.
    "ml_learning_curve" -> {
      val test = "doc_id % 10 = 9"
      val pool = "doc_id % 10 <> 9"
      s"""WITH ${nbSplitRow("f25", "CAST(0.25 AS DOUBLE)",
              s"$pool AND doc_id % 4 = 0", test)},
         |${nbSplitRow("f50", "CAST(0.5 AS DOUBLE)",
              s"$pool AND doc_id % 2 = 0", test)},
         |${nbSplitRow("f100", "CAST(1.0 AS DOUBLE)", pool, test)}
         |SELECT * FROM f25row UNION ALL SELECT * FROM f50row
         |UNION ALL SELECT * FROM f100row ORDER BY train_frac""".stripMargin
    },

    // Confusion cells from the same unrolled NB predictions; row_share
    // normalizes within the true label.
    "ml_confusion" ->
      s"""$nbPredCtes,
        |cm AS (SELECT d.lang AS label, pred, CAST(count(*) AS BIGINT) AS n
        |      FROM pred JOIN documents d USING (doc_id) GROUP BY 1, 2),
        |tot AS (SELECT label, CAST(sum(n) AS BIGINT) AS n_label
        |      FROM cm GROUP BY 1)
        |SELECT label, pred, n,
        |  round((CAST(n AS DOUBLE) / CAST(n_label AS DOUBLE)) * 1000000)
        |    / 1000000 AS row_share
        |FROM cm JOIN tot USING (label) ORDER BY label, pred""".stripMargin,

    // Per-class P/R/F1: truth-side and prediction-side counts
    // full-outer-joined; F1 from the unrounded legs, 0/0 -> 0.
    "ml_class_report" ->
      s"""$nbPredCtes,
        |pl AS (SELECT d.lang AS y, pred
        |      FROM pred JOIN documents d USING (doc_id)),
        |tt AS (SELECT y AS label, count(*) AS n_true,
        |        CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT)
        |          AS tp FROM pl GROUP BY 1),
        |pp AS (SELECT pred AS label, count(*) AS n_pred FROM pl GROUP BY 1),
        |j AS (SELECT coalesce(tt.label, pp.label) AS label,
        |        coalesce(n_true, 0) AS n_true, coalesce(n_pred, 0) AS n_pred,
        |        coalesce(tp, 0) AS tp
        |      FROM tt FULL OUTER JOIN pp ON pp.label = tt.label),
        |k AS (SELECT label, n_true, n_pred, tp,
        |        CAST(tp AS DOUBLE) / nullif(CAST(n_pred AS DOUBLE), 0.0) AS p,
        |        CAST(tp AS DOUBLE) / nullif(CAST(n_true AS DOUBLE), 0.0) AS r
        |      FROM j)
        |SELECT label, n_true, n_pred, tp,
        |  round(p * 1000000) / 1000000 AS "precision",
        |  round(r * 1000000) / 1000000 AS recall,
        |  round((CASE WHEN coalesce(p, 0e0) + coalesce(r, 0e0) = 0e0 THEN 0e0
        |    ELSE 2e0 * coalesce(p, 0e0) * coalesce(r, 0e0)
        |      / (coalesce(p, 0e0) + coalesce(r, 0e0)) END) * 1000000)
        |    / 1000000 AS f1
        |FROM k ORDER BY label""".stripMargin,

    // Kappa/MCC: marginal products on DECIMAL(19,0)x(19,0) -> (38,0)
    // exact; kappa and R_K are DECIMAL-routed doubles of exact decimals.
    "ml_mcc_kappa" ->
      s"""$nbPredCtes,
        |pl AS (SELECT d.lang AS y, pred
        |      FROM pred JOIN documents d USING (doc_id)),
        |tt AS (SELECT y AS label, count(*) AS tk FROM pl GROUP BY 1),
        |pp AS (SELECT pred AS label, count(*) AS pk FROM pl GROUP BY 1),
        |mm AS (SELECT coalesce(tk, 0) AS tk, coalesce(pk, 0) AS pk
        |      FROM tt FULL OUTER JOIN pp ON tt.label = pp.label),
        |mg AS (SELECT
        |        CAST(sum(CAST(tk AS DECIMAL(19,0))
        |          * CAST(pk AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS stp,
        |        CAST(sum(CAST(tk AS DECIMAL(19,0))
        |          * CAST(tk AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS stt,
        |        CAST(sum(CAST(pk AS DECIMAL(19,0))
        |          * CAST(pk AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS spp
        |      FROM mm),
        |bs AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_correct,
        |        CAST(count(DISTINCT y) AS BIGINT) AS n_classes_true,
        |        CAST(count(DISTINCT pred) AS BIGINT) AS n_classes_pred
        |      FROM pl),
        |x AS (SELECT n, n_correct, n_classes_true, n_classes_pred,
        |        CAST(CAST(n_correct AS DECIMAL(19,0))
        |          * CAST(n AS DECIMAL(19,0)) - stp AS DOUBLE) AS num,
        |        CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)) AS s2,
        |        stp, stt, spp
        |      FROM bs CROSS JOIN mg)
        |SELECT n, n_correct, n_classes_true, n_classes_pred,
        |  round((CAST(n_correct AS DOUBLE)
        |    / nullif(CAST(n AS DOUBLE), 0.0)) * 1000000) / 1000000
        |    AS accuracy,
        |  round((CASE WHEN CAST(s2 - stp AS DOUBLE) <> 0.0
        |      THEN num / CAST(s2 - stp AS DOUBLE) ELSE NULL END)
        |    * 1000000) / 1000000 AS kappa,
        |  round((CASE WHEN CAST(s2 - spp AS DOUBLE) > 0
        |      AND CAST(s2 - stt AS DOUBLE) > 0
        |      THEN num / sqrt(CAST(s2 - spp AS DOUBLE)
        |        * CAST(s2 - stt AS DOUBLE)) ELSE NULL END)
        |    * 1000000) / 1000000 AS mcc
        |FROM x""".stripMargin,

    // kNN: the bruteAnnOracle ranking convention (unrounded cosine,
    // neighbor-id ties) on the 1-in-10 query sample, majority vote tie
    // to smaller label.
    "ml_knn_accuracy" ->
      """WITH e AS (SELECT vec_id,
        |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |        label FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qe, label AS qlabel
        |      FROM e WHERE vec_id % 10 = 0),
        |s AS (SELECT query_id, c.vec_id AS neighbor_id, c.label AS nl,
        |        list_cosine_similarity(qe, c.v) AS cos
        |      FROM q, e c WHERE c.vec_id <> query_id),
        |top AS (SELECT query_id, nl FROM (
        |      SELECT query_id, nl, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, neighbor_id) AS rn FROM s)
        |      WHERE rn <= 5),
        |votes AS (SELECT query_id, nl, count(*) AS cvotes
        |      FROM top GROUP BY 1, 2),
        |pred AS (SELECT query_id, nl AS pred FROM (
        |      SELECT query_id, nl, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cvotes DESC, nl) AS rn FROM votes) WHERE rn = 1)
        |SELECT qlabel AS label, count(*) AS n,
        |  CAST(sum(CASE WHEN pred = qlabel THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  round((CAST(sum(CASE WHEN pred = qlabel THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1000000) / 1000000
        |    AS accuracy
        |FROM pred JOIN q USING (query_id) GROUP BY 1 ORDER BY 1""".stripMargin,

    // Logreg: the two GD steps unrolled CTE-for-plan — step 1's margins
    // are exactly 0 from w=0 (p = 0.5 on both engines, no exp), step 2's
    // margins are 6-dp-rounded DECIMAL dot products BEFORE the sigmoid,
    // its output re-rounded, gradients DECIMAL-summed — so exp's libm
    // ulps never reach a comparison.
    "ml_logreg" ->
      """WITH flat AS (SELECT vec_id,
        |        CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
        |        CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |y AS (SELECT vec_id, CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS y
        |      FROM embeddings),
        |n AS (SELECT count(*) AS n FROM embeddings),
        |r1 AS (SELECT vec_id, 0.5 - y AS r FROM y),
        |g1 AS (SELECT dim, CAST(sum(CAST(round(r * x, 6) AS DECIMAL(18,6)))
        |          AS DOUBLE) AS g
        |      FROM flat JOIN r1 USING (vec_id) GROUP BY 1),
        |w1 AS (SELECT dim, round((0.0 - 0.5 * g / n) * 1000000) / 1000000 AS w
        |      FROM g1 CROSS JOIN n),
        |m2 AS (SELECT vec_id, round(CAST(sum(CAST(round(x * w, 6)
        |          AS DECIMAL(18,6))) AS DOUBLE), 6) AS margin
        |      FROM flat JOIN w1 USING (dim) GROUP BY 1),
        |r2 AS (SELECT m2.vec_id,
        |        round(1.0 / (1.0 + exp(-margin)), 6) - y AS r
        |      FROM m2 JOIN y USING (vec_id)),
        |g2 AS (SELECT dim, CAST(sum(CAST(round(r * x, 6) AS DECIMAL(18,6)))
        |          AS DOUBLE) AS g
        |      FROM flat JOIN r2 USING (vec_id) GROUP BY 1)
        |SELECT w1.dim, round((w - 0.5 * g / n) * 1000000) / 1000000 AS weight
        |FROM w1 JOIN g2 USING (dim) CROSS JOIN n ORDER BY dim""".stripMargin,

    // Ridge: the nine 6-dp-quantized DECIMAL(38,6) Gram sums and the
    // Cramer determinant expansions transcribed in the Spark side's
    // EXACT operation order (symmetric entries substituted identically),
    // so every determinant is the same IEEE value on both engines.
    // PR sweep: one aggregate, per-threshold TP/FP pairs unioned out.
    "ml_pr_curve" -> {
      val ts = Seq(1.0, 2.0, 5.0, 10.0, 20.0, 50.0)
      val sums = ts.zipWithIndex.map { case (t, i) =>
        s"""CAST(sum(CASE WHEN value >= $t AND event_type = 'error'
           |    THEN 1 ELSE 0 END) AS BIGINT) AS tp_$i,
           |  CAST(sum(CASE WHEN value >= $t AND NOT event_type = 'error'
           |    THEN 1 ELSE 0 END) AS BIGINT) AS fp_$i""".stripMargin
      }.mkString(",\n  ")
      val rows = ts.zipWithIndex.map { case (t, i) =>
        s"SELECT CAST($t AS DOUBLE) AS threshold, n, pos, tp_$i AS tp, fp_$i AS fp FROM a"
      }.mkString("\nUNION ALL ")
      s"""WITH a AS (SELECT count(*) AS n,
         |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS pos,
         |  $sums
         |  FROM events),
         |l AS ($rows)
         |SELECT threshold, n, pos, tp, fp,
         |  round((CAST(tp AS DOUBLE)
         |    / nullif(CAST(tp + fp AS DOUBLE), 0.0)) * 1000000) / 1000000
         |    AS precision,
         |  round((CAST(tp AS DOUBLE)
         |    / nullif(CAST(pos AS DOUBLE), 0.0)) * 1000000) / 1000000
         |    AS recall,
         |  round((2.0 * CAST(tp AS DOUBLE)
         |    / nullif(CAST(tp + fp + pos AS DOUBLE), 0.0)) * 1000000)
         |    / 1000000 AS f1
         |FROM l ORDER BY threshold""".stripMargin
    },

    // Lift/gains: quantile_cont thresholds (Spark percentile's (n-1)p
    // interpolation), 6-dp DECIMAL-quantized scores and thresholds so
    // boundary membership is engine-identical, bounded 10-row cumsum.
    "ml_lift" -> {
      val ps = (1 to 9).map(i => s"0.$i").mkString(", ")
      val below = (1 to 9).map(i =>
        s"""CASE WHEN s > round(qs[$i] * 1000000) / 1000000
           |      THEN 1 ELSE 0 END""".stripMargin)
        .mkString("\n    + ")
      s"""WITH base AS (SELECT
         |    round(CAST(value AS DOUBLE) * 1000000) / 1000000 AS s,
         |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
         |  FROM events
         |  WHERE event_type IN ('click', 'error') AND value IS NOT NULL),
         |th AS (SELECT quantile_cont(s, [$ps]) AS qs FROM base),
         |b AS (SELECT CAST(10 - ($below) AS BIGINT) AS decile, y
         |      FROM base CROSS JOIN th),
         |g AS (SELECT decile, count(*) AS n_rows,
         |        CAST(sum(y) AS BIGINT) AS n_pos FROM b GROUP BY 1),
         |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t_n,
         |        CAST(sum(n_pos) AS BIGINT) AS t_pos FROM g),
         |c AS (SELECT decile, n_rows, n_pos,
         |        CAST(sum(n_rows) OVER w AS BIGINT) AS cum_n,
         |        CAST(sum(n_pos) OVER w AS BIGINT) AS cum_pos
         |      FROM g WINDOW w AS (ORDER BY decile
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT decile, n_rows, n_pos, cum_n, cum_pos,
         |  round((CAST(cum_pos AS DOUBLE)
         |    / nullif(CAST(t_pos AS DOUBLE), 0e0)) * 1000000) / 1000000
         |    AS gain,
         |  round(((CAST(cum_pos AS DOUBLE)
         |      / nullif(CAST(cum_n AS DOUBLE), 0e0))
         |    / nullif(CAST(t_pos AS DOUBLE)
         |      / nullif(CAST(t_n AS DOUBLE), 0e0), 0e0)) * 1000000)
         |    / 1000000 AS lift
         |FROM c CROSS JOIN t ORDER BY decile""".stripMargin
    },

    // Stump: candidate thresholds via range(1,10) over the quantile
    // array, one grouped conditional count, identical Gini algebra,
    // ORDER BY (gain DESC, threshold) LIMIT 1.
    "ml_stump" -> {
      val ps = (1 to 9).map(i => s"0.$i").mkString(", ")
      s"""WITH base AS (SELECT
         |    round(CAST(value AS DOUBLE) * 1000000) / 1000000 AS s,
         |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
         |  FROM events
         |  WHERE event_type IN ('click', 'error') AND value IS NOT NULL),
         |th AS (SELECT quantile_cont(s, [$ps]) AS qs FROM base),
         |tot AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
         |      FROM base),
         |cand AS (SELECT DISTINCT
         |        round(qs[CAST(i AS INTEGER)] * 1000000) / 1000000
         |          AS threshold
         |      FROM th, range(1, 10) t(i)),
         |cnt AS (SELECT c.threshold,
         |        CAST(sum(CASE WHEN b.s <= c.threshold THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_left,
         |        CAST(sum(CASE WHEN b.s <= c.threshold AND b.y = 1
         |          THEN 1 ELSE 0 END) AS BIGINT) AS pos_left
         |      FROM cand c CROSS JOIN base b GROUP BY 1),
         |sc AS (SELECT threshold, n, pos, n_left, pos_left,
         |        CAST(pos_left AS DOUBLE) / CAST(n_left AS DOUBLE) AS pl,
         |        CAST(pos - pos_left AS DOUBLE)
         |          / CAST(n - n_left AS DOUBLE) AS pr,
         |        CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS proot
         |      FROM cnt CROSS JOIN tot
         |      WHERE n_left > 0 AND n_left < n),
         |fin AS (SELECT threshold, n, pos, n_left, pos_left,
         |        round(pl * 1000000) / 1000000 AS p_left,
         |        round(pr * 1000000) / 1000000 AS p_right,
         |        round((2e0 * proot * (1e0 - proot)) * 1000000) / 1000000
         |          AS gini_root,
         |        round(((CAST(n_left AS DOUBLE)
         |            * (2e0 * pl * (1e0 - pl))
         |            + CAST(n - n_left AS DOUBLE) * (2e0 * pr * (1e0 - pr)))
         |          / CAST(n AS DOUBLE)) * 1000000) / 1000000 AS gini_split,
         |        round((2e0 * proot * (1e0 - proot)
         |          - (CAST(n_left AS DOUBLE) * (2e0 * pl * (1e0 - pl))
         |            + CAST(n - n_left AS DOUBLE) * (2e0 * pr * (1e0 - pr)))
         |          / CAST(n AS DOUBLE)) * 1000000000) / 1000000000 AS gain
         |      FROM sc)
         |SELECT * FROM fin ORDER BY gain DESC, threshold LIMIT 1""".stripMargin
    },

    // GMM E-step: seed vectors as centroids, silhouette's DECIMAL d²
    // recipe, max-subtracted softmax with 9-dp rounded exponentials.
    "ml_gmm_estep" ->
      s"""WITH e AS ($embCte),
         |f AS (SELECT vec_id,
         |        CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS dim,
         |        unnest(v) AS x FROM e),
         |cent AS (SELECT vec_id AS cid, dim, x AS c FROM f
         |      WHERE vec_id < 4),
         |d2 AS (SELECT f.vec_id, cid,
         |        CAST(sum(CAST(round((x - c) * (x - c), 6)
         |          AS DECIMAL(18,6))) AS DOUBLE) AS d2
         |      FROM f JOIN cent USING (dim) GROUP BY 1, 2),
         |s2 AS (SELECT round((CAST(sum(CAST(round(d2, 6)
         |          AS DECIMAL(18,6))) AS DOUBLE)
         |        / CAST(count(*) AS DOUBLE)) * 1000000) / 1000000
         |        AS s2 FROM d2),
         |dm AS (SELECT vec_id, min(d2) AS dmin FROM d2 GROUP BY 1),
         |ee AS (SELECT d2.vec_id, cid,
         |        round(exp(-(d2 - dmin) / (2.0 * s2)), 9) AS e3,
         |        d2 = dmin AS is_min
         |      FROM d2 JOIN dm USING (vec_id) CROSS JOIN s2),
         |se AS (SELECT vec_id, sum(CAST(e3 AS DECIMAL(28,9))) AS se,
         |        min(CASE WHEN is_min THEN cid END) AS hard
         |      FROM ee GROUP BY 1),
         |rr AS (SELECT cid, round((e3 / CAST(se AS DOUBLE)) * 1000000000)
         |          / 1000000000 AS r,
         |        cid = hard AS is_hard
         |      FROM ee JOIN se USING (vec_id)),
         |r6t AS (SELECT cid, is_hard,
         |        (CAST(round(r * 1e9) AS BIGINT) + 500) // 1000 AS r6
         |      FROM rr)
         |SELECT CAST(cid AS BIGINT) AS cid, count(*) AS n_vecs,
         |  CAST(CAST(sum(r6) AS BIGINT) AS DOUBLE) / 1e6 AS soft_count,
         |  CAST(sum(CASE WHEN is_hard THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hard,
         |  CAST((CAST(sum(r6) AS BIGINT) * 2 + count(*))
         |    // (count(*) * 2) AS DOUBLE) / 1e6 AS avg_resp
         |FROM r6t GROUP BY 1 ORDER BY cid""".stripMargin,

    "ml_ridge" ->
      """WITH s AS (SELECT CAST(l_quantity AS DOUBLE) AS x1,
        |        CAST(l_discount AS DOUBLE) AS x2,
        |        CAST(l_extendedprice AS DOUBLE) AS y FROM lineitem),
        |a AS (SELECT count(*) AS n,
        |    CAST(sum(CAST(round(x1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(round(x2, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(round(x1 * x1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s11,
        |    CAST(sum(CAST(round(x1 * x2, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s12,
        |    CAST(sum(CAST(round(x2 * x2, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s22,
        |    CAST(sum(CAST(round(y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(x1 * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s1y,
        |    CAST(sum(CAST(round(x2 * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s2y
        |  FROM s),
        |m AS (SELECT n, CAST(n AS DOUBLE) + 1.0 AS a11, s1 AS a12, s2 AS a13,
        |        s11 + 1.0 AS a22, s12 AS a23, s22 + 1.0 AS a33,
        |        sy, s1y, s2y FROM a),
        |d AS (SELECT n, sy, s1y, s2y, a11, a12, a13, a22, a23, a33,
        |        a11 * (a22 * a33 - a23 * a23)
        |          - a12 * (a12 * a33 - a23 * a13)
        |          + a13 * (a12 * a23 - a22 * a13) AS dA FROM m)
        |SELECT n,
        |  round(((sy * (a22 * a33 - a23 * a23)
        |    - a12 * (s1y * a33 - a23 * s2y)
        |    + a13 * (s1y * a23 - a22 * s2y)) / dA) * 1000000) / 1000000
        |    AS beta0,
        |  round(((a11 * (s1y * a33 - a23 * s2y)
        |    - sy * (a12 * a33 - a23 * a13)
        |    + a13 * (a12 * s2y - s1y * a13)) / dA) * 1000000) / 1000000
        |    AS beta1,
        |  round(((a11 * (a22 * s2y - s1y * a23)
        |    - a12 * (a12 * s2y - s1y * a13)
        |    + sy * (a12 * a23 - a22 * a13)) / dA) * 1000000) / 1000000
        |    AS beta2
        |FROM d""".stripMargin,

    // Readability: len(regexp_extract_all) counts, the two formulas
    // transcribed in the Spark side's operation order.
    "text_readability" ->
      """WITH c AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
        |      AS n_words,
        |    greatest(CAST(1 AS BIGINT),
        |      CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT))
        |      AS n_sentences,
        |    CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  round((206.835
        |    - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
        |    * 1000000) / 1000000 AS flesch_ease,
        |  round((0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |    - 15.59) * 1000000) / 1000000 AS fk_grade
        |FROM c WHERE n_words > 0 ORDER BY doc_id""".stripMargin,

    // min_by/max_by with the tie-proof composite ordering key
    // (cents·10⁹ + custkey) rebuilt arithmetically.
    "q_min_by" ->
      """SELECT c_nationkey,
        |  min_by(c_custkey, CAST(round(c_acctbal * 100) AS BIGINT)
        |    * 1000000000 + c_custkey) AS poorest_cust,
        |  max_by(c_custkey, CAST(round(c_acctbal * 100) AS BIGINT)
        |    * 1000000000 + c_custkey) AS richest_cust,
        |  count(*) AS n
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    // List lambdas: list_filter/list_transform/list_reduce mirror
    // filter/transform/aggregate element-for-element; the fold runs in
    // array order on both engines (0.0+x₁² ≡ x₁² exactly), so the
    // unquantized running sum is still IEEE-identical.
    "q_array_ops" ->
      """SELECT vec_id,
        |  CAST(len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0.0))
        |    AS BIGINT) AS n_pos,
        |  round(list_reduce(list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> x * x), (acc, x) -> acc + x), 6) AS sum_sq,
        |  round(list_max(list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> abs(x))), 6) AS max_abs
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    // BPE unrolled: per iteration the SAME relational steps as the Spark
    // side — per-word lead pairs, freq-weighted argmax (ties -> lexical),
    // island run-parity greedy application — CTE for CTE.
    "text_bpe_merges" -> {
      val iters = (1 to 3).map { k =>
        val p = k - 1
        s"""tok$k AS (SELECT w, freq, CAST(generate_subscripts(toks, 1) AS BIGINT) AS i,
           |        unnest(toks) AS t FROM w$p),
           |tn$k AS (SELECT w, freq, i, t,
           |        lead(t) OVER (PARTITION BY w ORDER BY i) AS nxt FROM tok$k),
           |top$k AS (SELECT t AS l, nxt AS r, CAST(sum(freq) AS BIGINT) AS pf
           |        FROM tn$k WHERE nxt IS NOT NULL
           |        GROUP BY 1, 2 ORDER BY pf DESC, l, r LIMIT 1),
           |st$k AS (SELECT w, i FROM (
           |          SELECT w, i, row_number() OVER (PARTITION BY w, g ORDER BY i) - 1 AS off
           |          FROM (SELECT tn.w, tn.i,
           |                  tn.i - row_number() OVER (PARTITION BY tn.w ORDER BY tn.i) AS g
           |                FROM tn$k tn CROSS JOIN top$k top
           |                WHERE tn.t = top.l AND tn.nxt = top.r))
           |        WHERE off % 2 = 0),
           |ap$k AS (SELECT tn.w, tn.freq, tn.i,
           |          CASE WHEN s1.i IS NOT NULL THEN tn.t || tn.nxt ELSE tn.t END AS t
           |        FROM tn$k tn
           |        LEFT JOIN st$k s1 ON s1.w = tn.w AND s1.i = tn.i
           |        LEFT JOIN st$k s2 ON s2.w = tn.w AND s2.i + 1 = tn.i
           |        WHERE s2.i IS NULL),
           |w$k AS (SELECT w, freq, list(t ORDER BY i) AS toks FROM ap$k GROUP BY 1, 2)"""
          .stripMargin
      }.mkString(",\n")
      val rows = (1 to 3).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS iter, l AS "left", r AS "right",
           |  l || r AS merged, pf AS pair_freq FROM top$k""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH base AS ($docToks),
         |w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
         |         string_split(w, '') AS toks
         |       FROM (SELECT unnest(toks) AS w FROM base) GROUP BY w),
         |$iters
         |$rows
         |ORDER BY iter""".stripMargin
    },

    "text_pack_materialize" ->
      s"""WITH base AS (
         |  SELECT doc_id, CAST(len(regexp_extract_all(text,
         |    '${TextAnalysis.subwordPattern}')) AS BIGINT) AS n_subwords
         |  FROM documents),
         |c AS (SELECT doc_id, n_subwords,
         |        sum(n_subwords) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |          AS cum FROM base),
         |p AS (SELECT doc_id, n_subwords,
         |        CAST(floor((cum - n_subwords) / 400.0) AS BIGINT) AS seq_id
         |      FROM c)
         |SELECT p.seq_id, count(*) AS n_docs,
         |  CAST(sum(p.n_subwords) AS BIGINT) AS seq_tokens,
         |  string_agg(d.text, ' <eos> ' ORDER BY p.doc_id) AS seq_text
         |FROM p JOIN documents d USING (doc_id)
         |GROUP BY p.seq_id ORDER BY seq_id""".stripMargin,

    // Same polynomial string hash the CMS oracle rebuilds; slots are
    // pmod(h, 64) over exact BIGINT counts.
    "text_feature_hash" ->
      s"""WITH base AS ($docToks),
         |t AS (SELECT doc_id, unnest(toks) AS term FROM base),
         |kh AS (SELECT term,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(length(term)),
         |        i -> ascii(substr(term, CAST(i + 1 AS INT), 1)))),
         |      (acc, c) -> (acc * 131 + c) % 2147483647) AS h
         |  FROM (SELECT DISTINCT term FROM t)),
         |s AS (SELECT t.doc_id, ((kh.h % 64) + 64) % 64 AS slot
         |      FROM t JOIN kh USING (term))
         |SELECT doc_id, CAST(slot AS BIGINT) AS slot, count(*) AS cnt
         |FROM s GROUP BY 1, 2 ORDER BY doc_id, slot""".stripMargin,

    "text_vocab_coverage" ->
      s"""WITH base AS ($docToks),
         |t AS (SELECT unnest(toks) AS term FROM base),
         |c AS (SELECT term, count(*) AS freq FROM t GROUP BY 1),
         |v AS (SELECT freq, CAST(row_number() OVER (ORDER BY freq DESC, term)
         |          - 1 AS BIGINT) AS term_id
         |      FROM (SELECT term, freq FROM c
         |            ORDER BY freq DESC, term LIMIT 30)),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS total_tokens FROM t),
         |sz AS (SELECT CAST(unnest([10, 20, 30]) AS BIGINT) AS vocab_size)
         |SELECT sz.vocab_size, CAST(sum(v.freq) AS BIGINT) AS covered_tokens,
         |  tot.total_tokens,
         |  CAST(sum(v.freq) AS DOUBLE) / tot.total_tokens AS coverage
         |FROM v JOIN sz ON v.term_id < sz.vocab_size CROSS JOIN tot
         |GROUP BY 1, 3 ORDER BY vocab_size""".stripMargin,

    "text_source_profile" ->
      """WITH p AS (SELECT source, lang,
        |        list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |      FROM documents),
        |r AS (SELECT source, lang, CAST(len(toks) AS BIGINT) AS n_toks,
        |        CAST(len(list_distinct(toks)) AS DOUBLE)
        |          / nullif(len(toks), 0) AS ratio
        |      FROM p)
        |SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  round((CAST(sum(CAST(round(ratio * 1000000) / 1000000
        |      AS DECIMAL(18,6))) AS DOUBLE)
        |    / nullif(count(ratio), 0)) * 1000000) / 1000000
        |    AS mean_distinct_ratio
        |FROM r GROUP BY 1, 2 ORDER BY source, lang""".stripMargin,

    "text_pack" ->
      s"""WITH base AS (
         |  SELECT doc_id, CAST(len(regexp_extract_all(text,
         |    '${TextAnalysis.subwordPattern}')) AS BIGINT) AS n_subwords
         |  FROM documents),
         |c AS (SELECT doc_id, n_subwords,
         |        sum(n_subwords) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM base)
         |SELECT doc_id, n_subwords,
         |  CAST(floor((cum - n_subwords) / 400.0) AS BIGINT) AS seq_id
         |FROM c ORDER BY doc_id""".stripMargin,

    "text_pack_sharded" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang AS shard, CAST(len(regexp_extract_all(text,
         |    '${TextAnalysis.subwordPattern}')) AS BIGINT) AS n_subwords
         |  FROM documents),
         |c AS (SELECT doc_id, shard, n_subwords,
         |        sum(n_subwords) OVER (PARTITION BY shard ORDER BY doc_id
         |                              ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM base)
         |SELECT doc_id, shard, n_subwords,
         |  CAST(floor((cum - n_subwords) / 400.0) AS BIGINT) AS seq_id
         |FROM c ORDER BY doc_id""".stripMargin,

    "text_pack_stats" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang AS shard, CAST(len(regexp_extract_all(text,
         |    '${TextAnalysis.subwordPattern}')) AS BIGINT) AS n_subwords
         |  FROM documents),
         |c AS (SELECT doc_id, shard, n_subwords,
         |        sum(n_subwords) OVER (PARTITION BY shard ORDER BY doc_id
         |                              ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM base),
         |p AS (SELECT shard, n_subwords,
         |        CAST(floor((cum - n_subwords) / 400.0) AS BIGINT) AS seq_id
         |      FROM c)
         |SELECT shard, CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
         |  count(*) AS n_docs, CAST(sum(n_subwords) AS BIGINT) AS n_tokens,
         |  round((CAST(sum(n_subwords) AS DOUBLE)
         |    / nullif(count(DISTINCT seq_id) * 400.0, 0)) * 1000000)
         |    / 1000000 AS utilization
         |FROM p GROUP BY shard ORDER BY shard""".stripMargin,

    "op01_02_json_copy" ->
      """SELECT CAST(event_id AS INTEGER) AS session_id,
        |  CAST(user_id AS VARCHAR) AS user_id, event_type AS song,
        |  value AS length, epoch_ms(epoch_ms(ts)) AS ts
        |FROM events ORDER BY session_id""".stripMargin,

    "op_csv_roundtrip" ->
      """SELECT event_id, user_id, event_type, value,
        |  CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
        |FROM events ORDER BY event_id""".stripMargin,

    "op_orc_roundtrip" ->
      """SELECT event_id, user_id, event_type, value, ts
        |FROM events ORDER BY event_id""".stripMargin,

    // Both sources must reproduce the document texts byte-for-byte.
    "op_text_source" ->
      "SELECT text FROM documents ORDER BY text",

    "op_binary_source" ->
      "SELECT text FROM documents ORDER BY text",

    "op_json_quarantine" ->
      """SELECT count(*) AS n_valid, CAST(3 AS BIGINT) AS n_quarantined,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events""".stripMargin,

    "op_partitioned_prune" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin,

    "op_schema_evolution" ->
      """SELECT event_id, user_id,
        |  CASE WHEN event_id % 2 = 1 THEN value END AS value
        |FROM events ORDER BY event_id""".stripMargin,

    "stream_enrich" ->
      """SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,

    "q_full_outer" ->
      """WITH o AS (SELECT o_custkey, count(*) AS n_big_orders FROM orders
        |           WHERE o_totalprice > 150000 GROUP BY 1),
        |c AS (SELECT c_custkey, c_name FROM customer
        |      WHERE c_mktsegment = 'BUILDING')
        |SELECT coalesce(o.o_custkey, c.c_custkey) AS custkey,
        |  o.n_big_orders, c.c_name
        |FROM o FULL OUTER JOIN c ON o.o_custkey = c.c_custkey
        |ORDER BY custkey""".stripMargin,

    "q_percent_rank" ->
      """SELECT o_orderkey, o_orderpriority,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "op_bucketed_join" ->
      """SELECT l_orderkey, count(*) AS n_li,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_skew_salted" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY 1 ORDER BY 1",

    // Bit-for-bit mirror of Layout.zorderKey2Sql — generated from the
    // same code that builds the Spark Column, so they cannot drift.
    // Partition audit: per-(day, type) counts, ceil files at 1000
    // rows/file, share and skew factor vs the even split.
    "layout_partition_plan" ->
      """WITH c AS (SELECT CAST(ts AS DATE) AS p_date, event_type,
        |        count(*) AS n_rows FROM events GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total,
        |        count(*) AS n_partitions FROM c)
        |SELECT p_date, event_type, n_rows,
        |  CAST(floor((n_rows + 999) / 1000.0) AS BIGINT) AS n_files,
        |  round((CAST(n_rows AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000) / 1000000
        |    AS frac_of_total,
        |  round((CAST(n_rows AS DOUBLE) * CAST(n_partitions AS DOUBLE)
        |    / CAST(total AS DOUBLE)) * 1000000) / 1000000 AS skew_vs_even
        |FROM c CROSS JOIN t ORDER BY p_date, event_type""".stripMargin,

    "layout_zorder" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  ${operators.Layout.zorderKey2Sql("l_partkey", "l_suppkey", 16)} AS zkey
         |FROM lineitem
         |ORDER BY zkey, l_orderkey, l_linenumber""".stripMargin,

    "layout_zorder3" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  ${operators.Layout.zorderKeyNSql(
                Seq("l_partkey", "l_suppkey", "l_linenumber"), 20)} AS zkey
         |FROM lineitem
         |ORDER BY zkey, l_orderkey, l_linenumber""".stripMargin,

    // Zone-map replay: same row_number file cut, min–max per file,
    // point probes against [mn, mx].
    "layout_skipping" -> {
      def one(name: String, order: String) =
        s"""SELECT '$name' AS layout, probe, n_files,
           |  coalesce(h, 0) AS files_hit,
           |  CAST(round((1.0 - CAST(coalesce(h, 0) AS DOUBLE)
           |    / CAST(n_files AS DOUBLE)) * 1000000) / 1000000 AS DOUBLE)
           |    AS skip_ratio
           |FROM (VALUES (CAST(7 AS BIGINT)), (42), (120)) p(probe)
           |LEFT JOIN (
           |  SELECT probe, CAST(count(*) AS BIGINT) AS h
           |  FROM (SELECT CAST(floor((rn - 1) / 500) AS BIGINT) AS f,
           |          min(user_id) AS mn, max(user_id) AS mx
           |        FROM (SELECT user_id,
           |                row_number() OVER (ORDER BY $order) AS rn
           |              FROM events) GROUP BY 1) fs
           |  JOIN (VALUES (CAST(7 AS BIGINT)), (42), (120)) pp(probe)
           |    ON probe BETWEEN mn AND mx
           |  GROUP BY 1) USING (probe)
           |CROSS JOIN (
           |  SELECT CAST(count(DISTINCT CAST(floor((rn - 1) / 500) AS BIGINT))
           |      AS BIGINT) AS n_files
           |  FROM (SELECT row_number() OVER (ORDER BY $order) AS rn
           |        FROM events))""".stripMargin
      s"""SELECT * FROM (${one("by_time", "ts, event_id")}
         |UNION ALL ${one("by_user", "user_id, event_id")})
         |ORDER BY layout, probe""".stripMargin
    },

    "mm_frames" ->
      """SELECT doc_id AS asset_id, i AS frame_idx,
        |  CAST(i * octet_length(encode(text)) // 4 AS BIGINT) AS offset
        |FROM documents CROSS JOIN range(4) t(i)
        |WHERE octet_length(encode(text)) > 0
        |ORDER BY asset_id, frame_idx""".stripMargin,

    "q_skew_salted_join" ->
      """SELECT event_id, event_type, upper(event_type) AS type_name
        |FROM events ORDER BY event_id""".stripMargin,

    "mm_metadata" ->
      """SELECT doc_id AS asset_id, 'image' AS kind,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS checksum,
        |  CAST(ascii(substr(text, 1, 1)) * 256 + ascii(substr(text, 2, 1)) AS BIGINT) AS header_code
        |FROM documents ORDER BY asset_id""".stripMargin,

    "mm_decode" ->
      """SELECT doc_id AS asset_id, 'image' AS kind,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(64 + (ascii(substr(text, 1, 1)) * 256 + ascii(substr(text, 2, 1))) % 1024 AS BIGINT) AS width,
        |  CAST(64 + (ascii(substr(text, 3, 1)) * 256 + ascii(substr(text, 4, 1))) % 1024 AS BIGINT) AS height
        |FROM documents ORDER BY asset_id""".stripMargin,

    // Mirrors Multimodal.syntheticPng's formula: w = 1+id%8, h = 1+id%5,
    // sample i = (id*31+i) % 256 — the engine side must recover these
    // through a real PNG encode/decode round trip to match.
    "mm_decode_png" ->
      """SELECT doc_id AS asset_id, 'png' AS codec,
        |  CAST(1 + doc_id % 8 AS BIGINT) AS width,
        |  CAST(1 + doc_id % 5 AS BIGINT) AS height,
        |  CAST(list_sum(list_transform(
        |    range(0, (1 + doc_id % 8) * (1 + doc_id % 5)),
        |    i -> (doc_id * 31 + i) % 256)) AS BIGINT) AS sum_sample
        |FROM documents ORDER BY asset_id""".stripMargin,

    // Geometry/codec exact; the error-bound booleans are contract
    // constants (Multimodal.jpegRoundTrip scaladoc) — TRUE unless the
    // codec path regresses.
    "mm_decode_jpeg" ->
      """SELECT doc_id AS asset_id, 'jpeg' AS codec,
        |  CAST(8 * (1 + doc_id % 4) AS BIGINT) AS width,
        |  CAST(8 * (1 + doc_id % 3) AS BIGINT) AS height,
        |  TRUE AS mean_err_le_2, TRUE AS max_err_le_8
        |FROM documents ORDER BY asset_id""".stripMargin,

    // dHash rebuilt arithmetically from the synthetic raster formula
    // (pixel i = (id·31+i) mod 256, nearest-neighbor 8×8 grid, integer
    // division //), then brute-force Hamming over all pairs — the exact
    // answer the banded join must reproduce with guaranteed recall.
    "mm_dhash_neardup" ->
      """WITH d AS (SELECT doc_id AS id, 16 + doc_id % 16 AS w,
        |        16 + doc_id % 8 AS h FROM documents),
        |g AS (SELECT id,
        |        (id * 31 + 7 * (((r.r * h) // 8) * w + (c.c * w) // 8)
        |          * (((r.r * h) // 8) * w + (c.c * w) // 8)) % 256 AS p0,
        |        (id * 31 + 7 * (((r.r * h) // 8) * w + ((c.c + 1) * w) // 8)
        |          * (((r.r * h) // 8) * w + ((c.c + 1) * w) // 8)) % 256
        |          AS p1,
        |        r.r * 7 + c.c AS bit
        |      FROM d CROSS JOIN range(8) r(r) CROSS JOIN range(7) c(c)),
        |hh AS (SELECT id, CAST(sum(CASE WHEN p0 > p1
        |          THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS BIGINT)
        |          AS dhash
        |      FROM g GROUP BY 1),
        |pairs AS (SELECT a.id AS id_a, b.id AS id_b,
        |        CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
        |      FROM hh a JOIN hh b ON a.id < b.id)
        |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // Luma stats rebuilt arithmetically from the rich raster formula
    // (pixel i = (id·31 + 7i²) mod 256, row-major) — exact integer
    // moments, closed-form mean/std.
    "mm_luma_stats" ->
      """WITH d AS (SELECT doc_id AS asset_id, 16 + doc_id % 16 AS w,
        |        16 + doc_id % 8 AS h FROM documents),
        |px AS (SELECT asset_id, w, h,
        |        (asset_id * 31 + 7 * i.i * i.i) % 256 AS v
        |      FROM d CROSS JOIN range(744) i(i) WHERE i.i < w * h),
        |a AS (SELECT asset_id, CAST(min(w) AS INT) AS width,
        |        CAST(min(h) AS INT) AS height, count(*) AS n_pixels,
        |        CAST(sum(v) AS BIGINT) AS s,
        |        CAST(sum(v * v) AS BIGINT) AS s2,
        |        CAST(min(v) AS INT) AS min_luma,
        |        CAST(max(v) AS INT) AS max_luma
        |      FROM px GROUP BY 1)
        |SELECT asset_id, width, height, n_pixels,
        |  round((CAST(s AS DOUBLE) / CAST(n_pixels AS DOUBLE)) * 1000000) / 1000000
        |    AS mean_luma,
        |  round(sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n_pixels AS DOUBLE)
        |    - (CAST(s AS DOUBLE) / CAST(n_pixels AS DOUBLE))
        |    * (CAST(s AS DOUBLE) / CAST(n_pixels AS DOUBLE)), 0.0)) * 1000000)
        |    / 1000000 AS std_luma,
        |  min_luma, max_luma
        |FROM a ORDER BY asset_id""".stripMargin,

    // Audio: recompute the synthetic PCM waveform from the closed form
    // and reduce with the same integer sums / one-shot double closed
    // forms the decoder path emits.
    "mm_audio_stats" ->
      """WITH d AS (SELECT doc_id AS asset_id, 64 + doc_id % 64 AS n
        |      FROM documents),
        |sm AS (SELECT asset_id, i.i AS i,
        |        ((asset_id * 37 + 11 * i.i * i.i) % 4096) - 2048 AS s
        |      FROM d CROSS JOIN range(128) i(i) WHERE i.i < n),
        |zc AS (SELECT asset_id,
        |        CAST(sum(CASE WHEN s * lead_s < 0 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS z
        |      FROM (SELECT asset_id, s, lead(s) OVER (PARTITION BY asset_id
        |              ORDER BY i) AS lead_s FROM sm)
        |      WHERE lead_s IS NOT NULL GROUP BY 1),
        |a AS (SELECT asset_id, CAST(count(*) AS BIGINT) AS n_samples,
        |        CAST(sum(s) AS BIGINT) AS ss,
        |        CAST(sum(s * s) AS BIGINT) AS s2,
        |        CAST(max(abs(s)) AS BIGINT) AS peak
        |      FROM sm GROUP BY 1)
        |SELECT a.asset_id, 8000 AS sample_rate, n_samples,
        |  round((CAST(n_samples AS DOUBLE) * 1000.0 / 8000.0) * 1000000) / 1000000
        |    AS duration_ms,
        |  round(sqrt(CAST(s2 AS DOUBLE) / CAST(n_samples AS DOUBLE))
        |    * 1000000) / 1000000 AS rms,
        |  round((CAST(ss AS DOUBLE) / CAST(n_samples AS DOUBLE)) * 1000000) / 1000000
        |    AS dc_offset,
        |  peak, coalesce(z, CAST(0 AS BIGINT)) AS zero_cross,
        |  round((CAST(coalesce(z, CAST(0 AS BIGINT)) AS DOUBLE)
        |    / greatest(CAST(n_samples AS DOUBLE) - 1.0, 1.0)) * 1000000) / 1000000 AS zcr
        |FROM a LEFT JOIN zc ON zc.asset_id = a.asset_id
        |ORDER BY a.asset_id""".stripMargin,

    // Mirrors syntheticMp4's closed forms, including the two container
    // variants: mvhd version 1 (ids ≡ 0 mod 5) adds 12 bytes (three
    // 64-bit fields replace 32-bit), mdat largesize (ids ≡ 0 mod 7)
    // adds 8 header bytes. Base layout: ftyp 20 + moov 216 + free
    // (8 + id%32) + mdat (8 + id%100) = 252 + residues.
    "mm_video_probe" ->
      """SELECT doc_id AS asset_id,
        |  CAST(252 + doc_id % 32 + doc_id % 100
        |       + CASE WHEN doc_id % 5 = 0 THEN 12 ELSE 0 END
        |       + CASE WHEN doc_id % 7 = 0 THEN 8 ELSE 0 END
        |    AS BIGINT) AS n_bytes,
        |  CAST(4 AS INT) AS n_boxes,
        |  'ftyp,moov,free,mdat' AS boxes,
        |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'isom'
        |       WHEN 1 THEN 'mp41' WHEN 2 THEN 'mp42'
        |       ELSE 'avc1' END AS major_brand,
        |  CAST(doc_id % 512 AS BIGINT) AS minor_version,
        |  CAST(600 * (1 + doc_id % 4) AS BIGINT) AS timescale,
        |  CAST(600 * (1 + doc_id % 4) * (5 + doc_id % 120) AS BIGINT)
        |    AS duration,
        |  round(CAST(5 + doc_id % 120 AS DOUBLE), 6) AS duration_sec,
        |  CAST(160 + 16 * (doc_id % 54) AS INT) AS width,
        |  CAST(120 + 9 * (doc_id % 54) AS INT) AS height,
        |  CAST(doc_id % 100 AS BIGINT) AS mdat_bytes
        |FROM documents ORDER BY asset_id""".stripMargin,

    "merge_upsert" ->
      """SELECT user_id, ts, event_id, value FROM (
        |  SELECT user_id, ts, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "merge_cdc" ->
      """SELECT user_id, ts, event_id, value FROM (
        |  SELECT user_id, ts, event_id, value, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin,

    "merge_scd2" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER w AS prev,
        |    row_number() OVER w AS rn
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |chg AS (
        |  SELECT user_id, ts, event_id, event_type FROM o
        |  WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
        |SELECT user_id, event_type AS state, ts AS valid_from,
        |  lead(ts) OVER w2 AS valid_to,
        |  CAST(row_number() OVER w2 AS BIGINT) AS version,
        |  CAST(lead(ts) OVER w2 IS NULL AS BIGINT) AS is_current
        |FROM chg WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,

    "stream_tumbling" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "stream_topk" ->
      """WITH c AS (SELECT date_trunc('hour', ts) AS window_start,
        |        event_type, count(*) AS n,
        |        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |          AS total_value
        |      FROM events GROUP BY 1, 2)
        |SELECT window_start, event_type, n, total_value,
        |  CAST(rnk AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY window_start
        |        ORDER BY n DESC, event_type) AS rnk FROM c)
        |WHERE rnk <= 3 ORDER BY window_start, rnk""".stripMargin,

    "stream_sliding" ->
      """SELECT window_start, count(*) AS n FROM (
        |  SELECT date_trunc('minute', ts) - k * (INTERVAL 1 MINUTE) AS window_start
        |  FROM events CROSS JOIN range(5) t(k))
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Gaps-and-islands formulation of session_window: a session breaks
    // only on a STRICTLY larger-than-gap silence (adjacency merges).
    "stream_session" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q_dq_audit" ->
      """SELECT * FROM (
        |  SELECT 'nn_orders_custkey' AS "check", count(*) - count(o_custkey) AS violations FROM orders
        |  UNION ALL
        |  SELECT 'nn_orders_orderdate', count(*) - count(o_orderdate) FROM orders
        |  UNION ALL
        |  SELECT 'nn_events_value', count(*) - count(value) FROM events
        |  UNION ALL
        |  SELECT 'uq_orders_orderkey', CAST(coalesce(sum(c - 1), 0) AS BIGINT)
        |  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
        |  UNION ALL
        |  SELECT 'uq_lineitem_line', CAST(coalesce(sum(c - 1), 0) AS BIGINT)
        |  FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)
        |  UNION ALL
        |  SELECT 'fk_orders_customer', count(*) FROM orders o
        |  WHERE o.o_custkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |  UNION ALL
        |  SELECT 'fk_lineitem_orders', count(*) FROM lineitem l
        |  WHERE l.l_orderkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |ORDER BY "check"""".stripMargin,

    // Chains the proven stage fragments on the SCRUBBED text; the split
    // hash and cumsum mirror sample_split / text_pack_sharded exactly.
    "pipeline_docs_e2e" ->
      s"""WITH scrub AS (
         |  SELECT doc_id,
         |    regexp_replace(regexp_replace(text, '${TextAnalysis.urlPattern}', '<URL>', 'g'),
         |      '${TextAnalysis.emailPattern}', '<EMAIL>', 'g') AS text
         |  FROM documents),
         |tk AS (SELECT doc_id, text,
         |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |       FROM scrub),
         |kept AS (SELECT doc_id, text FROM tk
         |         WHERE len(toks) >= 25
         |           AND CAST(len(list_filter(toks, t -> list_contains($stopwordList, t))) AS DOUBLE)
         |               / len(toks) <= 0.15),
         |ded AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text),
         |base AS (
         |  SELECT k.doc_id,
         |    CASE WHEN ${samplingHashSql("k.doc_id")}
         |           < ${Sampling.splitCut(0.1)} THEN 'val'
         |         WHEN ${samplingHashSql("k.doc_id")}
         |           < ${Sampling.splitCut(0.2)} THEN 'test'
         |         ELSE 'train' END AS shard,
         |    CAST(len(regexp_extract_all(k.text,
         |      '${TextAnalysis.subwordPattern}')) AS BIGINT) AS n_subwords
         |  FROM kept k JOIN ded USING (doc_id)),
         |c AS (SELECT doc_id, shard, n_subwords,
         |        sum(n_subwords) OVER (PARTITION BY shard ORDER BY doc_id
         |                              ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM base)
         |SELECT doc_id, shard, n_subwords,
         |  CAST(floor((cum - n_subwords) / 400.0) AS BIGINT) AS seq_id
         |FROM c ORDER BY doc_id""".stripMargin,

    // ML pipeline chain: the docs-pipeline front end (same CTEs), then
    // the NB train/score chain with model stats from the TRAIN shard
    // only and scoring over the TEST shard.
    "pipeline_ml_e2e" ->
      s"""WITH scrub AS (
         |  SELECT doc_id,
         |    regexp_replace(regexp_replace(text, '${TextAnalysis.urlPattern}', '<URL>', 'g'),
         |      '${TextAnalysis.emailPattern}', '<EMAIL>', 'g') AS text
         |  FROM documents),
         |tk AS (SELECT doc_id, text,
         |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |       FROM scrub),
         |kept AS (SELECT doc_id, text, toks FROM tk
         |         WHERE len(toks) >= 25
         |           AND CAST(len(list_filter(toks, t -> list_contains($stopwordList, t))) AS DOUBLE)
         |               / len(toks) <= 0.15),
         |ded AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text),
         |sp AS (SELECT k.doc_id, k.toks, d2.lang,
         |    CASE WHEN ${samplingHashSql("k.doc_id")}
         |           < ${Sampling.splitCut(0.1)} THEN 'val'
         |         WHEN ${samplingHashSql("k.doc_id")}
         |           < ${Sampling.splitCut(0.2)} THEN 'test'
         |         ELSE 'train' END AS split
         |  FROM kept k JOIN ded USING (doc_id)
         |  JOIN documents d2 USING (doc_id)),
         |ttr AS (SELECT lang AS y, unnest(toks) AS term FROM sp
         |      WHERE split = 'train'),
         |tte AS (SELECT doc_id, unnest(toks) AS term FROM sp
         |      WHERE split = 'test'),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |      FROM tte GROUP BY 1, 2),
         |ct AS (SELECT y AS l, term, CAST(count(*) AS BIGINT) AS c
         |      FROM ttr GROUP BY 1, 2),
         |ctot AS (SELECT l, CAST(sum(c) AS BIGINT) AS nl FROM ct GROUP BY 1),
         |voc AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM ct),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM sp
         |      WHERE split = 'train'),
         |pri AS (SELECT lang AS l, CAST(count(*) AS BIGINT) AS dl FROM sp
         |      WHERE split = 'train' GROUP BY 1),
         |langs AS (SELECT pri.l, ctot.nl, voc.v,
         |        round(ln(CAST(dl AS DOUBLE) / CAST(nd.nd AS DOUBLE)), 6)
         |          AS lprior
         |      FROM pri CROSS JOIN nd CROSS JOIN voc
         |      JOIN ctot ON ctot.l = pri.l),
         |tll AS (SELECT tf.doc_id, langs.l, langs.lprior,
         |        round(CAST(tf AS DOUBLE) *
         |          ln(CAST(coalesce(ct.c, 0) + 1 AS DOUBLE) /
         |            CAST(langs.nl + langs.v AS DOUBLE)), 6) AS ll
         |      FROM tf CROSS JOIN langs
         |      LEFT JOIN ct ON ct.l = langs.l AND ct.term = tf.term),
         |sc AS (SELECT doc_id, l,
         |        round(CAST(sum(CAST(ll AS DECIMAL(28,6))) AS DOUBLE)
         |          + lprior, 6) AS score
         |      FROM tll GROUP BY doc_id, l, lprior),
         |pred AS (SELECT doc_id, l AS pred FROM (
         |      SELECT doc_id, l, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, l) AS rn FROM sc) WHERE rn = 1)
         |SELECT sp.lang AS label, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN pred = sp.lang THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  round((CAST(sum(CASE WHEN pred = sp.lang THEN 1 ELSE 0 END)
         |    AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1000000) / 1000000
         |    AS recall
         |FROM pred JOIN sp USING (doc_id) GROUP BY 1 ORDER BY 1""".stripMargin,

    // LLM-pretraining pipeline chain: exact connected-component cluster
    // labels (recursive CTE) → cluster representatives → 4-gram
    // decontamination vs src0/src1 (string 4-grams vs 64-bit shingle
    // hashes on the Spark side — the text_decontaminate parity argument)
    // → the mixture plan's closed-form rates and hash-threshold keep →
    // the per-lang packing cumsum. Static wt from range(2,20) mirrors
    // the Spark side's literal weights map, so the Σw denominator is
    // independent of which sources survive the earlier stages.
    "pipeline_llm_e2e" ->
      s"""WITH RECURSIVE $clusterLabelsCte,
         |reps AS (SELECT d.doc_id, d.text, d.source, d.lang
         |         FROM documents d JOIN clusters c USING (doc_id)
         |         WHERE c.cluster_id = d.doc_id),
         |tkall AS (SELECT doc_id, unnest(toks) AS t,
         |            generate_subscripts(toks, 1) AS i
         |          FROM ($docToks) b),
         |sh AS (SELECT DISTINCT a.doc_id,
         |         a.t || ' ' || b.t || ' ' || c.t || ' ' || e.t AS shingle
         |       FROM tkall a
         |       JOIN tkall b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |       JOIN tkall c ON c.doc_id = a.doc_id AND c.i = a.i + 2
         |       JOIN tkall e ON e.doc_id = a.doc_id AND e.i = a.i + 3),
         |ev AS (SELECT DISTINCT sh.shingle FROM sh
         |       JOIN documents d ON d.doc_id = sh.doc_id
         |       WHERE d.source IN ('src0', 'src1')),
         |contaminated AS (SELECT DISTINCT sh.doc_id FROM sh
         |       JOIN reps r ON r.doc_id = sh.doc_id
         |       WHERE r.source NOT IN ('src0', 'src1')
         |         AND sh.shingle IN (SELECT shingle FROM ev)),
         |train AS (SELECT * FROM reps
         |          WHERE source NOT IN ('src0', 'src1')
         |            AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |wt AS (SELECT 'src' || CAST(k AS VARCHAR) AS source,
         |              CAST((k % 4) + 1 AS DOUBLE) AS w
         |       FROM range(2, 20) t(k)),
         |tot AS (SELECT source, CAST(sum(len(list_filter(
         |              string_split(text, ' '), x -> x <> ''))) AS BIGINT)
         |            AS total_tokens
         |        FROM train GROUP BY 1),
         |p AS (SELECT w.source,
         |        CASE WHEN coalesce(total_tokens, 0) > 0
         |          THEN least(1.0, (10000.0 * w.w / (SELECT sum(w) FROM wt))
         |                 / CAST(total_tokens AS DOUBLE))
         |          ELSE 0.0 END AS rate
         |      FROM wt w LEFT JOIN tot ON tot.source = w.source),
         |samp AS (SELECT tr.* FROM train tr JOIN p ON p.source = tr.source
         |         WHERE ${samplingHashSql("tr.doc_id")}
         |               < CAST(floor(p.rate * 4294967296) AS BIGINT)),
         |pk AS (SELECT doc_id, lang AS shard,
         |         CAST(len(regexp_extract_all(text,
         |           '${TextAnalysis.subwordPattern}')) AS BIGINT) AS n_subwords
         |       FROM samp),
         |c2 AS (SELECT doc_id, shard, n_subwords,
         |         sum(n_subwords) OVER (PARTITION BY shard ORDER BY doc_id
         |                               ROWS UNBOUNDED PRECEDING) AS cum
         |       FROM pk)
         |SELECT doc_id, shard, n_subwords,
         |  CAST(floor((cum - n_subwords) / 400.0) AS BIGINT) AS seq_id
         |FROM c2 ORDER BY doc_id""".stripMargin,

    // Key entropy: one value-count aggregate per column, the
    // PSI/entropy rounding discipline, columns unioned.
    "dq_key_entropy" -> {
      def one(c: String) =
        s"""SELECT '$c' AS "column", n, n_distinct,
           |  round((CAST(n_distinct AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000)
           |    / 1000000 AS uniq_ratio,
           |  round(h, 6) AS entropy,
           |  round(h / ln(CAST(n_distinct AS DOUBLE)), 6) AS norm_entropy
           |FROM (SELECT CAST(min(n) AS BIGINT) AS n,
           |    CAST(min(nd) AS BIGINT) AS n_distinct,
           |    CAST(sum(CAST(round(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)
           |      * ln(CAST(n AS DOUBLE) / CAST(cnt AS DOUBLE)), 6)
           |      AS DECIMAL(18,6))) AS DOUBLE) AS h
           |  FROM (SELECT $c AS v, count(*) AS cnt FROM orders GROUP BY 1)
           |  CROSS JOIN (SELECT CAST(sum(cnt) AS BIGINT) AS n,
           |      count(*) AS nd FROM
           |      (SELECT $c AS v, count(*) AS cnt FROM orders GROUP BY 1)))
           |""".stripMargin
      Seq("o_custkey", "o_orderkey", "o_orderstatus").map(one)
        .mkString("", "UNION ALL\n", "ORDER BY \"column\"")
    },

    "stream_interval_join" ->
      """SELECT l.user_id, l.event_id AS click_id, r.event_id AS view_id
        |FROM events l JOIN events r ON l.user_id = r.user_id
        |  AND l.event_type = 'click' AND r.event_type = 'view'
        |  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 6 HOUR
        |ORDER BY l.user_id, click_id, view_id""".stripMargin,

    // The state fold is (ts, value, type)-ordered, so last_type is the
    // event_type of the (ts, v, type)-max row; the quantized sum is
    // order-independent (exact integer-valued doubles).
    "stream_profiles" ->
      """WITH e AS (
        |  SELECT user_id, event_type, floor(value * 10000) AS v, ts FROM events),
        |agg AS (
        |  SELECT user_id, count(*) AS n_events,
        |    CAST(sum(v) AS DOUBLE) AS total_value
        |  FROM e GROUP BY user_id),
        |last AS (
        |  SELECT user_id, event_type AS last_type FROM (
        |    SELECT user_id, event_type, row_number() OVER (
        |      PARTITION BY user_id
        |      ORDER BY ts DESC, v DESC, event_type DESC) AS rn
        |    FROM e) WHERE rn = 1)
        |SELECT a.user_id, a.n_events, a.total_value, l.last_type
        |FROM agg a JOIN last l USING (user_id)
        |ORDER BY a.user_id""".stripMargin,

    // Batch semantics of the gap sessionizer: one whole-input session per
    // key — epoch-millis first/last (both engines truncate micros toward
    // zero on the positive-epoch data) and the event count.
    "stream_closed_sessions" ->
      """SELECT user_id, count(*) AS n_events,
        |  min(epoch_ms(ts)) AS first_ms, max(epoch_ms(ts)) AS last_ms
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // ---- round 7 ----

    // The oracle recomputes the aggregate one-shot over the whole table;
    // the Spark side merges two partial DECIMAL states — the hash match
    // proves incremental maintenance == full recompute.
    "op_incr_agg" ->
      """SELECT o_custkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  count(o_totalprice) AS cnt,
        |  round((CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    / count(o_totalprice)) * 1000000) / 1000000 AS mean
        |FROM orders GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_table_diff" ->
      """WITH src AS (SELECT * FROM orders WHERE o_orderkey < 7000),
        |o AS (SELECT * FROM src WHERE o_orderkey % 7 <> 3),
        |n AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |        CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 100.0
        |             ELSE o_totalprice END AS o_totalprice,
        |        o_orderdate,
        |        CASE WHEN o_orderkey % 10 = 0 THEN 'RUSH'
        |             ELSE o_orderpriority END AS o_orderpriority
        |      FROM src WHERE o_orderkey % 11 <> 4)
        |SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'insert'
        |       WHEN n.o_orderkey IS NULL THEN 'delete'
        |       ELSE 'update' END AS change_type,
        |  CASE WHEN o.o_orderkey IS NULL OR n.o_orderkey IS NULL THEN NULL
        |       ELSE array_to_string(list_filter([
        |         CASE WHEN o.o_custkey IS DISTINCT FROM n.o_custkey THEN 'o_custkey' END,
        |         CASE WHEN o.o_orderdate IS DISTINCT FROM n.o_orderdate THEN 'o_orderdate' END,
        |         CASE WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority THEN 'o_orderpriority' END,
        |         CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN 'o_orderstatus' END,
        |         CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'o_totalprice' END
        |       ], x -> x IS NOT NULL), ',') END AS changed_cols
        |FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
        |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |   OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
        |   OR o.o_custkey IS DISTINCT FROM n.o_custkey
        |   OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
        |   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |ORDER BY o_orderkey""".stripMargin,

    // Trigram-collision decontamination: string trigrams here vs 64-bit
    // shingle hashes on the Spark side — identical distinct-counts modulo
    // ~N²/2⁶⁵ hash collisions (same argument as the dedup family).
    "text_decontaminate" ->
      s"""$trigramCtes,
         |ev AS (SELECT DISTINCT sh.shingle FROM sh
         |       JOIN documents d ON d.doc_id = sh.doc_id
         |       WHERE d.source IN ('src0', 'src1')),
         |tr AS (SELECT sh.doc_id, sh.shingle FROM sh
         |       JOIN documents d ON d.doc_id = sh.doc_id
         |       WHERE d.source NOT IN ('src0', 'src1'))
         |SELECT tr.doc_id, count(DISTINCT tr.shingle) AS n_shared_ngrams
         |FROM tr JOIN ev ON tr.shingle = ev.shingle
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The partitioned roundtrip is content-neutral, so the oracle is the
    // plain dim-filtered join over the source table.
    "op_dpp" ->
      """WITH dim AS (
        |  SELECT DISTINCT event_type,
        |    CASE WHEN event_type IN ('click', 'view') THEN 'engagement'
        |         ELSE 'other' END AS type_class
        |  FROM events)
        |SELECT e.event_type, count(*) AS n,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN dim ON e.event_type = dim.event_type
        |WHERE dim.type_class = 'engagement'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Two chained admission waves: wave-2's corpus is c0 plus wave-1's
    // ADMITTED docs — the stateful foreachBatch chain, proven exactly.
    "stream_dedup_incr" ->
      s"""$trigramCtes,
         |$trigramSizesCte,
         |w1 AS (SELECT * FROM sh WHERE doc_id % 5 = 0),
         |w2 AS (SELECT * FROM sh WHERE doc_id % 5 = 1),
         |c0 AS (SELECT * FROM sh WHERE doc_id % 5 >= 2),
         |xc1 AS (SELECT b.doc_id AS da, c.doc_id AS db, count(*) AS ni
         |        FROM w1 b JOIN c0 c ON b.shingle = c.shingle GROUP BY 1, 2),
         |xcp1 AS (SELECT da FROM xc1
         |         JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |         WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5),
         |cd1 AS (SELECT da AS doc_id, count(*) AS n_corpus_dups FROM xcp1 GROUP BY 1),
         |ib1 AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS ni
         |        FROM w1 x JOIN w1 y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |        GROUP BY 1, 2),
         |ibp1 AS (SELECT da, db FROM ib1
         |         JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |         WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5),
         |bd1 AS (SELECT d, count(*) AS n_batch_dups FROM
         |          (SELECT da AS d FROM ibp1 UNION ALL SELECT db FROM ibp1) u
         |        GROUP BY 1),
         |v1 AS (SELECT d.doc_id,
         |         coalesce(cd1.n_corpus_dups, 0) AS n_corpus_dups,
         |         coalesce(bd1.n_batch_dups, 0) AS n_batch_dups,
         |         CASE WHEN coalesce(cd1.n_corpus_dups, 0) > 0 THEN 'dup_of_corpus'
         |              WHEN coalesce(bd1.n_batch_dups, 0) > 0 THEN 'needs_batch_dedup'
         |              ELSE 'admitted' END AS verdict
         |       FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
         |       LEFT JOIN cd1 ON cd1.doc_id = d.doc_id
         |       LEFT JOIN bd1 ON bd1.d = d.doc_id),
         |c1 AS (SELECT * FROM c0 UNION ALL
         |       SELECT * FROM w1
         |       WHERE doc_id IN (SELECT doc_id FROM v1 WHERE verdict = 'admitted')),
         |xc2 AS (SELECT b.doc_id AS da, c.doc_id AS db, count(*) AS ni
         |        FROM w2 b JOIN c1 c ON b.shingle = c.shingle GROUP BY 1, 2),
         |xcp2 AS (SELECT da FROM xc2
         |         JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |         WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5),
         |cd2 AS (SELECT da AS doc_id, count(*) AS n_corpus_dups FROM xcp2 GROUP BY 1),
         |ib2 AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS ni
         |        FROM w2 x JOIN w2 y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |        GROUP BY 1, 2),
         |ibp2 AS (SELECT da, db FROM ib2
         |         JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |         WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5),
         |bd2 AS (SELECT d, count(*) AS n_batch_dups FROM
         |          (SELECT da AS d FROM ibp2 UNION ALL SELECT db FROM ibp2) u
         |        GROUP BY 1),
         |v2 AS (SELECT d.doc_id,
         |         coalesce(cd2.n_corpus_dups, 0) AS n_corpus_dups,
         |         coalesce(bd2.n_batch_dups, 0) AS n_batch_dups,
         |         CASE WHEN coalesce(cd2.n_corpus_dups, 0) > 0 THEN 'dup_of_corpus'
         |              WHEN coalesce(bd2.n_batch_dups, 0) > 0 THEN 'needs_batch_dedup'
         |              ELSE 'admitted' END AS verdict
         |       FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 1) d
         |       LEFT JOIN cd2 ON cd2.doc_id = d.doc_id
         |       LEFT JOIN bd2 ON bd2.d = d.doc_id)
         |SELECT CAST(1 AS BIGINT) AS wave, doc_id, n_corpus_dups, n_batch_dups, verdict FROM v1
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS wave, doc_id, n_corpus_dups, n_batch_dups, verdict FROM v2
         |ORDER BY wave, doc_id""".stripMargin,

    // The oracle reads the SOURCE table — content preservation through
    // the 48-file write + compaction rewrite is exactly what's asserted.
    "op_compact" ->
      """WITH h AS (
        |  SELECT coalesce(((doc_id % 2147483647) + 2147483647) % 2147483647,
        |           2147483646) AS p1,
        |    coalesce(((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(length(text)),
        |        i -> ascii(substr(text, CAST(i + 1 AS INT), 1)))),
        |      (acc, c) -> (acc * 131 + c) % 2147483647)
        |      % 2147483647) + 2147483647) % 2147483647, 2147483646) AS p2
        |  FROM documents),
        |m AS (SELECT ((p1 % 2147483647) * 131 + p2) % 2147483647 AS mix FROM h)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(mix) % 2147483647 AS BIGINT) AS checksum
        |FROM m""".stripMargin
  )
}
