package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames. Companion to the
  * min-label propagation in [[Dedup.dedupClusters]] — same design rules:
  * fixed-point loops build lazy-checkpointed plans (no driver-side data,
  * no collect), every cross-partition float sum rides an exact DECIMAL,
  * so results are bit-identical across engines and re-partitionings.
  */
object Graph {

  /** The symmetrized edge list (u, v): both orientations of every edge,
    * duplicates collapsed — the undirected view most operators here walk.
    */
  private def undirected(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .unionByName(edges.select(col(dstCol).as("u"), col(srcCol).as("v")))
      .distinct()

  /** Exact sum of 12-dp-quantized doubles as DECIMAL(18,12). */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(graft.functions.Fns.q12(c).cast("decimal(18,12)"))

  /** Per-node triangle counts of the undirected graph — the local
    * community-density signal behind clustering coefficients, spam-farm
    * detection, and near-dup cluster sanity checks (a dedup cluster
    * whose similarity graph is triangle-free is a chain of borderline
    * pairs, not a community).
    *
    * Physical strategy: DEGREE ORIENTATION (Cohen / Suri–Vassilvitskii):
    * each undirected edge points from its lower-(degree, id) endpoint to
    * the higher one, wedges enumerate only ORDERED out-pairs of each
    * node, and a wedge closes iff its (y, z) pair is itself an oriented
    * edge. Every triangle is found exactly once, and out-degrees are
    * bounded by O(√m), so wedge count is O(m^1.5) instead of Σ d(v)² —
    * the difference between a hub node exploding the join and not. The
    * DuckDB oracle counts the same triangles with the naive a<b<c
    * closure — output equality across formulations is part of what the
    * gate proves (semantics are orientation-free; only the join shape
    * isn't).
    *
    * Plan shape: an edge-dedup aggregate, a degree aggregate joined back
    * (shuffle keyed by endpoint), one self-join keyed on wedge apex u,
    * one closure join keyed on (y, z), one explode + count. Nodes in no
    * triangle simply don't appear (join [[pageRank]]'s node set or the
    * degree frame for a zero-filled variant).
    */
  def triangleCounts(edges: DataFrame, srcCol: String = "src",
                     dstCol: String = "dst"): DataFrame = {
    val e0 = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = e0.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val oriented = e0
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(when(col("da") < col("db")
          || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("w"), col("db").as("dw")))
        .otherwise(struct(col("b").as("u"), col("a").as("w"), col("da").as("dw")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"), col("e.dw").as("dw"))
    // Ordered wedges at u, pair ranked by the SAME (degree, id) key the
    // orientation used — so the closing edge, if present, is oriented
    // exactly y -> z and each triangle matches once.
    val wedges = oriented.as("p").join(oriented.as("q"),
        col("p.u") === col("q.u") && (col("p.dw") < col("q.dw")
          || (col("p.dw") === col("q.dw") && col("p.w") < col("q.w"))))
      .select(col("p.u").as("x"), col("p.w").as("y"), col("q.w").as("z"))
    val tri = wedges
      .join(oriented.select(col("u").as("y"), col("w").as("z")), Seq("y", "z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node local clustering coefficient: 2·triangles / (d·(d−1)) —
    * how close each node's neighborhood is to a clique (1 = clique,
    * 0 = star), the standard community-density feature on top of
    * [[triangleCounts]]. Every node of the graph emits a row
    * (triangle-free nodes get coefficient 0); degree-1 nodes have an
    * undefined coefficient and emit NULL via an explicit guard (the
    * DuckDB oracle mirrors the CASE). The degree product runs in double
    * (d² overflows int64 on ~10⁹-degree hubs); the division is one IEEE
    * op rounded to 6 dp. Cost on top of the triangle join: one degree
    * aggregate + a node-keyed left join.
    */
  def clusteringCoefficients(edges: DataFrame, srcCol: String = "src",
                             dstCol: String = "dst"): DataFrame = {
    val e0 = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = e0.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val tri = triangleCounts(e0, "a", "b")
    deg.join(tri, col("v") === col("node"), "left")
      .select(col("v").as("node"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("d") <= 1, lit(null).cast("double"))
          .otherwise(graft.functions.Fns.q6(
            coalesce(col("n_triangles"), lit(0L)).cast("double") * 2
              / (col("d").cast("double") * (col("d") - 1))))
          .as("clustering_coeff"))
  }

  /** PageRank with up to `iters` synchronous power iterations (damping
    * `d`): `r' = (1−d)/N + d·(Σ_in r/outdeg + danglingMass/N)` — the
    * classic link-quality score, used in data curation to weight crawl
    * domains / citation graphs before sampling.
    *
    * Determinism: per-node in-sums and the dangling mass are 12-dp-rounded
    * exact DECIMAL sums (ranks ≤ 1, so scale-12 quantization is exact in
    * any engine); the rank update itself is a fixed per-row double
    * expression. The DuckDB oracle unrolls the same iterations CTE by CTE
    * and reproduces every bit.
    *
    * Scale shape per iteration: one hash shuffle keyed on dst for the
    * contribution sum (map-side combine), a broadcast single-row dangling
    * aggregate, one key join back to the node set; ranks are
    * EAGER-checkpointed each round so the plan stays iteration-depth-free
    * (the round-5 dedupClusters lesson) and checkpoint materialization
    * stays single-threaded (the deadlock note in dedupClusters). Edges
    * are deduplicated up front; nodes = src ∪ dst. Calling this method
    * therefore RUNS the iterations — it is not a lazy plan builder.
    *
    * `tol > 0` adds an L1-delta convergence early-stop — see
    * [[pageRankRun]] for the probe's exact semantics and cost.
    */
  def pageRank(edges: DataFrame, iters: Int = 3, damping: Double = 0.85,
               srcCol: String = "src", dstCol: String = "dst",
               tol: Double = 0.0): DataFrame =
    pageRankRun(edges, iters, damping, srcCol, dstCol, tol)._1

  /** PERSONALIZED PageRank: teleportation lands on the `sources` node
    * set instead of uniformly — `r' = (1−d)·p + d·(Σ_in r/outdeg +
    * danglingMass·p)` with `p(v) = 1/|S|` on the source set, 0
    * elsewhere — relevance-to-S scoring (seed-domain crawl weighting,
    * "what does this community link to"). Same per-iteration plan shape,
    * DECIMAL determinism and eager-checkpoint discipline as [[pageRank]];
    * the personalization vector is carried alongside the ranks so no
    * extra join appears inside the loop. Nodes unreachable from S score
    * exactly 0. Sources not present in the graph are ignored (|S| counts
    * only matched nodes, keeping Σp = 1 so rank mass is conserved).
    */
  def pageRankPersonalized(edges: DataFrame, sources: DataFrame,
                           iters: Int = 3, damping: Double = 0.85,
                           srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // same per-round double-read as [[pageRankRun]]'s deg — checkpointed
    // once (r20)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    val s0 = sources.select(col("node")).distinct()
      .join(nodes, Seq("node"), "left_semi")
    val nS = s0.agg(count(lit(1)).as("n_s"))
    var ranks = nodes
      .join(s0.withColumn("__in_s", lit(1)), Seq("node"), "left")
      .crossJoin(broadcast(nS))
      .select(col("node"),
        when(col("__in_s") === 1, lit(1.0) / col("n_s")).otherwise(lit(0.0))
          .as("p"))
      .withColumn("rank", col("p"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val contrib = e
        .join(ranks.select(col("node").as("src"), col("rank")), "src")
        .join(deg, "src")
        .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("c"))
      val inSum = contrib.groupBy("node").agg(dsum(col("c")).as("s"))
      val dangling = ranks
        .join(deg.select(col("src").as("node")), Seq("node"), "left_anti")
        .agg(coalesce(dsum(col("rank")), lit(0).cast("decimal(18,12)")).as("dm"))
      ranks = ranks.select("node", "p")
        .join(inSum, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("p"),
          (lit(1.0 - damping) * col("p") + lit(damping) *
            (coalesce(col("s").cast("double"), lit(0.0)) +
              col("dm").cast("double") * col("p"))).as("rank"))
        .localCheckpoint()
    }
    ranks.select(col("node"), graft.functions.Fns.q6(col("rank")).as("rank"))
  }

  /** [[pageRank]] plus the number of iterations actually run — the
    * convergence early-stop's observable (spec-asserted; `pageRank`
    * itself keeps the one-frame signature).
    *
    * `tol > 0` enables the early stop, mirroring [[Dedup.dedupClusters]]'s
    * convergence probe: after each iteration the L1 rank delta
    * `Σ_v |r'(v) − r(v)|` is computed as an exact DECIMAL sum of
    * 12-dp-rounded per-node deltas (one node-keyed join of two
    * already-checkpointed frames + a single-row aggregate — no
    * re-evaluation of the contribution subtree) and the loop exits at the
    * first delta ≤ tol. The returned ranks are identical to the
    * full-iteration run whenever the exited state is a fixed point to
    * 12 dp; at 100 TB this is what stops a curation pipeline from paying
    * for power iterations past the tolerance. `tol = 0` (default)
    * preserves the exact fixed-iteration unroll the DuckDB oracle mirrors.
    */
  /** Log₂-bucketed degree distribution of the undirected graph — the
    * first diagnostic run on any web/link/co-occurrence graph before
    * heavier algorithms: a power-law tail says "expect hubs, orient your
    * wedges" ([[triangleCounts]]'s strategy), a truncated one says the
    * graph is degree-bounded and naive joins are safe. Buckets are
    * `floor(log₂ degree)` with explicit [lo, hi] bounds, so the histogram
    * has at most ~64 rows regardless of graph size.
    *
    * Edges normalize to undirected form (lesser endpoint first,
    * self-loops dropped, duplicates collapsed); degree is the count of
    * distinct neighbors. Plan: edge-normalize aggregate, one explode to
    * (node, neighbor) halves, a node-keyed count, then a ≤64-key bucket
    * aggregate — two hash shuffles, the second on a constant-size key
    * space with map-side combine.
    */
  def degreeHistogram(edges: DataFrame, srcCol: String = "src",
                      dstCol: String = "dst"): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // floor(log2 d) via the binary digit count, NOT floor(ln d / ln 2):
    // the IEEE quotient lands below the integer for exact powers of two
    // (log(2,8) = 2.999…96 on some libm), which would shift those nodes
    // a bucket down nondeterministically across engines. bin() length is
    // exact integer logic everywhere.
    deg
      .select((length(bin(col("degree"))) - 1).cast("long").as("bucket"),
        col("degree"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_nodes"), max(col("degree")).as("max_degree"))
      .select(col("bucket"), pow(lit(2.0), col("bucket")).cast("long").as("lo"),
        (pow(lit(2.0), col("bucket") + 1).cast("long") - 1).as("hi"),
        col("n_nodes"), col("max_degree"))
  }

  private[graft] def pageRankRun(edges: DataFrame, iters: Int, damping: Double,
                                 srcCol: String, dstCol: String,
                                 tol: Double): (DataFrame, Int) = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    require(tol >= 0.0, s"need tol >= 0, got $tol")
    // EAGER checkpoints throughout the loop: a lazy checkpoint that a
    // broadcast-exchange thread and the DAG scheduler race to materialize
    // deadlocks on Spark's global RDDCheckpointData monitor (see
    // Dedup.dedupClusters scaladoc); creation-order materialization makes
    // every broadcast subtree read an already-materialized checkpoint.
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // deg is read TWICE per round (contribution join + dangling
    // anti-join) and exchange reuse does not cross the per-round
    // checkpoint actions, so the groupBy re-ran every round (r20
    // optimization round; part of the measured 41-job cost of a
    // 3-iteration run over a tiny graph). One eager checkpoint; values
    // unchanged.
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    val nn = nodes.agg(count(lit(1)).as("n_nodes"))
    var ranks = nodes.crossJoin(broadcast(nn))
      .select(col("node"), (lit(1.0) / col("n_nodes")).as("rank"), col("n_nodes"))
      .localCheckpoint()
    var itersRun = 0
    var converged = false
    while (itersRun < iters && !converged) {
      val prev = ranks
      val contrib = e
        .join(ranks.select(col("node").as("src"), col("rank")), "src")
        .join(deg, "src")
        .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("c"))
      val inSum = contrib.groupBy("node").agg(dsum(col("c")).as("s"))
      val dangling = ranks
        .join(deg.select(col("src").as("node")), Seq("node"), "left_anti")
        .agg(coalesce(dsum(col("rank")), lit(0).cast("decimal(18,12)")).as("dm"))
      ranks = ranks.select("node", "n_nodes")
        .join(inSum, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit(1.0 - damping) / col("n_nodes") + lit(damping) *
            (coalesce(col("s").cast("double"), lit(0.0)) +
              col("dm").cast("double") / col("n_nodes"))).as("rank"),
          col("n_nodes"))
        .localCheckpoint()
      itersRun += 1
      if (tol > 0.0 && itersRun < iters) {
        val delta = ranks.select(col("node"), col("rank"))
          .join(prev.select(col("node"), col("rank").as("prev_rank")), "node")
          .agg(coalesce(dsum(abs(col("rank") - col("prev_rank"))),
            lit(0).cast("decimal(18,12)")).as("d"))
          .head().getDecimal(0)
        if (delta.doubleValue <= tol) converged = true
      }
    }
    (ranks.select(col("node"), graft.functions.Fns.q6(col("rank")).as("rank")), itersRun)
  }

  /** Truncated BFS: exact minimum hop distance (≤ `hops`) from a seed
    * set over the UNDIRECTED edge view — the bounded-radius reachability
    * pass (neighborhood expansion around flagged nodes, contamination
    * blast-radius checks). Nodes farther than `hops` are absent.
    *
    * Scale shape: classic frontier BFS, unrolled — each round joins only
    * the NEWLY-discovered frontier (nodes whose min distance equals the
    * previous round index) against the edge list, then folds into the
    * running distance table with a keyed min; hop counts are bounded and
    * small, so the lazy chained plan stays shallow and no iteration ever
    * re-propagates the whole reached set (the Bellman-Ford-shaped
    * full-table variant the oracle runs is equivalent on min distance
    * but quadratic in re-sent rows — fine in DuckDB at sf, wrong at
    * 100 TB).
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, hops: Int = 3,
              srcCol: String = "src", dstCol: String = "dst",
              seedCol: String = "node"): DataFrame = {
    require(hops >= 1, s"need hops >= 1, got $hops")
    val und = undirected(edges, srcCol, dstCol)
    var dist = seeds.select(col(seedCol).as("node"), lit(0L).as("dist"))
    var frontier = dist
    for (i <- 1 to hops) {
      val prop = frontier.join(und, col("node") === col("u"))
        .select(col("v").as("node"), lit(i.toLong).as("dist"))
      dist = dist.unionByName(prop).groupBy("node").agg(min("dist").as("dist"))
      frontier = dist.filter(col("dist") === i.toLong)
    }
    dist
  }

  /** Truncated closeness/harmonic centrality for a SEED SET — the
    * sampled-landmark version of the classic centralities (exact
    * all-pairs closeness is O(N·m), unpayable on a 100 TB graph; seeded
    * BFS to a bounded depth is the standard estimator): per seed, BFS
    * the undirected graph `hops` levels carrying the seed id in the
    * frontier state, then report nodes reached, total distance,
    * closeness = n_reached / Σd (the reached-only normalization) and
    * HARMONIC centrality Σ 1/d — the variant that stays meaningful on
    * disconnected graphs and is the recommended form in the public
    * centrality literature. Every seed emits a row (an isolated seed
    * reports 0 reached, NULL closeness, 0 harmonic).
    *
    * Determinism: distances are exact integer mins; the harmonic sum is
    * a DECIMAL sum of 9-dp-rounded 1/d terms (d ≤ hops, so the 9-dp
    * quantization is far from any representation edge); the one
    * division rides the DECIMAL(24,12) rounding convention. Per level:
    * one (node)-keyed join frontier×edges + a (seed, node)-keyed min —
    * the [[bfsHops]] shape with a seed column, so cost is
    * seeds × frontier growth, linear per seed, no pair terms.
    */
  def closenessCard(edges: DataFrame, seeds: DataFrame, hops: Int = 3,
                    srcCol: String = "src", dstCol: String = "dst",
                    seedCol: String = "node"): DataFrame = {
    require(hops >= 1, s"need hops >= 1, got $hops")
    def d6(c: org.apache.spark.sql.Column) = graft.functions.Fns.q6(c)
    val und = undirected(edges, srcCol, dstCol)
    val s0 = seeds.select(col(seedCol).as("seed")).distinct()
    var dist = s0.select(col("seed"), col("seed").as("node"),
      lit(0L).as("dist"))
    var frontier = dist
    for (i <- 1 to hops) {
      val prop = frontier.join(und, col("node") === col("u"))
        .select(col("seed"), col("v").as("node"), lit(i.toLong).as("dist"))
      dist = dist.unionByName(prop).groupBy("seed", "node")
        .agg(min("dist").as("dist"))
      frontier = dist.filter(col("dist") === i.toLong)
    }
    val agg = dist.filter(col("dist") > 0).groupBy("seed")
      .agg(count(lit(1)).as("n_reached"), sum("dist").as("total_dist"),
        sum(graft.functions.Fns.q9(lit(1.0) / col("dist")).cast("decimal(18,9)")).as("h"))
    s0.join(agg, Seq("seed"), "left")
      .select(col("seed").as("node"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        coalesce(col("total_dist"), lit(0L)).as("total_dist"),
        d6(try_divide(col("n_reached").cast("double"),
          col("total_dist").cast("double"))).as("closeness"),
        d6(coalesce(col("h").cast("double"), lit(0.0))).as("harmonic"))
  }

  /** Truncated k-core decomposition: `rounds` synchronous pruning
    * passes — drop every node whose degree within the SURVIVING subgraph
    * is < k, recompute, repeat — converging toward the k-core (the
    * maximal subgraph where everyone has ≥ k neighbors), the standard
    * densest-region extractor before expensive per-community work.
    * Bounded rounds keep the lazy plan shallow (like [[pageRank]]); a
    * fixed-point caller loops with eager checkpoints exactly as the
    * dedup cluster operators do. Output: surviving (node, degree), the
    * degree measured in the final surviving subgraph.
    *
    * Per round: two node-keyed semijoins restrict the edge list, one
    * degree aggregate — all hash-partitioned on node ids, nothing
    * global, no tie-breaks anywhere (pruning is threshold-only, so the
    * result is order-independent by construction).
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 3,
            srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    val und = undirected(edges, srcCol, dstCol)
    var nodes = und.select(col("u").as("node")).distinct()
    var deg: DataFrame = null
    for (_ <- 1 to rounds) {
      deg = und
        .join(nodes.select(col("node").as("u")), "u")
        .join(nodes.select(col("node").as("v")), "v")
        .groupBy(col("u").as("node")).agg(count(lit(1)).as("degree"))
      nodes = deg.filter(col("degree") >= k).select("node")
    }
    deg.filter(col("degree") >= k)
  }

  /** Common-neighbor Jaccard similarity for every node pair sharing at
    * least one neighbor — the item-item collaborative-filtering
    * primitive (two parts are similar when the same baskets contain
    * them). `minJaccard` prunes the long tail before output.
    *
    * Scale shape: pairs enumerate through the shared-neighbor wedge
    * join (the [[triangleCounts]] cost class — bounded by wedge count,
    * never |V|²), ordered u < v so each pair counts once; degrees come
    * from one aggregate broadcast-joined back; Jaccard =
    * common / (deg_u + deg_v − common) on exact BIGINTs, one rounded
    * division.
    */
  def nodeJaccard(edges: DataFrame, minJaccard: Double = 0.0,
                  srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(minJaccard >= 0.0 && minJaccard <= 1.0,
      s"need minJaccard in [0,1], got $minJaccard")
    val und = undirected(edges, srcCol, dstCol)
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val common = und.as("a").join(und.as("b"),
        col("a.v") === col("b.v") && col("a.u") < col("b.u"))
      .groupBy(col("a.u").as("x"), col("b.u").as("y"))
      .agg(count(lit(1)).as("common"))
    common
      .join(deg.select(col("node").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("node").as("y"), col("deg").as("dy")), "y")
      .select(col("x"), col("y"), col("common"),
        graft.functions.Fns.q6(col("common").cast("double") /
          (col("dx") + col("dy") - col("common")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Degree assortativity coefficient (Newman): the Pearson correlation
    * of endpoint degrees over the directed-edge view of the undirected
    * graph — one scalar separating hub-to-hub "rich-club" topologies
    * (r > 0) from hub-and-spoke ones (r < 0), which decides whether
    * degree-based partitioning will skew. Symmetric edge list ⇒
    * Σx = Σy and Σx² = Σy², so five exact integer sums (DECIMAL(38,0),
    * order-free; degrees are BIGINTs) feed one rounded division.
    * Cost: one degree aggregate joined onto both endpoints, one reduce.
    */
  def assortativity(edges: DataFrame, srcCol: String = "src",
                    dstCol: String = "dst"): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    def dsum(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(38,0)")).cast("double")
    und
      .join(deg.select(col("node").as("u"), col("deg").as("x")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("y")), "v")
      .agg(count(lit(1)).as("m"), dsum(col("x")).as("sx"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("x") * col("y")).as("sxy"))
      .select(col("m").as("n_directed_edges"),
        // try_divide: a degree-regular graph has zero degree variance —
        // assortativity is undefined there, reported as NULL
        graft.functions.Fns.q6(try_divide(
          col("m").cast("double") * col("sxy") - col("sx") * col("sx"),
          col("m").cast("double") * col("sxx") - col("sx") * col("sx")))
          .as("assortativity"))
  }

  /** Synchronous majority-vote label propagation (`rounds` rounds) over
    * the undirected edge view: every node adopts the most frequent label
    * among its neighbors (ties → smallest label; isolated nodes keep
    * their own) — the cheap semi-supervised label-spreading /
    * community-detection step (Raghavan et al.'s LPA, synchronous
    * variant, deterministically tie-broken so both engines agree).
    *
    * Per round: one edge join, one (node, label) count aggregate, one
    * node-partitioned argmax window, one left join back — all keyed on
    * node, nothing global. `initLabels`: (node, label) with a label for
    * EVERY node.
    */
  def labelPropagate(edges: DataFrame, initLabels: DataFrame,
                     rounds: Int = 2, srcCol: String = "src",
                     dstCol: String = "dst"): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    import org.apache.spark.sql.expressions.Window
    val und = undirected(edges, srcCol, dstCol)
    var lab = initLabels.select(col("node"), col("label"))
    for (_ <- 1 to rounds) {
      val votes = lab.join(und, col("node") === col("u"))
        .groupBy(col("v").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("node")
        .orderBy(col("c").desc, col("label").asc)
      val winners = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("node"), col("label").as("new_label"))
      lab = lab.join(winners, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("new_label"), col("label")).as("label"))
    }
    lab
  }

  /** Adamic–Adar link-prediction scores: for every NON-adjacent node
    * pair (x < y) with at least one common neighbor,
    * score = Σ_{z ∈ N(x)∩N(y)} 1 / ln(deg(z)) — common neighbors count,
    * but common neighbors that are themselves hubs count less. The
    * classic "who should be connected next" ranking (Adamic & Adar
    * 2003), and the missing-edge probe for dedup similarity graphs.
    *
    * Scale shape: the same shared-neighbor wedge join as
    * [[nodeJaccard]] — pairs enumerate through each common neighbor z
    * (cost bounded by Σ deg(z)², the wedge count, never |V|²), with the
    * degree aggregate joined once onto z BEFORE pair expansion so the
    * weight rides the wedge row. Adjacent pairs leave via one left-anti
    * join against the undirected edge set. Determinism: a common
    * neighbor has deg ≥ 2, so ln(deg) ≥ ln 2 > 0; each wedge weight
    * 1/ln(deg) is rounded to 9 dp and summed as DECIMAL(28,9) —
    * order-free, engine-identical — then one rounded cast out.
    */
  def adamicAdar(edges: DataFrame, minScore: Double = 0.0,
                 srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(minScore >= 0.0, s"need minScore >= 0, got $minScore")
    val und = undirected(edges, srcCol, dstCol)
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    // weight each potential common neighbor once, pre-expansion;
    // deg-1 nodes can never be a shared wedge apex (one edge can't pair)
    // and would make 1/ln(deg) divide by zero under ANSI.
    val withW = und.join(
        deg.select(col("node").as("v"), col("deg")), "v")
      .filter(col("deg") >= 2)
      .select(col("u"), col("v"),
        round(lit(1.0) / log(col("deg").cast("double")), 9)
          .cast("decimal(28,9)").as("w"))
    val wedges = withW.as("a").join(withW.as("b"),
        col("a.v") === col("b.v") && col("a.u") < col("b.u"))
      .groupBy(col("a.u").as("x"), col("b.u").as("y"))
      .agg(sum(col("a.w")).as("aa_dec"), count(lit(1)).as("common"))
    wedges
      .join(und.select(col("u").as("x"), col("v").as("y")),
        Seq("x", "y"), "left_anti")
      .select(col("x"), col("y"), col("common"),
        round(col("aa_dec"), 6).cast("double").as("adamic_adar"))
      .filter(col("adamic_adar") >= minScore)
  }

  /** Power-law tail fit of the degree distribution: the continuous-MLE
    * exponent α = 1 + n·[Σ ln(dᵢ/xmin)]⁻¹ over nodes with degree ≥ xmin
    * (Clauset, Shalizi & Newman 2009, eq. 3.1) — the one scalar that
    * decides whether hub skew will break degree-keyed joins (α < 2:
    * heavy hubs, salt; α > 3: tail is tame). Reported with the tail
    * fraction so a thin tail flags the fit as unreliable.
    *
    * Cost: the degree aggregate, one map-side-combined sum (per-node
    * ln contributions 9-dp-rounded into DECIMAL — order-free), one
    * broadcast scalar. A degenerate tail (all degrees = xmin, Σ = 0)
    * yields NULL α via try_divide.
    */
  def powerlawTail(edges: DataFrame, xmin: Long = 5L,
                   srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(xmin >= 1, s"need xmin >= 1, got $xmin")
    val und = undirected(edges, srcCol, dstCol)
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val tot = deg.agg(count(lit(1)).as("n_nodes"))
    deg.filter(col("deg") >= xmin)
      .agg(count(lit(1)).as("n_tail"),
        sum(round(log(col("deg").cast("double") / xmin.toDouble), 9)
          .cast("decimal(28,9)")).as("slog"))
      .crossJoin(broadcast(tot))
      .select(col("n_nodes"), col("n_tail"), lit(xmin).as("xmin"),
        // try_divide: an edgeless graph has n_nodes = 0 — NULL frac,
        // not an ANSI divide-by-zero
        graft.functions.Fns.q6(try_divide(col("n_tail").cast("double"),
          col("n_nodes").cast("double"))).as("tail_frac"),
        graft.functions.Fns.q6(lit(1.0) + try_divide(col("n_tail").cast("double"),
          col("slog").cast("double"))).as("alpha_hill"))
  }

  /** Rich-club coefficient φ(k) for a ladder of degree thresholds: the
    * edge density of the subgraph induced by nodes with degree > k —
    * "do the hubs preferentially interconnect" (φ → 1: a hub clique —
    * the degree-keyed-join hotspot; φ ≈ overall density: no club). For
    * each k: φ = 2·E_k / (N_k·(N_k−1)) over the undirected view.
    * Cost per k: two semijoins of the edge list against the ≥k node
    * set + two counts; the thresholds are a literal ladder, unioned.
    */
  def richClub(edges: DataFrame, thresholds: Seq[Long] = Seq(2L, 4L, 8L),
               srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val und = undirected(edges, srcCol, dstCol)
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    thresholds.map { k =>
      val club = deg.filter(col("deg") > k).select("node")
      val ek = und
        .join(club.select(col("node").as("u")), "u")
        .join(club.select(col("node").as("v")), "v")
        .agg((count(lit(1)) / 2).cast("long").as("e_club"))
      club.agg(count(lit(1)).as("n_club"))
        .crossJoin(broadcast(ek))
        .select(lit(k).as("k"), col("n_club"), col("e_club"),
          graft.functions.Fns.q6(try_divide(lit(2.0) * col("e_club").cast("double"),
            col("n_club").cast("double") *
            (col("n_club") - 1L).cast("double"))).as("phi"))
    }.reduce(_ unionByName _)
  }

  /** Newman modularity of a GIVEN partition, reported per community:
    * contribution q_c = intra_c/2m − (d_c/2m)², so Q = Σ q_c — the
    * "did the community detection actually find structure" score for
    * whatever labeling is fed in ([[labelPropagate]]'s output, a dedup
    * cluster map, a business taxonomy). Q ≈ 0: no better than random;
    * Q ≳ 0.3: real structure.
    *
    * Cost: the undirected edge view joined to labels on BOTH endpoints
    * (two keyed joins), three label-keyed aggregates, one broadcast
    * scalar. All counts are exact BIGINTs over the DIRECTED edge view
    * (|und| = 2m), so each contribution is one fixed double expression.
    * `labels`: (node, label) covering every node (unlabeled endpoints
    * drop their edges — mirror the propagation's node set).
    */
  def modularity(edges: DataFrame, labels: DataFrame,
                 srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val lab = labels.select(col("node"), col("label"))
    val el = und
      .join(lab.select(col("node").as("u"), col("label").as("lu")), "u")
      .join(lab.select(col("node").as("v"), col("label").as("lv")), "v")
    val m2 = el.agg(count(lit(1)).as("m2"))
    val degs = el.groupBy(col("lu").as("label"))
      .agg(count(lit(1)).as("degree_sum"),
        sum(when(col("lu") === col("lv"), 1L).otherwise(0L))
          .as("intra_directed"))
    lab.groupBy("label").agg(count(lit(1)).as("n_nodes"))
      .join(degs, Seq("label"), "left")
      .crossJoin(broadcast(m2))
      .select(col("label"), col("n_nodes"),
        coalesce(col("intra_directed"), lit(0L)).as("intra_directed"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"),
        // try_divide: an edgeless labeling (m2 = 0) reports NULL, not
        // an ANSI divide-by-zero
        graft.functions.Fns.q6(try_divide(coalesce(col("intra_directed"), lit(0L))
            .cast("double"), col("m2").cast("double")) -
          try_divide(coalesce(col("degree_sum"), lit(0L)).cast("double"),
            col("m2").cast("double")) *
          try_divide(coalesce(col("degree_sum"), lit(0L)).cast("double"),
            col("m2").cast("double"))).as("q_contrib"))
  }

  /** Per-community conductance φ(C) = cut(C) / min(vol(C), vol(V∖C)) —
    * the bottleneck measure complementing [[modularity]]: modularity
    * says "denser inside than chance", conductance says "how leaky is
    * the boundary" (low φ = well-separated community; the objective
    * spectral partitioning approximates via Cheeger's inequality). On
    * the symmetrized edge list a crossing undirected edge contributes
    * exactly one (u-in-C, v-outside) row, so cut and volume come from
    * the SAME label-keyed aggregate with no double-count correction.
    *
    * Scale shape: identical to [[modularity]] — two node-keyed label
    * joins onto the symmetrized edges, one label-keyed aggregate, the
    * scalar 2m broadcast back; no pair term. A community with
    * min(vol, 2m − vol) = 0 (isolated, or the whole graph) reports
    * NULL conductance via try_divide; the ratio is DECIMAL-routed
    * before the 6-dp round (1/128 lands exactly on a 7-dp half).
    */
  def conductance(edges: DataFrame, labels: DataFrame,
                  srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val lab = labels.select(col("node"), col("label"))
    val el = und
      .join(lab.select(col("node").as("u"), col("label").as("lu")), "u")
      .join(lab.select(col("node").as("v"), col("label").as("lv")), "v")
    val m2 = el.agg(count(lit(1)).as("m2"))
    val per = el.groupBy(col("lu").as("label"))
      .agg(count(lit(1)).as("volume"),
        sum(when(col("lu") =!= col("lv"), 1L).otherwise(0L)).as("cut"))
    lab.groupBy("label").agg(count(lit(1)).as("n_nodes"))
      .join(per, Seq("label"), "left")
      .crossJoin(broadcast(m2))
      .select(col("label"), col("n_nodes"),
        coalesce(col("volume"), lit(0L)).as("volume"),
        coalesce(col("cut"), lit(0L)).as("cut"),
        graft.functions.Fns.q6(try_divide(coalesce(col("cut"), lit(0L)).cast("double"),
          least(coalesce(col("volume"), lit(0L)),
            col("m2") - coalesce(col("volume"), lit(0L))).cast("double")))
          .as("conductance"))
  }

  /** Directed-graph reciprocity card: of the distinct directed edges,
    * how many have their reverse edge present — `reciprocity` =
    * n_reciprocal / n_edges ∈ [0, 1], the first structural question on
    * any directed interaction graph (a link graph near 0 behaves like a
    * citation DAG; near 1 it is effectively undirected and the cheaper
    * undirected algorithms apply — which changes what [[pageRank]] /
    * [[hits]] results mean). Self-loops are excluded.
    *
    * One distinct-edge aggregate and one self-equi-join on the swapped
    * key (src, dst) = (dst, src) — hash-partitioned, linear, no pair
    * enumeration beyond the edge list itself. Counts are exact BIGINTs;
    * the single ratio rides the DECIMAL rounding convention.
    */
  def reciprocity(edges: DataFrame, srcCol: String = "src",
                  dstCol: String = "dst"): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val rec = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_reciprocal"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(rec))
      .select(col("n_edges"), col("n_reciprocal"),
        graft.functions.Fns.q6(try_divide(col("n_reciprocal").cast("double"),
          col("n_edges").cast("double"))).as("reciprocity"))
  }

  /** HITS (Kleinberg): mutually-reinforcing hub and authority scores over
    * a DIRECTED graph — the complement to [[pageRank]] on link graphs
    * where "points at good pages" (hub) and "is pointed at by good hubs"
    * (authority) are distinct curation signals: a crawl-seed list wants
    * high hubs, a quality-weighting pass wants high authorities.
    *
    * Each synchronous iteration runs the two half-steps in the classic
    * order: `a'(v) = Σ_{u→v} h(u)` then `h'(u) = Σ_{u→v} a'(v)`, each
    * L1-NORMALIZED (divide by the exact DECIMAL total) — the L1 norm
    * keeps every carried value a plain ratio instead of a √-of-sum, so
    * the whole iteration is reproducible from rounded inputs with no
    * float-accumulation order anywhere: in-sums and totals are exact
    * DECIMAL sums of 12-dp-rounded scores (all ≤ 1 after normalization),
    * the division is one IEEE op, and the quotient is re-rounded to
    * 12 dp before it feeds the next half-step. The DuckDB oracle unrolls
    * the identical half-steps CTE by CTE and reproduces every bit.
    *
    * Per-iteration scale shape (mirrors [[pageRank]]): one hash shuffle
    * keyed on dst for the authority in-sum and one keyed on src for the
    * hub out-sum (both map-side combined), each followed by a broadcast
    * single-row total; scores are EAGER-checkpointed per iteration so
    * the plan stays iteration-depth-free and broadcast subtrees never
    * race a lazy checkpoint (the [[Dedup.dedupClusters]] deadlock note).
    * Sources with no in-links carry authority 0, sinks hub 0 — every
    * node of the graph emits a row. A totals-are-zero degenerate (no
    * edges at all after dedup) reports uniform 0 scores rather than an
    * ANSI divide error.
    */
  def hits(edges: DataFrame, iters: Int = 2,
           srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct().localCheckpoint()
    // nodes is re-read by EVERY normalized() call (two per iteration)
    // and exchange reuse does not cross the per-half-round checkpoint
    // actions, so the union-distinct re-ran 2·iters times (r20
    // optimization round). One eager checkpoint; values unchanged.
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    val nn = nodes.agg(count(lit(1)).as("n_nodes"))
    def normalized(raw: DataFrame, out: String): DataFrame = {
      // raw: (node, s DECIMAL) covering only nodes with a nonzero in/out
      // sum; total over the DECIMALs is exact, so the quotient is the
      // same IEEE double in every engine and partitioning.
      val tot = raw.agg(coalesce(sum(col("s")), lit(0).cast("decimal(28,12)"))
        .as("tot"))
      nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(tot))
        .select(col("node"),
          when(col("tot") === 0, lit(0.0)).otherwise(
            graft.functions.Fns.q12(coalesce(col("s").cast("double"), lit(0.0)) /
              col("tot").cast("double"))).as(out))
    }
    var hubs = nodes.crossJoin(broadcast(nn))
      .select(col("node"), (lit(1.0) / col("n_nodes")).as("hub"))
      .localCheckpoint()
    var auths: DataFrame = null
    for (_ <- 1 to iters) {
      val aRaw = e
        .join(hubs.select(col("node").as("src"), col("hub")), "src")
        .groupBy(col("dst").as("node")).agg(dsum(col("hub")).as("s"))
      auths = normalized(aRaw, "authority").localCheckpoint()
      val hRaw = e
        .join(auths.select(col("node").as("dst"), col("authority")), "dst")
        .groupBy(col("src").as("node")).agg(dsum(col("authority")).as("s"))
      hubs = normalized(hRaw, "hub").localCheckpoint()
    }
    hubs.join(auths, "node")
      .select(col("node"), graft.functions.Fns.q6(col("hub")).as("hub"),
        graft.functions.Fns.q6(col("authority")).as("authority"))
  }

  /** Local bridges: edges whose endpoints share NO common neighbor —
    * removing one lengthens its endpoints' shortest path beyond 2, so
    * these are the weak ties carrying cross-community reach
    * (Granovetter via Easley–Kleinberg's "span > 2" definition; a
    * strict superset of true bridges). The edge list to protect in
    * graph sparsification, and the inter-cluster seams a partitioner
    * may safely cut LAST.
    *
    * Physical strategy: an edge is a local bridge iff it closes no
    * triangle, so this reuses [[triangleCounts]]'s degree-oriented
    * wedge join (O(m^1.5) wedges, hub-proof) to list triangle edges,
    * then one left-anti join from the canonical edge set. The DuckDB
    * oracle decides each edge by naive common-neighbor EXISTS —
    * output equality across formulations is part of what the gate
    * proves.
    */
  def localBridges(edges: DataFrame, srcCol: String = "src",
                   dstCol: String = "dst"): DataFrame = {
    val e0 = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = e0.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val oriented = e0
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(when(col("da") < col("db")
          || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("w"), col("db").as("dw")))
        .otherwise(struct(col("b").as("u"), col("a").as("w"), col("da").as("dw")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"), col("e.dw").as("dw"))
    val wedges = oriented.as("p").join(oriented.as("q"),
        col("p.u") === col("q.u") && (col("p.dw") < col("q.dw")
          || (col("p.dw") === col("q.dw") && col("p.w") < col("q.w"))))
      .select(col("p.u").as("x"), col("p.w").as("y"), col("q.w").as("z"))
    val tri = wedges
      .join(oriented.select(col("u").as("y"), col("w").as("z")), Seq("y", "z"))
    val triEdges = tri
      .select(explode(array(
        struct(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b")),
        struct(least(col("x"), col("z")).as("a"),
          greatest(col("x"), col("z")).as("b")),
        struct(least(col("y"), col("z")).as("a"),
          greatest(col("y"), col("z")).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b")).distinct()
    e0.join(triEdges, Seq("a", "b"), "left_anti")
      .select(col("a").as("src"), col("b").as("dst"))
  }

  /** Spectral bisection card: approximate the Fiedler vector (second-
    * smallest eigenvector of the graph Laplacian L = D − A) by power
    * iteration on the shifted matrix B = c·I − L (c = 2·max-degree, so
    * B ⪰ 0 and L's smallest eigenvalues become B's largest), deflating
    * the trivial all-ones eigenvector IMPLICITLY each round
    * (y = c·x − L·x − c·mean(x)·1 — the rank-1 correction stays a
    * broadcast scalar; the matrix never densifies). The sign split of
    * the converged vector is the classic 2-partition that minimizes
    * edge cut per balance (Fiedler 1973; the principle under METIS-style
    * partitioners) — the "how would I shard this graph" answer
    * [[conductance]] can only evaluate after the fact.
    *
    * Per round: one edge-keyed join (Σ neighbor x), a node aggregate,
    * two broadcast scalars (mean, norm) — pageRank's cost class, 12-dp
    * DECIMAL-quantized trajectory so engines agree. Output: one row
    * with the split sizes, cut edges, and λ₂ estimate (algebraic
    * connectivity, 6 dp).
    */
  def fiedlerBisection(edges: DataFrame, iters: Int = 5,
                       srcCol: String = "src",
                       dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    def d6(c: org.apache.spark.sql.Column) = graft.functions.Fns.q6(c)
    def dsum(c: org.apache.spark.sql.Column) =
      sum(graft.functions.Fns.q12(c).cast("decimal(28,12)"))
    val und = undirected(edges, srcCol, dstCol).localCheckpoint()
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // c = 2·max(deg) and n are loop-CONSTANT scalars consumed every
    // round; as 1-row frames each crossJoin(broadcast(...)) rebuilt its
    // broadcast under every checkpoint action (exchange reuse does not
    // cross actions — the 16f3985 rationale), ~2 extra jobs per round.
    // One combined head() collects both once (two 8-byte scalars, not a
    // data path); lit() injection is the same IEEE value the broadcast
    // column carried.
    val cn = deg.agg((lit(2L) * max(col("deg"))).cast("double").as("c"),
      count(lit(1)).as("n")).head()
    val cVal = lit(cn.getDouble(0))
    val nVal = cn.getLong(1)
    var x = deg.select(col("node"),
        (pmod(col("node"), lit(2L)).cast("double") * 2.0 - 1.0).as("x"))
      .localCheckpoint()
    // One eager checkpoint per round — on y, the only corpus-sized
    // frame (r19 optimization round): the previous shape also
    // checkpointed the 1-row mean and norm aggregates, paying three
    // full job launches per round for a tiny graph state. mean/nrm now
    // ride inline broadcast subtrees over the PREVIOUS round's
    // checkpointed y (x is a cheap projection of it), so re-evaluation
    // is a scan of materialized blocks, never a lineage replay.
    // Arithmetic (q12 per cell, DECIMAL sums) is unchanged.
    // The norm's Σ q12(y²) rides the per-round checkpoint action as an
    // Observation (r20: zero extra jobs — the agg form paid an exchange
    // stage + a broadcast build per round) and re-enters through a
    // 1-row LocalRelation broadcast (Fns.oneRowDouble). Bit-identical:
    // same decimal sum, same BigDecimal.doubleValue conversion, sqrt is
    // Math.sqrt on both paths.
    val spark = edges.sparkSession
    for (_ <- 1 to iters) {
      val mean = x.agg((dsum(col("x")).cast("double")).as("sx"))
        .select((col("sx") / lit(nVal).cast("double")).as("mx"))
      val nbrSum = und
        .join(x.select(col("node").as("v"), col("x").as("xv")), "v")
        .groupBy(col("u").as("node")).agg(dsum(col("xv")).as("sn"))
      val obs = org.apache.spark.sql.Observation()
      val y = x.join(deg, "node")
        .join(nbrSum, Seq("node"), "left")
        .crossJoin(broadcast(mean))
        .select(col("node"),
          (cVal * col("x")
            - (col("deg").cast("double") * col("x")
              - coalesce(col("sn").cast("double"), lit(0.0)))
            - cVal * col("mx")).as("y"))
        .observe(obs, dsum(col("y") * col("y")).as("s2"))
        .localCheckpoint()
      val nrmVal = Option(obs.get("s2"))
        .map(bd => math.sqrt(bd.asInstanceOf[java.math.BigDecimal].doubleValue))
        .getOrElse(0.0)
      x = y.crossJoin(broadcast(graft.functions.Fns.oneRowDouble(spark, "nrm", nrmVal)))
        .select(col("node"), graft.functions.Fns.q12(when(col("nrm") === 0.0, lit(0.0))
          .otherwise(col("y") / col("nrm"))).as("x"))
    }
    // recompute the final norm for the λ₂ estimate: run one more
    // half-step y = B'x and take ‖y‖ (the Rayleigh-quotient proxy the
    // loop's last nrm already equals — reuse it via a final half pass)
    val mean = x.agg(dsum(col("x")).cast("double").as("sx"))
      .select((col("sx") / lit(nVal).cast("double")).as("mx"))
    val nbrSum = und
      .join(x.select(col("node").as("v"), col("x").as("xv")), "v")
      .groupBy(col("u").as("node")).agg(dsum(col("xv")).as("sn"))
    val y = x.join(deg, "node")
      .join(nbrSum, Seq("node"), "left")
      .crossJoin(broadcast(mean))
      .select(col("node"),
        (cVal * col("x")
          - (col("deg").cast("double") * col("x")
            - coalesce(col("sn").cast("double"), lit(0.0)))
          - cVal * col("mx")).as("y"))
    val nrm = y.agg(sqrt(dsum(col("y") * col("y")).cast("double"))
      .as("nrm"))
    val sides = x.select(col("node"), (col("x") > 0.0).as("pos"))
      .localCheckpoint()
    val sizes = sides.agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("n_neg"))
    val cut = und
      .join(sides.select(col("node").as("u"), col("pos").as("pu")), "u")
      .join(sides.select(col("node").as("v"), col("pos").as("pv")), "v")
      .agg((sum(when(col("pu") =!= col("pv"), 1L).otherwise(0L)) / 2L)
        .cast("long").as("cut_edges"))
    sizes.crossJoin(broadcast(cut)).crossJoin(broadcast(nrm))
      .select(lit(nVal).as("n_nodes"), col("n_pos"), col("n_neg"),
        col("cut_edges"),
        d6(cVal - col("nrm")).as("lambda2_est"))
  }

  /** Deterministic random-walk corpus (DeepWalk/node2vec data prep):
    * `walksPerNode` walks of `length` steps from every node, each hop
    * chosen by a reproducible (walk, step) hash over the node's sorted
    * neighbor list — the representation-learning walk corpus, with the
    * property a `rand()` walk generator can't give: the SAME corpus on
    * every run, engine, and partitioning, so downstream embeddings are
    * reproducible and the walks auditable.
    *
    * Scale shape: the neighbor index is a per-node window over the
    * adjacency (keyed by node, never global); each step is two
    * equi-joins — frontier→degree (compute the pick) and
    * frontier→(node, idx) adjacency row — so a step costs one
    * edge-table shuffle, ∝ walks, not Σdeg². The hop hash is two
    * Knuth rounds (walk scattered first, then step — the mlmMasking
    * decorrelation argument). Output is the flattened
    * (start_node, walk, step, node) corpus.
    */
  def deterministicWalks(edges: DataFrame, walksPerNode: Int = 2,
                         length: Int = 3, srcCol: String = "src",
                         dstCol: String = "dst"): DataFrame = {
    require(walksPerNode >= 1 && length >= 1,
      s"need walksPerNode/length >= 1, got $walksPerNode/$length")
    import org.apache.spark.sql.expressions.Window
    val und = undirected(edges, srcCol, dstCol)
    val adjW = Window.partitionBy(col("u")).orderBy(col("v"))
    val adj = und
      .withColumn("idx", (row_number().over(adjW) - 1).cast("long"))
      .localCheckpoint()
    val deg = adj.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val starts = deg.select(col("node"))
      .select(col("node"), explode(sequence(lit(0L),
        lit(walksPerNode - 1L))).as("walk"))
      .select(col("node").as("start_node"), col("walk"),
        col("node").as("cur"))
    var frontier = starts
      .select(col("start_node"), col("walk"), lit(0L).as("step"),
        col("cur"))
      .localCheckpoint()
    var corpus = frontier
    for (s <- 1 to length) {
      val h = Sampling.samplingHash(Sampling.samplingHash(
        col("start_node") * walksPerNode.toLong + col("walk")) + lit(s.toLong))
      frontier = frontier
        .join(deg, frontier("cur") === deg("node"))
        .withColumn("pick", pmod(h, col("deg")))
        .join(adj, col("cur") === adj("u") && col("pick") === adj("idx"))
        .select(col("start_node"), col("walk"), lit(s.toLong).as("step"),
          col("v").as("cur"))
        .localCheckpoint()
      corpus = corpus.unionByName(frontier)
    }
    corpus.select(col("start_node"), col("walk"), col("step"),
      col("cur").as("node"))
  }

  /** Average nearest-neighbor degree per degree class — the k_nn(k)
    * CURVE behind [[assortativity]]'s single coefficient (Pastor-
    * Satorras et al. 2001): for each degree k, the mean over degree-k
    * nodes of their mean neighbor degree. A falling curve exposes the
    * hub-and-spoke topology (hubs touch leaves) that decides whether
    * degree-keyed partitioning skews; the scalar r can hide a
    * non-monotone mix.
    *
    * Cost: one degree aggregate joined onto both endpoints of the
    * symmetric edge view, one node-keyed mean, one degree-keyed mean —
    * all equi-keyed, output ≤ max-degree rows. Determinism: per-node
    * means are exact integer sums divided once and 12-dp DECIMAL-
    * quantized BEFORE the per-class mean (both engines average the
    * same quantized values), the class mean 6-dp-routed.
    */
  def avgNeighborDegree(edges: DataFrame, srcCol: String = "src",
                        dstCol: String = "dst"): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val perNode = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .groupBy(col("u").as("node"), col("du").as("deg"))
      .agg(graft.functions.Fns.q12(sum(col("dv").cast("decimal(38,0)")).cast("double") /
          count(lit(1)).cast("double")).cast("decimal(24,12)")
        .as("nn12"))
    perNode.groupBy("deg")
      .agg(count(lit(1)).as("n_nodes"),
        graft.functions.Fns.q6(sum(col("nn12")).cast("double") /
            count(lit(1)).cast("double")).as("avg_nn_deg"))
  }

  /** Katz centrality, unrolled: x⁰ = β on every node, then
    * x^{t+1}(v) = β + α·Σ_{(u,v)∈E} x^t(u) over the DIRECTED edge set —
    * the walk-counting centrality (every incoming walk of length k
    * contributes α^k). With α well under 1/λ_max it converges fast, and
    * unlike PageRank it needs no out-degree normalization, so hubs pass
    * their full mass downstream — the right notion when an edge is an
    * endorsement rather than a split vote (citation graphs, reply
    * graphs, co-purchase direction).
    *
    * Scale shape: the [[pageRankRun]] loop without the degree join or
    * dangling-mass pass — per iteration one edge×rank equi-join and one
    * dst-keyed sum, with the SAME eager-localCheckpoint + L1-delta
    * convergence probe as PageRank when `tol > 0`. Unlike PageRank the
    * checkpoints are CONDITIONAL on the probe: with `tol == 0` the
    * fixed iteration count is small by contract and nothing ever
    * re-executes the chain, so lazy chaining is strictly cheaper
    * (checkpointing unconditionally measured +1.6 s on the sf0.1
    * 3-iteration registry row); with `tol > 0` each round's delta probe
    * is an ACTION over both the new and previous frame, so without a
    * materialization boundary round t would recompute rounds 1..t-1 —
    * O(iters²) — and being EAGER avoids the broadcast-vs-scheduler race
    * on lazy checkpoint materialization documented at
    * [[Dedup.dedupClusters]]. Determinism: each contribution α·x is
    * 12-dp-rounded into DECIMAL(18,12) and summed order-free, mirroring
    * the oracle's per-round materialized CTEs.
    */
  def katzCentrality(edges: DataFrame, iters: Int = 3, alpha: Double = 0.05,
                     beta: Double = 1.0, srcCol: String = "src",
                     dstCol: String = "dst", tol: Double = 0.0): DataFrame =
    katzRun(edges, iters, alpha, beta, srcCol, dstCol, tol)._1

  /** [[katzCentrality]] plus the iteration count actually run — the
    * convergence early-stop's observable, mirroring [[pageRankRun]].
    * Since α < 1/λ_max contracts the iteration geometrically, the L1
    * delta `Σ_v |x'(v) − x(v)|` shrinks by ~α·λ_max per round; the probe
    * is one exact DECIMAL aggregate per iteration and only runs when the
    * caller opted into `tol > 0` (a fixed-iteration call does zero
    * driver actions beyond the checkpoints).
    */
  private[graft] def katzRun(edges: DataFrame, iters: Int, alpha: Double,
                             beta: Double, srcCol: String, dstCol: String,
                             tol: Double): (DataFrame, Int) = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    require(alpha > 0.0 && alpha < 1.0, s"need 0 < alpha < 1, got $alpha")
    require(tol >= 0.0, s"need tol >= 0, got $tol")
    val ckpt: DataFrame => DataFrame =
      if (tol > 0.0) _.localCheckpoint() else identity
    val e = ckpt(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    var x = ckpt(nodes.select(col("node"), lit(beta).as("x")))
    var itersRun = 0
    var converged = false
    while (itersRun < iters && !converged) {
      val prev = x
      val inSum = e
        .join(x.select(col("node").as("src"), col("x")), "src")
        .groupBy(col("dst").as("node"))
        .agg(dsum(lit(alpha) * col("x")).as("s"))
      x = ckpt(nodes.join(inSum, Seq("node"), "left")
        .select(col("node"),
          (lit(beta) + coalesce(col("s").cast("double"), lit(0.0))).as("x")))
      itersRun += 1
      if (tol > 0.0 && itersRun < iters) {
        val delta = x
          .join(prev.select(col("node"), col("x").as("prev_x")), "node")
          .agg(coalesce(dsum(abs(col("x") - col("prev_x"))),
            lit(0).cast("decimal(18,12)")).as("d"))
          .head().getDecimal(0)
        if (delta.doubleValue <= tol) converged = true
      }
    }
    (x.select(col("node"), graft.functions.Fns.q6(col("x")).as("katz")), itersRun)
  }

  /** Link-prediction score panel for non-adjacent pairs: common-neighbor
    * count, resource allocation RA = Σ_{z ∈ N(x)∩N(y)} 1/deg(z)
    * (Zhou–Lü–Zhang 2009 — the empirically strongest of the simple
    * local scores), and preferential attachment PA = deg(x)·deg(y).
    * Complements [[adamicAdar]] (the 1/ln deg variant) and
    * [[nodeJaccard]]: a recommender backtests all of them side by side,
    * so the panel rides ONE wedge enumeration instead of three.
    *
    * Scale shape: identical wedge join to [[adamicAdar]] — the RA weight
    * joins onto the apex z BEFORE pair expansion, pair cost is the wedge
    * count Σ deg(z)² (never |V|²), adjacency removed by one left-anti
    * join, endpoint degrees attached by two node-keyed joins after the
    * pair aggregate (so the joins see pair-count rows, not wedge rows).
    * Determinism: RA weights 9-dp-rounded into DECIMAL(28,9), order-free
    * sums; PA is an exact integer product.
    */
  def linkPredictionScores(edges: DataFrame, minCommon: Long = 2L,
                           srcCol: String = "src",
                           dstCol: String = "dst"): DataFrame = {
    require(minCommon >= 1, s"need minCommon >= 1, got $minCommon")
    val und = undirected(edges, srcCol, dstCol)
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val withW = und.join(deg.select(col("node").as("v"), col("deg")), "v")
      .filter(col("deg") >= 2)
      .select(col("u"), col("v"),
        graft.functions.Fns.q9(lit(1.0) / col("deg").cast("double"))
          .cast("decimal(28,9)").as("w"))
    val pairs = withW.as("a").join(withW.as("b"),
        col("a.v") === col("b.v") && col("a.u") < col("b.u"))
      .groupBy(col("a.u").as("x"), col("b.u").as("y"))
      .agg(count(lit(1)).as("common"), sum(col("a.w")).as("ra_dec"))
      .filter(col("common") >= minCommon)
    pairs
      .join(und.select(col("u").as("x"), col("v").as("y")),
        Seq("x", "y"), "left_anti")
      .join(deg.select(col("node").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("node").as("y"), col("deg").as("dy")), "y")
      .select(col("x"), col("y"), col("common"),
        // round the exact DECIMAL(28,9) sum, THEN cast: no double-repr
        // rounding edge can appear (ADVICE half-value convention)
        round(col("ra_dec"), 6).cast("double").as("resource_alloc"),
        (col("dx") * col("dy")).as("pref_attach"))
  }

  /** Connected components via ALTERNATING STAR CONTRACTION (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components
    * in MapReduce and Beyond", SoCC 2014 — public literature): repeat
    * { large-star; small-star } on the edge set until it reaches a fixed
    * point, at which every edge points a node straight at its
    * component's minimum id. Label extraction is then one aggregate.
    *
    * Why this exists beside [[Dedup.dedupClusters]]'s min-label
    * propagation: label-prop needs O(diameter) rounds — fine for
    * near-dup template families (cliques, diameter ≈ 2), quadratic pain
    * on chain-shaped graphs (a 10⁶-node path is 10⁶ rounds). Star
    * contraction converges in O(log² n) rounds REGARDLESS of diameter
    * (the spec drives a 64-node path through both: 5 rounds here vs 63
    * propagation steps), which is the difference between a bounded and
    * an unbounded job count on an unknown 100 TB similarity graph.
    *
    * One round, both phases pure integer DataFrame aggregates (exact and
    * partitioning-independent):
    *   large-star — group the SYMMETRIC edge list by u,
    *     m = min(N(u) ∪ {u}); emit (v, m) for every neighbor v > u
    *     (each undirected edge emitted from exactly one side);
    *   small-star — orient every edge large→small, group by the large
    *     endpoint u, m = min(N(u)); emit (v, m) for v ∈ N(u) ∪ {u},
    *     v ≠ m.
    * Both phases preserve connectivity (paper, Lemmas 1–2); edges stay
    * self-loop-free by construction. Convergence = edge-SET equality
    * against the previous round's checkpoint (counts + one left_anti on
    * two already-materialized frames — the [[Dedup.dedupClusters]]
    * probe discipline, and like it this method RUNS the rounds eagerly;
    * eager localCheckpoint per round for the same lineage/deadlock
    * reasons documented there). If `maxRounds` pass without a fixed
    * point the labels may be stale mins; that is an error under
    * `strict` and a stderr log otherwise.
    *
    * Output: (node, component) for every endpoint of `edges`, component
    * = the component's minimum node id. Isolated nodes never appear in
    * an edge list — join your node frame afterwards ([[triangleCounts]]
    * convention).
    */
  def connectedComponentsStars(edges: DataFrame, maxRounds: Int = 16,
                               srcCol: String = "src", dstCol: String = "dst",
                               strict: Boolean = false): DataFrame =
    connectedComponentsStarsRun(edges, maxRounds, srcCol, dstCol, strict)._1

  /** [[connectedComponentsStars]] plus the number of alternating rounds
    * actually run — the log-convergence claim's observable (the
    * [[pageRank]]`Run` convention). */
  def connectedComponentsStarsRun(edges: DataFrame, maxRounds: Int = 16,
                                  srcCol: String = "src", dstCol: String = "dst",
                                  strict: Boolean = false): (DataFrame, Int) = {
    require(maxRounds >= 1, s"need maxRounds >= 1, got $maxRounds")
    def canon(e: DataFrame): DataFrame = e
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    // Edge-set cardinality rides each checkpoint action as an
    // Observation (r20): the separate next.count() job per round is
    // gone; the convergence rule (count equal AND next∖cur empty ⇒
    // identical canonical sets) is unchanged.
    def counted(df: DataFrame): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val ck = df.observe(obs, count(lit(1)).as("n")).localCheckpoint()
      (ck, obs.get("n").asInstanceOf[Long])
    }
    var (cur, curCount) = counted(canon(edges
        .select(col(srcCol).as("a"), col(dstCol).as("b"))
        .filter(col(srcCol) =!= col(dstCol))))
    var rounds = 0
    var converged = false
    while (rounds < maxRounds && !converged) {
      rounds += 1
      // large-star: symmetric grouping, larger neighbors hook to the min
      val sym = cur.select(col("a").as("u"), col("b").as("v"))
        .unionByName(cur.select(col("b").as("u"), col("a").as("v")))
      val lMin = sym.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = sym.filter(col("v") > col("u"))
        .join(lMin, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
      // small-star: orient large->small, everyone (incl. u) hooks to min
      val o = large.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      val sMin = o.groupBy("u").agg(min(col("v")).as("m"))
      // no inner distinct on small: canon() immediately re-canonicalizes
      // and distincts the same rows, so the extra exchange bought
      // nothing (r20 optimization round — one less shuffle per round on
      // a job-count-bound loop; the map-side combine of canon's distinct
      // absorbs the duplicates)
      val small = o.join(sMin, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .unionByName(sMin.select(col("u").as("a"), col("m").as("b")))
      val (next, nextCount) = counted(canon(small))
      // fixed point = identical edge SET (both sides canonical + distinct)
      converged = nextCount == curCount &&
        next.join(cur, Seq("a", "b"), "left_anti").isEmpty
      cur = next; curCount = nextCount
    }
    if (!converged) {
      val msg = s"connectedComponentsStars: no fixed point after $maxRounds rounds"
      if (strict) throw new IllegalStateException(msg)
      System.err.println(s"[graph] $msg - labels may be under-merged")
    }
    // converged state is a union of stars: every edge is (member, min)
    val labels = cur
      .select(col("b").as("node"), col("a").as("component"))
      .unionByName(cur.select(col("a").as("node"), col("a").as("component")))
      .groupBy("node").agg(min(col("component")).as("component"))
    (labels, rounds)
  }
}
