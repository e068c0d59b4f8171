package graft
package entries

import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.operators.Sampling
import graft.operators.Sampling.samplingHashSql
import DedupEntry.clusterLabelsCte
import SparkEntry.{T, docClusters, docToks}

/** The 19 `sample_*` queries: hash-driven sampling, mixing and
  * allocation over the documents and events tables, each declared once
  * with its Spark frame beside the DuckDB oracle it must equal. Most
  * draws are the [[Sampling.samplingHash]] fold, which the oracles embed
  * as [[Sampling.samplingHashSql]]. The determinism rules of
  * [[SparkEntry]] apply to every entry.
  */
object SampleEntry {

  /** The Knuth-hash uniform u = (h + 1) / 2³² ∈ (0, 1] of each document,
    * the same double the Spark side divides by; read by sample_weighted,
    * sample_priority and sample_priority_total.
    */
  private val priorityUniform: String =
    s"""(${samplingHashSql("doc_id")} + 1)
       |        / CAST(4294967296.0 AS DOUBLE)""".stripMargin

  /** The top-61 priority frame `t` over `u(doc_id, priority, …)` and the
    * τ threshold: the 61st priority, 0 when the population is smaller.
    * Shared by sample_priority and sample_priority_total.
    */
  private val priorityTauCtes: String =
    """t AS (SELECT * FROM u ORDER BY priority DESC, doc_id LIMIT 61),
      |tau AS (SELECT CASE WHEN count(*) > 60 THEN min(priority)
      |          ELSE 0.0 END AS tau FROM t)""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("sample_deterministic", (s, dir) =>
      Sampling.deterministicSample(T(s, dir, "events"), "event_id", 0.1)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id"),
      // ((key mod 2^31) * 2654435761) mod 2^32 — Knuth multiplicative hash
      // with the key folded first so the product can't overflow BIGINT;
      // plain ANSI arithmetic so the oracle reproduces selections exactly.
      s"""SELECT event_id, user_id, event_type FROM events
         |WHERE ${samplingHashSql("event_id")}
         |      < CAST(0.1 * 4294967296 AS BIGINT)
         |ORDER BY event_id""".stripMargin),

    Q("sample_stratified", (s, dir) =>
      Sampling.stratifiedQuota(T(s, dir, "documents"), "lang", "doc_id", 40)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
      s"""SELECT doc_id, lang, source FROM documents
         |QUALIFY row_number() OVER (PARTITION BY lang
         |  ORDER BY ${samplingHashSql("doc_id")}, doc_id) <= 40
         |ORDER BY doc_id""".stripMargin),

    // Deterministic training-order shuffle: the output's ROW ORDER is the
    // shuffle (the oracle compare is order-sensitive, so the
    // pseudorandom permutation itself is what's verified).
    Q("sample_shuffle", (s, dir) =>
      Sampling.deterministicShuffle(
          T(s, dir, "documents").select("doc_id", "lang"), "doc_id")
        .select(col("doc_id"), col("lang")),
      s"""SELECT doc_id, lang FROM documents
         |ORDER BY ${samplingHashSql("doc_id")}, doc_id""".stripMargin),

    // Leak-free split: hash the CLUSTER id, not the doc id, so near-dups
    // can never straddle the train/eval boundary.
    Q("sample_split", (s, dir) =>
      Sampling.assignSplit(docClusters(s, dir), "cluster_id", 0.1, 0.1)
        .select(col("doc_id"), col("cluster_id"), col("split"))
        .orderBy("doc_id"),
      s"""WITH RECURSIVE $clusterLabelsCte
         |SELECT doc_id, cluster_id,
         |  CASE WHEN ${samplingHashSql("cluster_id")}
         |         < ${Sampling.splitCut(0.1)} THEN 'val'
         |       WHEN ${samplingHashSql("cluster_id")}
         |         < ${Sampling.splitCut(0.2)} THEN 'test'
         |       ELSE 'train' END AS split
         |FROM clusters ORDER BY doc_id""".stripMargin),

    // Deterministic 5-fold assignment + per-fold class balance — the
    // cross-validation pre-flight (same row → same fold on every engine
    // and partitioning, unlike randomSplit).
    Q("sample_kfold", (s, dir) =>
      Sampling.kfoldBalance(T(s, dir, "documents"), "doc_id", "lang", 5)
        .orderBy("fold", "label"),
      // k-fold: Knuth-hash fold assignment, per-(fold, label) cells with
      // within-fold shares.
      s"""WITH f AS (SELECT
         |        ${samplingHashSql("doc_id")} % 5
         |          AS fold,
         |        lang AS label FROM documents),
         |c AS (SELECT fold, label, count(*) AS n FROM f GROUP BY 1, 2),
         |t AS (SELECT fold, CAST(sum(n) AS BIGINT) AS fold_total
         |      FROM c GROUP BY 1)
         |SELECT c.fold AS fold, label, n, fold_total,
         |  round((CAST(n AS DOUBLE) / CAST(fold_total AS DOUBLE)) * 1000000) / 1000000
         |    AS frac_in_fold
         |FROM c JOIN t ON c.fold = t.fold
         |ORDER BY c.fold, label""".stripMargin),

    // Training-mixture composition: target source weights w(srcK)=K%4+1
    // + a 10k-token budget → per-source deterministic sampling rates and
    // the target-vs-achieved mixture card (the Pile/Dolma dataset-card
    // step). Oracle derives the same weights from the source name.
    Q("sample_mixture_card", (s, dir) =>
      Sampling.mixtureCard(T(s, dir, "documents"),
          (0 until 20).map(k => s"src$k" -> (k % 4 + 1).toDouble).toMap,
          10000L)
        .orderBy("source"),
      // Mixture card: weights reconstructed from the source name
      // (w = substr(source,4)%4 + 1, Σw = 50 over src0..src19), the same
      // Bernoulli hash rule as sample_deterministic, identical IEEE op
      // order for target/rate/threshold.
      s"""WITH base AS (SELECT source,
         |        ${samplingHashSql("doc_id")} AS h,
         |        CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
         |          AS BIGINT) AS n_tok
         |      FROM documents),
         |w AS (SELECT source,
         |        CAST((CAST(substr(source, 4) AS INT) % 4) + 1 AS DOUBLE) AS w
         |      FROM (SELECT DISTINCT source FROM documents)),
         |tot AS (SELECT source, count(*) AS n_docs,
         |        CAST(sum(n_tok) AS BIGINT) AS total_tokens
         |      FROM base GROUP BY 1),
         |p AS (SELECT t.source, n_docs, total_tokens, w.w,
         |        10000.0 * w.w / 50.0 AS target_raw,
         |        least(1.0, (10000.0 * w.w / 50.0)
         |          / CAST(total_tokens AS DOUBLE)) AS rate
         |      FROM tot t JOIN w ON w.source = t.source),
         |kept AS (SELECT b.source, count(*) AS kept_docs,
         |        CAST(sum(b.n_tok) AS BIGINT) AS kept_tokens
         |      FROM base b JOIN p ON p.source = b.source
         |      WHERE b.h < CAST(floor(p.rate * 4294967296) AS BIGINT)
         |      GROUP BY 1),
         |tk AS (SELECT sum(kept_tokens) AS tk FROM kept)
         |SELECT p.source, n_docs, total_tokens,
         |  round(target_raw, 2) AS target_tokens,
         |  round(rate, 6) AS rate,
         |  coalesce(kept_docs, 0) AS kept_docs,
         |  CAST(coalesce(kept_tokens, 0) AS BIGINT) AS kept_tokens,
         |  round((p.w / 50.0) * 1000000) / 1000000 AS target_share,
         |  round((CAST(coalesce(kept_tokens, 0) AS DOUBLE)
         |    / nullif(CAST(tk AS DOUBLE), 0.0)) * 1000000) / 1000000 AS achieved_share
         |FROM p LEFT JOIN kept USING (source) CROSS JOIN tk
         |ORDER BY p.source""".stripMargin),

    // Temperature-weighted data mixing (quota_src ∝ √n_src, τ = 2):
    // low-resource languages up-weighted vs a proportional sample.
    Q("sample_mixture", (s, dir) =>
      Sampling.temperatureMixture(
          T(s, dir, "documents").select("doc_id", "lang"), "lang", "doc_id", 1000L)
        .select("doc_id", "lang").orderBy("doc_id"),
      // Temperature mixing (τ = 2): quotas from exact-DECIMAL-summed √n
      // weights, rows picked per source in samplingHash order. The √n →
      // DECIMAL(28,10) routing makes every step engine-identical (a double
      // can never hit the decimal cast's rounding tie — k.5×10⁻¹⁰ has a
      // factor-5 denominator).
      s"""WITH counts AS (SELECT lang, count(*) AS n_src FROM documents GROUP BY 1),
         |w AS (SELECT lang,
         |        CAST(sqrt(CAST(n_src AS DOUBLE)) AS DECIMAL(28,10)) AS w
         |      FROM counts),
         |t AS (SELECT sum(w) AS w_tot FROM w),
         |q AS (SELECT lang,
         |        CAST(floor(1000.0 * (CAST(w AS DOUBLE) / CAST(w_tot AS DOUBLE))) AS BIGINT) AS quota
         |      FROM w CROSS JOIN t),
         |r AS (SELECT d.doc_id, d.lang,
         |        row_number() OVER (PARTITION BY d.lang
         |          ORDER BY ${samplingHashSql("d.doc_id")}, d.doc_id) AS rn
         |      FROM documents d)
         |SELECT r.doc_id, r.lang FROM r JOIN q USING (lang)
         |WHERE rn <= quota ORDER BY doc_id""".stripMargin),

    // Mixture-rate plan for a dictated 50/30/20 mix over three sources:
    // largest exactly-proportioned sample with no oversampling.
    Q("sample_rates", (s, dir) =>
      Sampling.mixtureRates(T(s, dir, "documents"), "source",
          Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .orderBy("source"),
      // weight normalization mirrors the Scala double sum term-for-term
      // (VALUES literals are DECIMAL in DuckDB — cast before arithmetic)
      """WITH w AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.3),
        |    ('src2', 0.2)) t(source, wr)),
        |nw AS (SELECT source, CAST(wr AS DOUBLE) /
        |    (CAST(0.5 AS DOUBLE) + CAST(0.3 AS DOUBLE) + CAST(0.2 AS DOUBLE))
        |    AS w FROM w),
        |a AS (SELECT source, count(*) AS n_avail FROM documents GROUP BY 1),
        |j AS (SELECT a.source, a.n_avail, nw.w FROM a JOIN nw USING (source)),
        |t AS (SELECT min(CAST(n_avail AS DOUBLE) / w) AS t_max FROM j)
        |SELECT source, n_avail, round(w, 6) AS target_w,
        |  CAST(floor(w * t_max) AS BIGINT) AS take_n,
        |  round((CAST(floor(w * t_max) AS DOUBLE) / n_avail) * 1000000) / 1000000 AS rate
        |FROM j CROSS JOIN t ORDER BY source""".stripMargin),

    // Temperature-share planning report (alpha = 0.5): derived per-source
    // target shares p_s ∝ n_s^alpha with raw-share and boost columns —
    // the analysis face of sample_mixture's selection.
    Q("sample_temp_shares", (s, dir) =>
      Sampling.temperatureShares(T(s, dir, "documents"), 0.5)
        .orderBy("source"),
      // n^0.5 routes through DECIMAL(24,12) -> 6dp on both engines; shares
      // divide DECIMAL-summed totals; boost divides the ROUNDED shares.
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents
        |           GROUP BY 1),
        |w AS (SELECT source, n_docs,
        |        round((power(n_docs, 0.5)) * 1000000) / 1000000 AS w
        |      FROM c),
        |t AS (SELECT sum(n_docs) AS n_total,
        |        sum(CAST(w AS DECIMAL(24,6))) AS w_total FROM w)
        |SELECT source, n_docs,
        |  round((CAST(n_docs AS DOUBLE) / n_total) * 1000000) / 1000000
        |    AS raw_share,
        |  round((CAST(w AS DOUBLE) / CAST(w_total AS DOUBLE)) * 1000000)
        |    / 1000000 AS temp_share,
        |  round(((round((CAST(w AS DOUBLE) / CAST(w_total AS DOUBLE))
        |        * 1000000) / 1000000)
        |    / (round((CAST(n_docs AS DOUBLE) / n_total) * 1000000)
        |        / 1000000)) * 1000000) / 1000000 AS boost
        |FROM w CROSS JOIN t ORDER BY source""".stripMargin),

    // Importance-reweighting card toward uniform language balance:
    // per-lang weight + Kish effective sample size — "is reweighting
    // this skew affordable, or must the tail be upsampled".
    Q("sample_importance", (s, dir) =>
      Sampling.importanceWeights(T(s, dir, "documents"), "lang")
        .orderBy("lang"),
      // Kish ESS from the G-row count aggregate: exact decimal x integer
      // products, every rounding edge on the DECIMAL(24,12) cast.
      """WITH c AS (SELECT lang AS grp, count(*) AS n_src FROM documents
        |      WHERE lang IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(n_src) AS BIGINT) AS n_total,
        |        count(*) AS n_groups FROM c),
        |w AS (SELECT grp, n_src, n_total, n_groups,
        |        CAST(round((CAST(n_total AS DOUBLE)
        |          / CAST(n_groups * n_src AS DOUBLE)
        |         ) * 1000000000) / 1000000000 AS DOUBLE) AS weight
        |      FROM c CROSS JOIN t),
        |s AS (SELECT CAST(sum(CAST(
        |        round((weight * weight) * 1000000000) / 1000000000 * n_src
        |        AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS sw2 FROM w)
        |SELECT grp AS lang, n_src,
        |  CAST(round((CAST(n_src AS DOUBLE) / CAST(n_total AS DOUBLE)
        |   ) * 1000000) / 1000000 AS DOUBLE) AS source_share,
        |  CAST(round((1e0 / CAST(n_groups AS DOUBLE)
        |   ) * 1000000) / 1000000 AS DOUBLE) AS target_share,
        |  weight,
        |  CAST(round((CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
        |    / CAST(sw2 AS DOUBLE)) * 1000000) / 1000000 AS DOUBLE) AS ess,
        |  CAST(round((CAST(n_total AS DOUBLE) / CAST(sw2 AS DOUBLE)
        |   ) * 1000000) / 1000000 AS DOUBLE) AS ess_ratio
        |FROM w CROSS JOIN s ORDER BY lang""".stripMargin),

    // Neyman optimal allocation of a 1000-row sample over languages,
    // n_h ∝ N_h·σ(n_chars).
    Q("sample_neyman", (s, dir) =>
      Sampling.neymanAllocation(T(s, dir, "documents"), "lang", "n_chars")
        .orderBy("stratum"),
      // Neyman: exact HUGEINT moments -> 6-dp sample sd; shares compose
      // the published sds; allocations floor against the budget.
      """WITH m AS (SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS n,
        |        sum(CAST(n_chars AS HUGEINT)) AS sx,
        |        sum(CAST(n_chars * n_chars AS HUGEINT)) AS sxx
        |      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |sds AS (SELECT stratum, n,
        |        CAST(round((sqrt(
        |          CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
        |          / nullif(CAST(n * (n - 1) AS DOUBLE), 0.0))
        |         ) * 1000000) / 1000000 AS DOUBLE) AS sd
        |      FROM m),
        |ws AS (SELECT stratum, n, sd,
        |        CAST(round(CAST(CAST(n AS DOUBLE) * sd
        |          AS DECIMAL(38,12)), 6) AS DECIMAL(38,6)) AS w6
        |      FROM sds),
        |tot AS (SELECT sum(w6) AS w_total FROM ws)
        |SELECT stratum, n, sd,
        |  CAST(round((CAST(w6 AS DOUBLE) / CAST(w_total AS DOUBLE)
        |   ) * 1000000) / 1000000 AS DOUBLE) AS alloc_share,
        |  CAST(floor(1000.0 * CAST(round((CAST(w6 AS DOUBLE)
        |    / CAST(w_total AS DOUBLE)) * 1000000) / 1000000 AS DOUBLE))
        |    AS BIGINT) AS alloc_n
        |FROM ws CROSS JOIN tot ORDER BY stratum""".stripMargin),

    // word2vec negative sampler: k unigram^0.75 draws per doc by
    // deterministic CDF inversion.
    Q("sample_negatives", (s, dir) =>
      Sampling.negativeSampling(T(s, dir, "documents"))
        .orderBy("doc_id", "j"),
      // Negative sampler: same double-Knuth 62-bit draw mod the exact
      // x1e6 unigram^0.75 total, CDF membership by integer compares.
      s"""WITH base AS ($docToks),
         |t AS (SELECT unnest(toks) AS term FROM base),
         |c AS (SELECT term, count(*) AS freq FROM t GROUP BY 1),
         |top AS (SELECT term, freq FROM c ORDER BY freq DESC, term
         |      LIMIT 200),
         |v AS (SELECT CAST(row_number() OVER (ORDER BY freq DESC, term)
         |        - 1 AS BIGINT) AS term_id, term,
         |        CAST(CAST(round(pow(CAST(freq AS DOUBLE), 0.75), 6)
         |          AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS w6
         |      FROM top),
         |cdf AS (SELECT term_id, term, w6,
         |        sum(w6) OVER (ORDER BY term_id) AS hi FROM v),
         |cdf2 AS (SELECT term_id, term, hi - w6 AS lo, hi FROM cdf),
         |tot AS (SELECT max(hi) AS w_total FROM cdf2),
         |d AS (SELECT doc_id, CAST(j AS BIGINT) AS j
         |      FROM documents CROSS JOIN range(4) r(j)),
         |h AS (SELECT doc_id, j,
         |    (((((doc_id % 2147483648) * 4 + j) % 2147483648)
         |      * 2654435761) % 4294967296) // 2 AS ha,
         |    (((((doc_id % 2147483648) * 4 + j) % 2147483648)
         |      * 2246822519) % 4294967296) // 2 AS hb
         |  FROM d),
         |dr AS (SELECT doc_id, j,
         |        (ha * 2147483648 + hb) % w_total AS t
         |      FROM h CROSS JOIN tot)
         |SELECT dr.doc_id, dr.j, term_id AS neg_term_id,
         |  term AS neg_term
         |FROM dr JOIN cdf2 ON t >= lo AND t < hi
         |ORDER BY doc_id, j""".stripMargin),

    // Systematic PPS draw: 50 grid points over the exact n_chars
    // cumulative line, inclusion probability exactly n·w/W.
    Q("sample_pps", (s, dir) =>
      Sampling.ppsSystematic(T(s, dir, "documents"), "doc_id", "n_chars")
        .orderBy("j"),
      // PPS: one ordered cum line (window is fine for the oracle), the
      // same integer grid, interval membership by integer compares.
      """WITH r AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w
        |      FROM documents WHERE n_chars > 0),
        |line AS (SELECT doc_id, w,
        |        sum(w) OVER (ORDER BY doc_id) AS hi FROM r),
        |l2 AS (SELECT doc_id, w, hi, hi - w AS lo FROM line),
        |tot AS (SELECT max(hi) AS W FROM l2),
        |grid AS (SELECT CAST(j AS BIGINT) AS j,
        |        (2 * CAST(j AS BIGINT) + 1) * W // 100 AS t
        |      FROM range(50) r(j) CROSS JOIN tot)
        |SELECT j, doc_id, w AS weight
        |FROM l2 JOIN grid ON t >= lo AND t < hi
        |ORDER BY j""".stripMargin),

    // Hansen–Hurwitz total-of-tokens estimate from the n_chars-PPS draw,
    // beside the exact total — the corpus-stats-without-a-full-scan
    // calibration card (chars ∝ tokens ⇒ small rel_error).
    Q("sample_ht_total", (s, dir) =>
      Sampling.hansenHurwitzTotal(
        T(s, dir, "documents")
          .withColumn("y", size(Fns.tokens(col("text"))).cast("long")),
        "doc_id", "n_chars", "y"),
      // Hansen–Hurwitz: the same PPS line + grid, y = token count joined
      // onto each draw; per-draw terms y·W/w 9-dp DECIMAL-summed, the /n
      // and error divisions DECIMAL(24,12)-routed.
      """WITH r AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |        CAST(len(list_filter(string_split(text, ' '),
        |          x -> x <> '')) AS BIGINT) AS y
        |      FROM documents WHERE n_chars > 0),
        |line AS (SELECT doc_id, w, y,
        |        sum(w) OVER (ORDER BY doc_id) AS hi FROM r),
        |l2 AS (SELECT doc_id, w, y, hi, hi - w AS lo FROM line),
        |tot AS (SELECT max(hi) AS W FROM l2),
        |yt AS (SELECT CAST(sum(y) AS BIGINT) AS y_true,
        |        CAST(sum(w) AS BIGINT) AS sw FROM r),
        |grid AS (SELECT CAST(j AS BIGINT) AS j,
        |        (2 * CAST(j AS BIGINT) + 1) * W // 100 AS t
        |      FROM range(50) g(j) CROSS JOIN tot),
        |dr AS (SELECT CAST(l2.y AS DOUBLE) * CAST(yt.sw AS DOUBLE)
        |          / CAST(l2.w AS DOUBLE) AS term, yt.y_true
        |      FROM l2 JOIN grid ON t >= lo AND t < hi CROSS JOIN yt),
        |g AS (SELECT y_true, CAST(count(*) AS BIGINT) AS n_draws,
        |        sum(CAST(round(term, 9) AS DECIMAL(28,9))) AS st
        |      FROM dr GROUP BY 1)
        |SELECT n_draws,
        |  CAST(round((CAST(st AS DOUBLE) / CAST(n_draws AS DOUBLE)
        |   ) * 1000000) / 1000000 AS DOUBLE) AS hh_total,
        |  y_true AS true_total,
        |  CAST(round((CAST(st AS DOUBLE)
        |      / (CAST(n_draws AS DOUBLE) * CAST(y_true AS DOUBLE)) - 1.0
        |   ) * 1000000) / 1000000 AS DOUBLE) AS rel_error
        |FROM g""".stripMargin),

    // Curriculum interleave ranks: per-source quality rank (distinct-token
    // ratio desc); consuming ordered by (rank_in_source, source) is the
    // source-balanced curriculum. Window is partitioned by source.
    Q("sample_curriculum", (s, dir) => {
      val docs = T(s, dir, "documents")
      val scored = docs.select(col("doc_id"), col("source"),
        coalesce(try_divide(
          size(array_distinct(Fns.tokens(col("text")))).cast("double"),
          size(Fns.tokens(col("text")))), lit(0.0)).as("score"))
      Sampling.curriculumOrder(scored, "source", "score", "doc_id")
        .select(col("doc_id"), col("source"), round(col("score"), 6).as("score"),
          col("rank_in_source"))
        .orderBy("rank_in_source", "source", "doc_id")
    },
      """WITH s AS (SELECT doc_id, source,
        |    coalesce(CAST(len(list_distinct(
        |        list_filter(string_split(text, ' '), x -> x <> ''))) AS DOUBLE)
        |      / nullif(len(list_filter(string_split(text, ' '), x -> x <> '')), 0),
        |      0.0) AS score
        |  FROM documents)
        |SELECT doc_id, source, round(score, 6) AS score,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY score DESC, doc_id) AS BIGINT) AS rank_in_source
        |FROM s ORDER BY rank_in_source, source, doc_id""".stripMargin),

    // Weighted sampling without replacement (Efraimidis-Spirakis clocks
    // on the deterministic hash, weight = document length): distributed
    // top-k, not a global sort.
    Q("sample_weighted", (s, dir) =>
      Sampling.weightedSample(T(s, dir, "documents"), "doc_id", "n_chars", 60)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id"),
      // Exponential clocks -ln(u)/w on the shared ANSI hash; only the
      // selected ROWS surface (integer columns), the IEEE clock values stay
      // internal to the ranking on both engines.
      s"""WITH u AS (
         |  SELECT doc_id, source, n_chars,
         |    -ln($priorityUniform) / CAST(n_chars AS DOUBLE) AS clock
         |  FROM documents WHERE n_chars > 0),
         |k AS (SELECT doc_id, source, n_chars FROM u ORDER BY clock, doc_id LIMIT 60)
         |SELECT doc_id, source, n_chars FROM k ORDER BY doc_id""".stripMargin),

    // Priority sampling (Duffield–Lund–Thorup): top-60 by w/u priority
    // with the τ-threshold estimator ŵ = max(w, τ) attached — the
    // fixed-k sample that PRESERVES subset weight sums, planned as
    // TakeOrderedAndProject (per-partition heap, no global sort).
    Q("sample_priority", (s, dir) =>
      Sampling.prioritySample(
          T(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "doc_id", "n_chars", 60)
        .orderBy("doc_id"),
      // Priority = w / u with the same Knuth-hash uniform as
      // sample_weighted; τ = min over the top-61 frame (0 when the
      // population is smaller), ŵ = max(w, τ).
      s"""WITH u AS (
         |  SELECT doc_id, source, n_chars,
         |    CAST(n_chars AS DOUBLE) /
         |      ($priorityUniform) AS priority
         |  FROM documents WHERE n_chars > 0),
         |$priorityTauCtes,
         |s AS (SELECT * FROM t ORDER BY priority DESC, doc_id LIMIT 60)
         |SELECT doc_id, source, n_chars, round(priority, 6) AS priority,
         |  round(greatest(CAST(n_chars AS DOUBLE), tau), 6) AS w_hat
         |FROM s CROSS JOIN tau ORDER BY doc_id""".stripMargin),

    // The estimator's one-row witness: Σŵ over the 60-sample vs the
    // true Σw over all documents, relative error reported — the
    // "estimate a 100 TB total from k kept rows" calibration.
    Q("sample_priority_total", (s, dir) =>
      Sampling.prioritySampleTotalCard(
        T(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", 60),
      s"""WITH u AS (
         |  SELECT doc_id, n_chars,
         |    CAST(n_chars AS DOUBLE) /
         |      ($priorityUniform) AS priority
         |  FROM documents WHERE n_chars > 0),
         |$priorityTauCtes,
         |s AS (SELECT doc_id, n_chars FROM t ORDER BY priority DESC, doc_id
         |      LIMIT 60),
         |est AS (SELECT sum(CAST(round(greatest(CAST(n_chars AS DOUBLE),
         |          tau), 6) AS DECIMAL(28,6))) AS est_total
         |      FROM s CROSS JOIN tau),
         |tr AS (SELECT sum(CAST(n_chars AS DECIMAL(28,6))) AS true_total
         |      FROM documents WHERE n_chars > 0)
         |SELECT CAST(60 AS INT) AS k,
         |  CAST(round(est_total, 6) AS DOUBLE) AS est_total,
         |  CAST(round(true_total, 6) AS DOUBLE) AS true_total,
         |  round((CAST(est_total - true_total AS DOUBLE)
         |    / CAST(true_total AS DOUBLE)) * 1000000) / 1000000 AS rel_error
         |FROM est CROSS JOIN tr""".stripMargin),

    // Distributed Poisson bootstrap: 95% CI on the per-type mean value
    // from 50 deterministic Poisson(1) resamples — error bars on a 100 TB
    // aggregate with one scan and no global coordination (Chamandy et al.).
    Q("sample_bootstrap_ci", (s, dir) =>
      Sampling.bootstrapCI(T(s, dir, "events"), "event_type", "event_id",
        "value", reps = 50, level = 0.95)
        .orderBy("event_type"),
      // Poisson bootstrap: per-(row, rep) Poisson(1) weight from the exact
      // integer CDF thresholds at the Knuth hash of (id, rep); resample
      // means DECIMAL-routed, interpolated quantiles via DECIMAL(24,12).
      """WITH base AS (SELECT event_type AS g, event_id AS id,
        |        CAST(round(value, 6) AS DECIMAL(18,6)) AS v FROM events),
        |r AS (SELECT g, id, v, rep FROM base CROSS JOIN range(50) t(rep)),
        |h AS (SELECT g, rep, v,
        |        ((((id % 2147483648) * 31 + rep * 2654435761)
        |          % 2147483648) * 2654435761) % 4294967296 AS hh FROM r),
        |w AS (SELECT g, rep, v,
        |        CASE WHEN hh < 1580030168 THEN 0
        |             WHEN hh < 3160060337 THEN 1
        |             WHEN hh < 3950075421 THEN 2
        |             WHEN hh < 4213413783 THEN 3
        |             WHEN hh < 4279248373 THEN 4 ELSE 5 END AS w FROM h),
        |m AS (SELECT g, rep, CAST(sum(w) AS BIGINT) AS sw,
        |        CAST(sum(v * w) AS DECIMAL(38,6)) AS swv
        |      FROM w GROUP BY 1, 2),
        |mm AS (SELECT g,
        |        round((CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE)) * 1000000000) / 1000000000 AS m
        |      FROM m WHERE sw > 0),
        |ci AS (SELECT g, count(*) AS n_resamples,
        |        quantile_cont(m, 0.025) AS qlo,
        |        quantile_cont(m, 0.5) AS qmed,
        |        quantile_cont(m, 0.975) AS qhi
        |      FROM mm GROUP BY 1),
        |pt AS (SELECT g, count(*) AS n_rows,
        |        CAST(sum(v) AS DECIMAL(38,6)) AS sv FROM base GROUP BY 1)
        |SELECT pt.g AS event_type, n_rows, n_resamples,
        |  round((CAST(sv AS DOUBLE) / CAST(n_rows AS DOUBLE)) * 1000000) / 1000000 AS mean,
        |  CAST(round((qlo) * 1000000) / 1000000 AS DOUBLE) AS ci_lo,
        |  CAST(round((qmed) * 1000000) / 1000000 AS DOUBLE)
        |    AS ci_median,
        |  CAST(round((qhi) * 1000000) / 1000000 AS DOUBLE) AS ci_hi
        |FROM pt JOIN ci ON pt.g = ci.g
        |ORDER BY event_type""".stripMargin)
  )
}
