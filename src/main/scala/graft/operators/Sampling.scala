package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines — reproducible
  * across runs, partitionings, and engines, unlike `df.sample()` whose
  * Bernoulli draw depends on partition-local RNG streams.
  *
  * The sampling hash is Knuth multiplicative hashing over a key column
  * (h = (key · 2654435761) mod 2³²) — deliberately expressible in plain
  * ANSI SQL so the DuckDB oracle reproduces selections bit-for-bit. For
  * adversarial keys swap in xxhash64; for the synthetic corpora the
  * multiplicative mix is uniform enough (verified: 10% sample of 10k
  * events selects ~10%).
  */
object Sampling {

  private val Knuth = 2654435761L
  private val M31 = 2147483648L // 2^31
  private val M32 = 4294967296L // 2^32

  /** Uniform bucket in [0, 2^32) from a numeric key. The key is folded
    * into [0, 2^31) BEFORE the multiply: 2^31 · 2654435761 < 2^63, so the
    * product never overflows a long (Spark 4 ANSI mode makes overflow a
    * runtime error — an unfolded key past ~3.5e9 would kill the job at
    * exactly the corpus sizes this exists for).
    */
  def samplingHash(key: Column): Column =
    pmod(pmod(key.cast("long"), lit(M31)) * Knuth, lit(M32))

  /** [[samplingHash]] of the SQL expression `x` as DuckDB SQL text, for
    * oracles that must reproduce every draw bit for bit. Plain `%` equals
    * `pmod` here: every key the oracles hash is non-negative.
    */
  def samplingHashSql(x: String): String = s"(($x % $M31) * $Knuth) % $M32"

  /** Keep ~fraction of rows, chosen by key hash — same rows every run,
    * every engine, any partitioning. Narrow (no shuffle).
    */
  def deterministicSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame =
    df.filter(samplingHash(col(keyCol)) < (fraction * M32).toLong)

  /** Deterministic training-order shuffle: reorder the corpus by the key
    * hash — the same pseudorandom order every run and every engine (a
    * `rand()`-seeded sort is neither). At scale this is one
    * range-partitioned sort, exactly the write-side ORDER BY of a
    * training-data export; downstream sequence packing consumes it.
    */
  def deterministicShuffle(df: DataFrame, keyCol: String): DataFrame =
    df.orderBy(samplingHash(col(keyCol)).asc, col(keyCol).asc)

  /** At most `quota` rows per stratum, picked in hash order (a stable,
    * pseudorandom-but-reproducible per-stratum ranking) — the data-mixing
    * primitive: cap each source/language/domain at a budget. One shuffle
    * on the stratum key.
    */
  def stratifiedQuota(df: DataFrame, stratumCol: String, keyCol: String,
                      quota: Int): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(samplingHash(col(keyCol)).asc, col(keyCol).asc)
    df.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= quota)
      .drop("__r")
  }

  /** The [[samplingHash]] cut below which a `frac` share of keys falls:
    * `assignSplit`'s boundaries and `TextAnalysis.mlmMasking`'s mask
    * rate. Exposed so oracle SQL can embed the exact same literal.
    */
  def splitCut(frac: Double): Long = (frac * M32).toLong

  /** Deterministic train/val/test assignment by key hash: same row → same
    * split on every run, engine, and partitioning. Key on a CLUSTER id
    * (e.g. [[graft.operators.Dedup.dedupClusters]] output) rather than the
    * row id and near-duplicates can never straddle the eval boundary — the
    * standard guard against train→test leakage. Narrow, no shuffle.
    */
  def assignSplit(df: DataFrame, keyCol: String,
                  valFrac: Double, testFrac: Double): DataFrame = {
    require(valFrac >= 0 && testFrac >= 0 && valFrac + testFrac < 1,
      s"need valFrac + testFrac < 1, got $valFrac + $testFrac")
    val h = samplingHash(col(keyCol))
    df.withColumn("split",
      when(h < splitCut(valFrac), "val")
        .when(h < splitCut(valFrac + testFrac), "test")
        .otherwise("train"))
  }

  /** Temperature-weighted data mixing: draw ~`totalBudget` rows with
    * per-source quotas ∝ n_src^(1/τ) at τ = 2 — the standard up-weighting
    * of low-resource sources (multilingual / multi-domain pretraining
    * mixes) that a proportional sample would starve.
    *
    * Determinism across engines is engineered, not hoped for:
    *  - √n is IEEE-correctly-rounded in every engine;
    *  - each weight is routed through DECIMAL(28,10) so the cross-source
    *    sum is exact and independent of aggregation order (a double sum
    *    is neither);
    *  - a double can never equal the half-way point of a 10-dp decimal
    *    (k.5×10⁻¹⁰ has a factor-5 denominator), so the decimal cast never
    *    hits its rounding tie;
    *  - rows fill each quota in `samplingHash` order — reproducible for
    *    any partitioning.
    *
    * Shuffle shape: one tiny per-source count aggregate, its exact-decimal
    * total as a broadcast single row (no driver action), the quota map
    * broadcast back onto the corpus, and one window shuffle on the source
    * key for the per-source ranking. Skew note: the ranking window puts
    * each source in one task chain — for a source with billions of rows,
    * pre-filter with [[deterministicSample]] at ~2× the target fraction,
    * then rank only the survivors.
    */
  def temperatureMixture(df: DataFrame, sourceCol: String, keyCol: String,
                         totalBudget: Long): DataFrame = {
    val counts = df.groupBy(col(sourceCol).as("__src"))
      .agg(count(lit(1)).as("__n_src"))
    val weighted = counts.withColumn("__w",
      sqrt(col("__n_src").cast("double")).cast("decimal(28,10)"))
    val total = weighted.agg(sum(col("__w")).as("__w_tot"))
    val quotas = weighted.crossJoin(broadcast(total))
      .select(col("__src"),
        floor(lit(totalBudget.toDouble) *
          (col("__w").cast("double") / col("__w_tot").cast("double")))
          .cast("long").as("__quota"))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(samplingHash(col(keyCol)).asc, col(keyCol).asc)
    df.join(broadcast(quotas), col(sourceCol) === col("__src"))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= col("__quota"))
      .drop("__src", "__quota", "__r")
  }

  /** Temperature-share PLANNING report — the α-parametrized analysis in
    * front of [[temperatureMixture]] (which fixes α = ½ and selects
    * rows): p_s ∝ n_s^α, the multilingual sampling-α convention of the
    * public XLM-R / mBERT recipes (α ∈ [0.3, 0.7] upweights tail
    * sources, damps head sources, no hand-tuned weights). Output per
    * source: document count, raw share, temperature share at the given
    * α, and the boost factor (temp / raw — > 1 means upsampled).
    * Complements [[mixtureRates]], which plans a DICTATED mix; this
    * derives the mix from availability.
    *
    * Determinism: n^α routes through DECIMAL(24,12) before the 6-dp
    * round — pow's last-ulp engine differences sit ~4 orders below the
    * quantization step, and n^α never lands on an exact decimal half
    * (irrational unless n is a perfect power). Shares divide
    * DECIMAL-summed totals. Plan: one source-keyed count, one tiny
    * all-sources aggregate broadcast back — nothing scales with corpus
    * size after the first count.
    */
  def temperatureShares(df: DataFrame, alpha: Double = 0.5,
                        sourceCol: String = "source"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"need alpha in (0,1], got $alpha")
    val counts = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w",
        graft.functions.Fns.q6(pow(col("n_docs").cast("double"), lit(alpha))))
    val tot = counts.agg(sum(col("n_docs")).as("n_total"),
      sum(col("w").cast("decimal(24,6)")).as("w_total"))
    counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        graft.functions.Fns.q6(col("n_docs").cast("double") / col("n_total")).as("raw_share"),
        graft.functions.Fns.q6(col("w").cast("double") / col("w_total").cast("double"))
          .as("temp_share"))
      .withColumn("boost",
        graft.functions.Fns.q6(col("temp_share") / col("raw_share")))
  }

  /** Weighted sample WITHOUT replacement, k rows, inclusion probability
    * proportional to `weightCol` — Efraimidis–Spirakis A-ES with the
    * deterministic [[samplingHash]] standing in for the random draw:
    * each row gets the exponential clock −ln(u)/w with u = (hash+1)/2³²
    * ∈ (0,1], and the k smallest clocks win. Runs as a distributed top-k
    * (`TakeOrderedAndProject`: per-partition heaps + one tiny merge), NOT
    * a global sort — the orderBy+limit shape Catalyst plans specially, so
    * the full corpus never shuffles. Same-hash determinism makes the
    * sample reproducible across runs and partitionings. Cross-ENGINE
    * caveat: unlike the integer-ratio operators, the float here decides
    * row MEMBERSHIP — `ln` is not guaranteed identically rounded across
    * libm implementations, so a last-ulp disagreement exactly at the
    * k-th smallest clock could select a different row on another engine
    * (same boundary-tie class of risk as the hllEstimate ln caveat; it
    * has not been observed on the test corpora). Zero/negative weights
    * are rejected rather than silently dropped.
    */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int): DataFrame = {
    val u = (samplingHash(col(keyCol)) + 1).cast("double") / lit(M32.toDouble)
    val clock = -log(u) / col(weightCol).cast("double")
    df.filter(col(weightCol).cast("double") > 0)
      .orderBy(clock.asc, col(keyCol).asc)
      .limit(k)
  }

  /** Mixture-rate solver: given target mixture weights per source and
    * the corpus's actual availability, the largest total sample that
    * hits the target proportions EXACTLY with no source oversampled —
    * T = min_s(avail_s / w_s) after weight normalization; each source
    * contributes take_n = ⌊w_s · T⌋ rows at rate take_n/avail_s. This is
    * the planning step in front of [[temperatureMixture]]-style
    * selection when the mix is dictated (data card says 30/30/40), not
    * derived. One count aggregate + a broadcast one-row min; all
    * decisive arithmetic is exact (integer counts, one IEEE division
    * per source, floor before the ratio) — engine-identical.
    */
  def mixtureRates(df: DataFrame, sourceCol: String,
                   weights: Seq[(String, Double)]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      s"need positive weights, got $weights")
    val wTot = weights.map(_._2).sum
    // normalized weights as a literal inline table (no driver-side data
    // beyond the caller-supplied constants)
    val wlit = weights.map { case (s, w) =>
      struct(lit(s).as("source"), lit(w / wTot).as("w"))
    }
    val wtab = df.sparkSession.range(1)
      .select(explode(array(wlit: _*)).as("t"))
      .select(col("t.source").as("source"), col("t.w").as("w"))
    val avail = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_avail"))
    val target = avail.join(wtab, Seq("source"), "inner")
    val tCap = target
      .agg(min(col("n_avail").cast("double") / col("w")).as("t_max"))
    target.crossJoin(broadcast(tCap))
      .select(col("source"), col("n_avail"), round(col("w"), 6).as("target_w"),
        floor(col("w") * col("t_max")).cast("long").as("take_n"))
      .select(col("source"), col("n_avail"), col("target_w"), col("take_n"),
        graft.functions.Fns.q6(try_divide(col("take_n").cast("double"), col("n_avail")))
          .as("rate"))
  }

  /** Curriculum / interleave position: rank each row within its source
    * by (score desc, key) and emit the rank — consuming the corpus
    * ordered by `(rank_in_source, source)` yields the canonical
    * round-robin curriculum: the best document of every source first,
    * then every second-best, … — source-balanced from the first batch
    * (plain score-descending order would front-load whichever source
    * scores systematically higher).
    *
    * The window is PARTITIONED BY SOURCE — ranks compute in parallel per
    * source with no global window (the interleave order is realized only
    * by the consumer's sort/range-partition over (rank, source), which
    * is one exchange it was going to pay to materialize an order
    * anyway). Deterministic: rank ties break on the unique key.
    */
  def curriculumOrder(df: DataFrame, sourceCol: String, scoreCol: String,
                      keyCol: String): DataFrame = {
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(col(scoreCol).desc, col(keyCol).asc)
    df.select(col(keyCol), col(sourceCol), col(scoreCol),
      row_number().over(w).cast("long").as("rank_in_source"))
  }

  /** Poisson(1) CDF thresholds scaled to [0, 2^32): a uniform 32-bit
    * hash below `POISSON1_CUM(k)` means the draw is ≤ k. Exact integer
    * comparisons — both engines agree bit-for-bit.
    */
  val Poisson1Cum: Seq[Long] =
    Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L, 4279248373L)

  /** Distributed Poisson bootstrap (Chamandy et al. / the "bag of
    * little bootstraps" workhorse): each row enters resample r with
    * multiplicity ~ Poisson(1), so a resample never needs global
    * coordination or a second scan — THE way to put error bars on a
    * 100 TB aggregate. Here: per-group mean of `valueCol` with a
    * `level` central CI from `reps` resamples.
    *
    * Determinism: the Poisson draw inverts the exact integer CDF
    * [[Poisson1Cum]] at a [[samplingHash]] of (key, rep) — reproducible
    * across engines, runs, and partitionings, like every sampler here.
    * Resample means route Σ(w·v) through DECIMAL(38,6) (order-free) and
    * round to 9 dp before the interpolating `percentile`, which agrees
    * with DuckDB's `quantile_cont` at the final 6-dp round.
    *
    * Scale shape: one narrow `explode(sequence(0, reps−1))` (reps×
    * row expansion, map-side combined immediately by the (group, rep)
    * partial aggregate — the blowup never shuffles raw), one reduce to
    * (group, rep), one tiny percentile over reps rows per group, one
    * broadcast join for the point estimate. Empty resamples (all
    * weights 0 — only possible for near-empty groups) drop out before
    * the percentile, mirrored by the oracle.
    */
  def bootstrapCI(df: DataFrame, groupCol: String, keyCol: String,
                  valueCol: String, reps: Int = 50,
                  level: Double = 0.95): DataFrame = {
    require(reps >= 2, s"need reps >= 2, got $reps")
    require(level > 0 && level < 1, s"need level in (0,1), got $level")
    val lo = (1.0 - level) / 2.0
    val hi = 1.0 - lo
    val h = pmod(pmod(pmod(col(keyCol).cast("long"), lit(M31)) * 31L +
      col("rep") * Knuth, lit(M31)) * Knuth, lit(M32))
    val w = when(h < Poisson1Cum(0), 0L)
      .when(h < Poisson1Cum(1), 1L).when(h < Poisson1Cum(2), 2L)
      .when(h < Poisson1Cum(3), 3L).when(h < Poisson1Cum(4), 4L)
      .otherwise(5L)
    val repMeans = df
      .select(col(groupCol).as("g"), col(keyCol),
        round(col(valueCol).cast("double"), 6).cast("decimal(18,6)").as("v"))
      .withColumn("rep", explode(sequence(lit(0L), lit(reps - 1L))))
      .withColumn("w", w)
      .groupBy(col("g"), col("rep"))
      .agg(sum(col("w")).as("sw"),
        sum(col("v") * col("w")).cast("decimal(38,6)").as("swv"))
      .filter(col("sw") > 0)
      .select(col("g"),
        graft.functions.Fns.q9(col("swv").cast("double") / col("sw").cast("double"))
          .as("m"))
    val cis = repMeans.groupBy("g").agg(
      count(lit(1)).as("n_resamples"),
      expr(s"percentile(m, array(${lo}D, 0.5D, ${hi}D))").as("q"))
    val point = df.groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col(valueCol).cast("double"), 6).cast("decimal(18,6)"))
          .cast("decimal(38,6)").as("sv"))
    point.join(broadcast(cis), "g")
      .select(col("g").as(groupCol), col("n_rows"), col("n_resamples"),
        graft.functions.Fns.q6(col("sv").cast("double") / col("n_rows").cast("double"))
          .as("mean"),
        // DECIMAL(24,12) routing before the 6-dp round (interpolated
        // percentiles land on 6-dp half boundaries; the
        // resampleInterpolate discipline).
        graft.functions.Fns.q6(col("q").getItem(0))
          .as("ci_lo"),
        graft.functions.Fns.q6(col("q").getItem(1))
          .as("ci_median"),
        graft.functions.Fns.q6(col("q").getItem(2))
          .as("ci_hi"))
  }

  /** Deterministic k-fold assignment with a per-fold class-balance report:
    * fold = [[samplingHash]](key) mod k (the same row lands in the same
    * fold every run, every engine, any partitioning — the property
    * `randomSplit` does NOT have across re-partitionings), and the report
    * gives each (fold, label) cell's count and within-fold share — the
    * pre-flight check before cross-validation that no fold is starved of
    * a class. Narrow map + two vocabulary-sized aggregates; nothing
    * corpus-sized shuffles twice.
    */
  def kfoldBalance(df: DataFrame, keyCol: String, labelCol: String,
                   k: Int = 5): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    val cells = df
      .select((samplingHash(col(keyCol)) % k).as("fold"),
        col(labelCol).as("label"))
      .groupBy("fold", "label").agg(count(lit(1)).as("n"))
    val totals = cells.groupBy("fold").agg(sum(col("n")).as("fold_total"))
    cells.join(totals, "fold")
      .select(col("fold"), col("label"), col("n"), col("fold_total"),
        graft.functions.Fns.q6(col("n").cast("double") / col("fold_total").cast("double"))
          .as("frac_in_fold"))
  }

  /** Importance-reweighting card toward a UNIFORM group target: per
    * group the weight `w_g = target/source = N/(G·n_g)` every doc in
    * the group would carry, and the resulting EFFECTIVE SAMPLE SIZE
    * `ESS = (Σw)²/Σw² = N²/Σ_g n_g·w_g²` (Kish's formula) — the number
    * that says whether reweighting a skewed corpus to balance is
    * statistically affordable or whether the rare groups must be
    * UPSAMPLED instead (`ess_ratio` near 1: reweighting is free; near
    * n_smallest·G/N: the weights have concentrated the mass and the
    * corpus behaves like a far smaller one). The temperature-share
    * planner answers "what shares do I want"; this card prices paying
    * for them with weights.
    *
    * Everything derives from the G-row group-count aggregate: weights
    * are single IEEE divisions 9-dp-quantized through the DECIMAL
    * convention, Σ n_g·w_g² is an exact DECIMAL sum of exact
    * decimal×integer products, and the scalar ESS broadcasts back onto
    * the per-group rows. One count shuffle over the corpus, then
    * constant-size work.
    */
  def importanceWeights(df: DataFrame, groupCol: String): DataFrame = {
    def d6(c: Column) = graft.functions.Fns.q6(c)
    def d9(c: Column) = graft.functions.Fns.q9(c)
    val counts = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("grp")).agg(count(lit(1)).as("n_src"))
    val tot = counts.agg(sum(col("n_src")).as("n_total"),
      count(lit(1)).as("n_groups"))
    val w = counts.crossJoin(broadcast(tot))
      .withColumn("weight", d9(col("n_total").cast("double") /
        (col("n_groups") * col("n_src")).cast("double")))
    val sw2 = w.agg(sum((graft.functions.Fns.q9((col("weight") * col("weight"))) * col("n_src"))
        .cast("decimal(38,12)")).as("sw2"))
    w.crossJoin(broadcast(sw2))
      .select(col("grp").as(groupCol), col("n_src"),
        d6(col("n_src").cast("double") / col("n_total").cast("double"))
          .as("source_share"),
        d6(lit(1.0) / col("n_groups").cast("double")).as("target_share"),
        col("weight"),
        d6(col("n_total").cast("double") * col("n_total").cast("double") /
          col("sw2").cast("double")).as("ess"),
        d6(col("n_total").cast("double") / col("sw2").cast("double"))
          .as("ess_ratio"))
  }

  /** Neyman optimal allocation: for a fixed sample budget, how many
    * rows to draw from each stratum — n_h ∝ N_h·σ_h (Neyman 1934), the
    * design that minimizes the variance of the estimated mean vs
    * proportional allocation whenever strata differ in spread. The
    * "how should I sample this corpus for eval" card beside
    * [[importanceWeights]]' "how should I reweight it".
    *
    * Per stratum: exact integer moments (DECIMAL(38,0) Σx, Σx²) feed
    * the sample sd (6-dp-routed); shares compose the PUBLISHED 6-dp
    * sds so both engines divide identical values; allocations floor
    * (never round half) so the budget is a hard cap. One stratum-keyed
    * aggregate over the corpus, then G-row arithmetic.
    */
  def neymanAllocation(df: DataFrame, stratumCol: String,
                       valueCol: String, budget: Long = 1000L): DataFrame = {
    require(budget >= 1, s"need budget >= 1, got $budget")
    def d6(c: Column) = graft.functions.Fns.q6(c)
    val m = df.filter(col(valueCol).isNotNull)
      .groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(38,0)")).as("sx"),
        sum((col(valueCol) * col(valueCol)).cast("decimal(38,0)"))
          .as("sxx"))
      .select(col("stratum"), col("n"),
        d6(sqrt(try_divide(
          (col("n").cast("decimal(38,0)") * col("sxx") -
            col("sx") * col("sx")).cast("double"),
          (col("n") * (col("n") - 1L)).cast("double")))).as("sd"))
    val w6 = round((col("n").cast("double") * col("sd"))
      .cast("decimal(38,12)"), 6).cast("decimal(38,6)")
    val weighted = m.withColumn("w6", w6)
    val tot = weighted.agg(sum(col("w6")).as("w_total"))
    weighted.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n"), col("sd"),
        d6(try_divide(col("w6").cast("double"),
          col("w_total").cast("double"))).as("alloc_share"))
      .withColumn("alloc_n",
        floor(lit(budget.toDouble) * col("alloc_share")).cast("long"))
  }

  /** Systematic PPS (probability-proportional-to-size) sampling: lay a
    * fixed grid of `nPicks` points t_j = (2j+1)·W/(2n) over the exact
    * cumulative weight line and take the document covering each point —
    * every row's inclusion probability is exactly n·w/W (the survey-
    * sampling workhorse; a row heavier than W/n can legitimately be
    * picked twice — PPS-with-replacement semantics, kept). Fully
    * deterministic: fixed half-offset phase, integer arithmetic
    * throughout, no RNG.
    *
    * Scale shape: the cumulative line is the [[graft.operators
    * .TextAnalysis.packSequencesGlobal]] two-level prefix sum (id-range
    * buckets → partitioned windows → ≤ buckets² offset join), never a
    * global window; the n-row grid broadcasts onto the corpus and each
    * row checks its own [lo, hi) interval against ≤ nPicks grid points
    * (constant). Weights must be positive integers ≤ ~2^31 per row;
    * (2n+1)·W stays under 2^63 for corpora to ~10¹⁵ total weight at
    * n ≤ 10³ — past that, widen to DECIMAL.
    */
  def ppsSystematic(df: DataFrame, idCol: String, weightCol: String,
                    nPicks: Int = 50, buckets: Int = 32): DataFrame = {
    require(nPicks >= 1, s"need nPicks >= 1, got $nPicks")
    val rows = df.select(col(idCol).as("id"),
        col(weightCol).cast("long").as("w"))
      .filter(col("w") > 0)
    val key = col("id").cast("double")
    val stats = rows.agg(min(key).as("__lo"), max(key).as("__hi"))
    val bucketed = rows.crossJoin(broadcast(stats))
      .withColumn("__bkt",
        when(col("__hi") === col("__lo"), lit(0L)).otherwise(
          floor((key - col("__lo")) * buckets /
            (col("__hi") - col("__lo") + 1.0))))
      .drop("__lo", "__hi")
    val w = Window.partitionBy(col("__bkt")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = bucketed.withColumn("__cum", sum(col("w")).over(w))
    val totals = bucketed.groupBy("__bkt").agg(sum(col("w")).as("__t"))
    val offsets = totals.as("a")
      .join(totals.as("b"), col("b.__bkt") < col("a.__bkt"), "left")
      .groupBy(col("a.__bkt").as("__bkt"))
      .agg(coalesce(sum(col("b.__t")), lit(0L)).as("__off"))
    val line = local.join(broadcast(offsets), "__bkt")
      .select(col("id"), col("w"),
        (col("__off") + col("__cum")).as("hi"),
        (col("__off") + col("__cum") - col("w")).as("lo"))
    val tot = line.agg(max(col("hi")).as("W"))
    val grid = tot.select(col("W"),
        explode(sequence(lit(0L), lit(nPicks - 1L))).as("j"))
      // integral div: Column./ is double division, imprecise past 2^53
      .select(col("j"),
        expr(s"(2 * j + 1) * W div ${2L * nPicks}").as("t"))
    line.join(broadcast(grid),
        col("t") >= col("lo") && col("t") < col("hi"))
      .select(col("j"), col("id").as(idCol), col("w").as("weight"))
  }

  /** Deterministic word2vec-style negative sampling: `k` negatives per
    * document, drawn from the top-`maxVocab` unigram distribution raised
    * to the 3/4 power (Mikolov et al. 2013 — the tempering that keeps
    * rare words reachable without letting stopwords dominate). Draws are
    * (doc, j)-hash CDF inversions, so the sample is identical on every
    * run, engine, and partitioning.
    *
    * Exactness: term weights are 6-dp-quantized freq^0.75 scaled to
    * ×10⁶ integers, the CDF is an exact cumulative window over the
    * ≤ maxVocab vocabulary, and each draw target is a 62-bit hash
    * reduced mod the exact total — integer compares decide membership,
    * nothing floats. Scale shape: the CDF table (maxVocab rows) rides
    * ONE broadcast; the candidate scan per draw is bounded by the
    * CONSTANT maxVocab, not the corpus (for 10⁵+ vocabularies swap the
    * filter for a bucketed range join on a CDF-slot key).
    */
  def negativeSampling(docs: DataFrame, k: Int = 4, maxVocab: Int = 200,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val vocab = TextAnalysis.vocabulary(docs, maxVocab, textCol, idCol)
      .select(col("term_id"), col("term"),
        (round(pow(col("freq").cast("double"), 0.75), 6)
          .cast("decimal(18,6)") * lit(1000000L)).cast("long").as("w6"))
    val w = Window.orderBy(col("term_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = vocab.withColumn("hi", sum(col("w6")).over(w))
      .withColumn("lo", col("hi") - col("w6"))
    val tot = cdf.agg(max(col("hi")).as("w_total"))
    val draws = docs.select(col(idCol).as("doc_id"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("w_total"),
        explode(sequence(lit(0L), lit(k - 1L))).as("j"))
      // two 31-bit hashes under DIFFERENT multipliers (a shared
      // multiplier would make hb an affine image of ha — 31 bits of
      // entropy posing as 62) -> one 62-bit draw, mod the exact
      // integer total (bias ≤ W/2^62, immaterial)
      .withColumn("ha", shiftright(samplingHash(
        pmod(col("doc_id"), lit(M31)) * lit(k.toLong) + col("j")), 1))
      .withColumn("hb", shiftright(pmod(pmod(
        pmod(col("doc_id"), lit(M31)) * lit(k.toLong) + col("j"),
        lit(M31)) * 2246822519L, lit(M32)), 1))
      .withColumn("t", pmod(col("ha") * lit(M31) + col("hb"),
        col("w_total")))
    draws.crossJoin(broadcast(cdf.select(col("term_id"), col("term"),
        col("lo"), col("hi"))))
      .filter(col("t") >= col("lo") && col("t") < col("hi"))
      .select(col("doc_id"), col("j"), col("term_id").as("neg_term_id"),
        col("term").as("neg_term"))
  }

  /** Hansen–Hurwitz total estimator from the [[ppsSystematic]] draw:
    * ŷ = (1/n)·Σ_draws y_i·W/w_i — "estimate the corpus total of an
    * EXPENSIVE quantity y (token count, quality score) from the n-point
    * PPS sample keyed on a CHEAP size proxy w" — the survey-sampling
    * backbone of every corpus-stats-without-a-full-scan report. With
    * multiplicity draws (a heavy unit grabbing several grid points) the
    * HH form, not plain Horvitz–Thompson, is the unbiased one. Reported
    * beside the exact total and the relative error, so the registered
    * query doubles as a calibration card (y ∝ w ⇒ error ≈ 0; the less
    * correlated, the wider).
    *
    * Scale shape: the sample is `nPicks` rows joined back to the
    * (id, w, y) frame by id — broadcast of the tiny sample; the exact
    * total is one map-side-combined aggregate of the SAME frame (at
    * true scale you'd skip it — it exists to expose the error). Per-draw
    * terms y·W/w are one double division each, 9-dp-rounded into a
    * DECIMAL sum; the ×1/n and error divisions ride DECIMAL(24,12).
    */
  def hansenHurwitzTotal(df: DataFrame, idCol: String, weightCol: String,
                         yCol: String, nPicks: Int = 50,
                         buckets: Int = 32): DataFrame = {
    val pop = df.select(col(idCol).as("id"),
        col(weightCol).cast("long").as("w"), col(yCol).cast("long").as("y"))
      .filter(col("w") > 0)
    val tot = pop.agg(sum(col("w")).as("bigW"), sum(col("y")).as("y_true"))
    val draws = ppsSystematic(df, idCol, weightCol, nPicks, buckets)
      .select(col("j"), col(idCol).as("id"))
      .join(pop, "id")
      .crossJoin(broadcast(tot))
      .select((col("y").cast("double") * col("bigW").cast("double") /
        col("w").cast("double")).as("term"), col("y_true"))
    def d6(c: Column) = graft.functions.Fns.q6(c)
    draws
      .groupBy(col("y_true"))
      .agg(count(lit(1)).as("n_draws"),
        sum(round(col("term"), 9).cast("decimal(28,9)")).as("st"))
      .select(col("n_draws"),
        d6(try_divide(col("st").cast("double"),
          col("n_draws").cast("double"))).as("hh_total"),
        col("y_true").as("true_total"),
        d6(try_divide(col("st").cast("double"),
          col("n_draws").cast("double") * col("y_true").cast("double"))
          - lit(1.0)).as("rel_error"))
  }

  /** Priority sampling (Duffield–Lund–Thorup, "Priority sampling for
    * estimation of arbitrary subset sums", JACM 2007 — public
    * literature): each row draws a deterministic uniform u ∈ (0, 1]
    * from its key hash, gets priority q = w/u, and the k HIGHEST
    * priorities are the sample; with τ = the (k+1)-th priority, the
    * per-row estimator ŵ = max(w, τ) makes Σŵ over the sample an
    * (essentially) unbiased estimate of ANY subset's weight sum — the
    * one-pass bounded-memory answer to "keep k rows but preserve
    * per-slice totals", which neither uniform nor threshold sampling
    * gives. Complements [[weightedSample]] (Efraimidis–Spirakis
    * membership, no estimator) and [[ppsSystematic]] (fixed-rate, not
    * fixed-k).
    *
    * Scale shape: priorities are a narrow projection; the top-(k+1) cut
    * is `orderBy(...).limit(k+1)` — Spark plans TakeOrderedAndProject
    * (per-partition heap top-k, one tiny merge), NEVER a global sort;
    * τ is an aggregate over the checkpointed (k+1)-row frame. All
    * decisive arithmetic is integer-hash → one IEEE division, identical
    * across engines; ties at the cut break by key.
    *
    * CONTRACT: `keyCol` must be UNIQUE. Duplicate keys share the same
    * hash-derived u, so (a) their priority AND key tiebreak tuples are
    * identical and `orderBy(...).limit` keeps an arbitrary subset of
    * the tied rows — the documented engine-identical determinism breaks
    * exactly there; and (b) their draws are perfectly correlated, which
    * biases the DLT estimator's variance guarantees (the paper assumes
    * independent per-item uniforms). Pre-aggregate to one row per key
    * (the natural form for "keep k keys, preserve subset sums") or
    * synthesize a unique key before sampling.
    */
  def prioritySample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val u = (samplingHash(col(keyCol)) + 1).cast("double") / lit(M32.toDouble)
    val base = df.filter(col(weightCol).cast("double") > 0)
      .withColumn("priority", col(weightCol).cast("double") / u)
    // k+1 rows, eagerly checkpointed: both the τ aggregate and the
    // final k-cut read it, and without the cut the two consumers would
    // each re-run the top-k scan (the only full-data pass here).
    val top = base.orderBy(col("priority").desc, col(keyCol).asc)
      .limit(k + 1).localCheckpoint()
    // τ = (k+1)-th largest priority = min over the (k+1)-frame; 0 when
    // the population is ≤ k (the whole population is the sample and
    // ŵ = w is exact — no estimation error at all).
    val tau = top.agg(
      when(count(lit(1)) > k, min(col("priority"))).otherwise(lit(0.0))
        .as("tau"))
    top.orderBy(col("priority").desc, col(keyCol).asc).limit(k)
      .crossJoin(broadcast(tau))
      .select(df.columns.map(col) ++ Seq(
        round(col("priority"), 6).as("priority"),
        round(greatest(col(weightCol).cast("double"), col("tau")), 6)
          .as("w_hat")): _*)
  }

  /** Estimator calibration card for [[prioritySample]]: Σŵ over the
    * k-sample against the true Σw, with the relative error — the
    * one-row witness that max(w, τ) really reconstructs the total from
    * k rows. Sums are DECIMAL-routed (order-free, engine-identical).
    */
  def prioritySampleTotalCard(df: DataFrame, keyCol: String,
                              weightCol: String, k: Int): DataFrame = {
    val est = prioritySample(df, keyCol, weightCol, k)
      .agg(sum(col("w_hat").cast("decimal(28,6)")).as("est_total"))
    val truth = df.filter(col(weightCol).cast("double") > 0)
      .agg(sum(col(weightCol).cast("decimal(28,6)")).as("true_total"))
    est.crossJoin(broadcast(truth))
      .select(lit(k).as("k"),
        round(col("est_total"), 6).cast("double").as("est_total"),
        round(col("true_total"), 6).cast("double").as("true_total"),
        graft.functions.Fns.q6((col("est_total") - col("true_total")).cast("double") /
          col("true_total").cast("double")).as("rel_error"))
  }

  /** Training-data MIXTURE composition (the Pile/Dolma-style source
    * weighting step every LLM pretraining pipeline runs): given target
    * source `weights` (relative, normalized internally) and a total
    * `tokenBudget`, compute each source's deterministic sampling rate
    * rate_s = min(1, budget·w_s/Σw / tokens_s), sample documents by the
    * [[samplingHash]] Bernoulli rule, and emit the per-source mixture
    * card — target vs achieved token shares — that a dataset card
    * publishes. The card carries one row per REQUESTED source: a
    * weighted source absent from the corpus still appears (n_docs 0,
    * rate 0, kept_tokens 0), so `target_share` always sums to 1 and a
    * requested-but-missing source is visible in the card instead of
    * silently vanishing. Corpus sources missing from `weights` are
    * excluded (no target, no rows); a source whose corpus is smaller
    * than its target keeps everything (rate caps at 1 — the card shows
    * the shortfall in `achieved_share`).
    *
    * Scale shape: ONE tokenize pass over the corpus (eagerly
    * checkpointed — both the totals aggregate and the keep filter read
    * it), per-source aggregates of |sources| rows riding broadcasts,
    * and the keep decision is a narrow hash-threshold filter — no
    * shuffle touches document text. Determinism: the threshold is
    * floor(rate·2³²) of closed-form IEEE doubles on exact aggregates —
    * the same rows survive on any engine or partitioning.
    */
  def mixtureCard(docs: DataFrame, weights: Map[String, Double],
                  tokenBudget: Long, sourceCol: String = "source",
                  textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    require(tokenBudget > 0, s"need tokenBudget > 0, got $tokenBudget")
    require(weights.nonEmpty && weights.values.forall(_ >= 0.0) &&
      weights.values.sum > 0.0, "weights must be non-negative, sum > 0")
    val wSum = weights.values.sum
    val base = docs.select(col(sourceCol).as("src"),
        samplingHash(col(idCol)).as("h"),
        size(graft.functions.Fns.tokens(col(textCol))).cast("long").as("n_tok"))
      .localCheckpoint()
    val totals = base.groupBy("src")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
    val plan = mixturePlanFromTotals(totals, weights, tokenBudget)
    val kept = base.join(broadcast(plan.select("src", "thr")), "src")
      .filter(col("h") < col("thr"))
      .groupBy("src")
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_tok")).as("kept_tokens"))
    val totKept = kept.agg(sum(col("kept_tokens")).as("tk"))
    plan.join(kept, Seq("src"), "left")
      .crossJoin(broadcast(totKept))
      .select(col("src").as(sourceCol), col("n_docs"), col("total_tokens"),
        round(col("target_raw"), 2).as("target_tokens"),
        round(col("rate"), 6).as("rate"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        graft.functions.Fns.q6(col("w") / wSum).as("target_share"),
        graft.functions.Fns.q6(try_divide(coalesce(col("kept_tokens"), lit(0L)).cast("double"),
          col("tk").cast("double"))).as("achieved_share"))
  }

  /** The per-source sampling plan shared by [[mixtureCard]] and
    * [[mixtureSample]]: weights-side outer join onto the corpus totals,
    * so every REQUESTED source gets a plan row even when the corpus has
    * none of it — rate pinned to 0 explicitly (least(1.0, NULL) would
    * skip the NULL and claim rate 1). `totals` is the broadcast side —
    * |sources| aggregate rows — because a left join can only broadcast
    * its non-preserved (right) side. Columns:
    * (src, n_docs, total_tokens, w, target_raw, rate, thr).
    */
  private def mixturePlanFromTotals(totals: DataFrame,
                                    weights: Map[String, Double],
                                    tokenBudget: Long): DataFrame = {
    val wSum = weights.values.sum
    val s = totals.sparkSession
    import s.implicits._
    val wdf = weights.toSeq.toDF("__src", "w")
    wdf.join(broadcast(totals), col("__src") === col("src"), "left")
      .select(col("__src").as("src"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("total_tokens"), lit(0L)).as("total_tokens"), col("w"),
        (lit(tokenBudget.toDouble) * col("w") / wSum).as("target_raw"))
      .withColumn("rate", when(col("total_tokens") > 0, least(lit(1.0),
        try_divide(col("target_raw"), col("total_tokens").cast("double"))))
        .otherwise(lit(0.0)))
      .withColumn("thr", floor(col("rate") * M32.toDouble).cast("long"))
  }

  /** The documents KEPT under the [[mixtureCard]] plan — identical
    * weights → rates → [[samplingHash]] Bernoulli rule, returning the
    * surviving rows with all their original columns: the card REPORTS
    * the composition; this emits the composed corpus for downstream
    * stages (see [[DocPipeline.prepareLlm]]).
    *
    * Scale shape: one tokenize pass aggregated to |sources| totals, the
    * |sources|-row plan broadcast back onto the corpus, and the keep
    * decision is a narrow hash-threshold filter — no shuffle ever
    * touches document text, and the same rows survive on any engine or
    * partitioning (the mixtureCard determinism argument).
    *
    * NOTE the input is read TWICE (the totals aggregate under the
    * broadcast plan, then the keep filter) — cheap when `docs` is a
    * scan, but a caller whose input is an expensive derived plan should
    * checkpoint/cache it first (the [[DocPipeline.prepareLlm]]
    * precedent); checkpointing unconditionally here would force a
    * full-corpus materialization on callers who read straight off
    * parquet.
    */
  def mixtureSample(docs: DataFrame, weights: Map[String, Double],
                    tokenBudget: Long, sourceCol: String = "source",
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    require(tokenBudget > 0, s"need tokenBudget > 0, got $tokenBudget")
    require(weights.nonEmpty && weights.values.forall(_ >= 0.0) &&
      weights.values.sum > 0.0, "weights must be non-negative, sum > 0")
    val totals = docs.select(col(sourceCol).as("src"),
        size(graft.functions.Fns.tokens(col(textCol))).cast("long").as("n_tok"))
      .groupBy("src")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
    val plan = mixturePlanFromTotals(totals, weights, tokenBudget)
    docs.join(broadcast(plan.select("src", "thr")),
        docs(sourceCol) === col("src"))
      .filter(samplingHash(col(idCol)) < col("thr"))
      .drop("src", "thr")
  }
}
