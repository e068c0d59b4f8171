package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns.{q6, q9}

/** Time-series regularization: resample an irregular event stream onto a
  * fixed per-key grid and forward-fill the gaps — what every downstream
  * window/feature computation assumes ("one row per user per hour"), and
  * what raw event data never gives you.
  */
object TimeSeries {

  /** Per-key fixed-step grid from each key's first to last bucket, with
    * the bucket aggregate where data exists and the last seen value
    * forward-filled across empty buckets (`n = 0` marks the fills).
    * Buckets are epoch-floored to `stepSeconds` (3600 = hourly ≡ UTC
    * `date_trunc('hour')`), so the grid stride and the aggregation
    * bucketing can never disagree.
    *
    * Shuffle shape: one hash aggregation into (key, bucket), a tiny
    * per-key bounds aggregate whose `sequence()` explode generates the
    * grid (rows ∝ key-count × span/step — never a cross join), and one
    * window per key for the fill. The value aggregate is DECIMAL-routed,
    * so results are identical under any partitioning. Skew note: a key
    * spanning years at a fine step explodes to span/step rows — bound
    * the span upstream or coarsen the step; the fill window is per-key
    * and parallelizes across keys.
    */
  def resampleForwardFill(events: DataFrame, keyCol: String, tsCol: String,
                          valueCol: String, stepSeconds: Long = 3600L): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketGrid(events, keyCol, tsCol, valueCol, stepSeconds)
      .select(col(keyCol), col("bucket"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("v"), ignoreNulls = true).over(w).as("v_ff"))
  }

  /** The epoch-floored step bucket of `tsCol` (3600 = the UTC hour): a
    * pure integer floor, epoch − epoch mod step, so no float division.
    */
  private def stepBucket(tsCol: String, stepSeconds: Long): Column =
    timestamp_seconds(
      unix_timestamp(col(tsCol)) - pmod(unix_timestamp(col(tsCol)), lit(stepSeconds)))

  /** Per-(key, step bucket) event count `n` and DECIMAL(18,6) value sum
    * `v`, cast to `vType`.
    */
  private def bucketSums(events: DataFrame, keyCol: String, tsCol: String,
                         valueCol: String, stepSeconds: Long, vType: String): DataFrame =
    events.groupBy(col(keyCol), stepBucket(tsCol, stepSeconds).as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,6)")).cast(vType).as("v"))

  /** The resamplers' frame: each key's step grid from its first to its
    * last bucket (a per-key bounds aggregate and a `sequence()` explode),
    * left-joined to the bucket count `n` and DOUBLE value sum `v`.
    */
  private def bucketGrid(events: DataFrame, keyCol: String, tsCol: String,
                         valueCol: String, stepSeconds: Long): DataFrame = {
    require(stepSeconds > 0, s"stepSeconds must be positive, got $stepSeconds")
    val bucket = stepBucket(tsCol, stepSeconds)
    val grid = events
      .groupBy(col(keyCol))
      .agg(min(bucket).as("b0"), max(bucket).as("b1"))
      .select(col(keyCol),
        explode(sequence(col("b0"), col("b1"),
          expr(s"INTERVAL $stepSeconds SECONDS"))).as("bucket"))
    grid.join(bucketSums(events, keyCol, tsCol, valueCol, stepSeconds, "double"),
      Seq(keyCol, "bucket"), "left")
  }

  /** Shared bucketing: per-(key, epoch-floored step bucket) event count
    * and DECIMAL(18,6) value sum. Every derived series operator consumes
    * this shape; keeping `v` in DECIMAL until the final per-row division
    * is what makes the whole family bit-deterministic across engines and
    * partitionings.
    */
  private def bucketize(events: DataFrame, keyCol: String, tsCol: String,
                        valueCol: String, stepSeconds: Long): DataFrame = {
    require(stepSeconds > 0, s"stepSeconds must be positive, got $stepSeconds")
    bucketSums(events, keyCol, tsCol, valueCol, stepSeconds, "decimal(18,6)")
  }

  /** [[bucketize]]'s observed (non-NULL) buckets, indexed t = 0, 1, … per
    * key in bucket order and capped at the first `maxBuckets`: the series
    * of the per-key quadratic and ordinal operators.
    */
  private def indexedBuckets(events: DataFrame, keyCol: String, tsCol: String,
                             valueCol: String, stepSeconds: Long,
                             maxBuckets: Int): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    bucketize(events, keyCol, tsCol, valueCol, stepSeconds)
      .filter(col("v").isNotNull)
      .withColumn("t", (row_number().over(w) - 1).cast("long"))
      .filter(col("t") < maxBuckets)
  }

  /** Each key's 6-dp hourly mean `vh` over the exact integer hour index
    * h since the key's first event, as (k, h, vh): the remainder is
    * subtracted first, so the double division is of an exact multiple
    * (no truncation hazard).
    */
  private def hourMeans(events: DataFrame, keyCol: String, tsCol: String,
                        valueCol: String): DataFrame = {
    val e = events.select(col(keyCol).as("k"),
      unix_micros(col(tsCol)).as("t"),
      col(valueCol).cast("double").as("v"))
    val bounds = e.groupBy("k").agg(min("t").as("tmin"))
    e.join(bounds, "k")
      .withColumn("h",
        (((col("t") - col("tmin")) - (col("t") - col("tmin")) % 3600000000L)
          / 3600000000L).cast("long"))
      .groupBy("k", "h")
      .agg(count(lit(1)).as("nh"),
        sum(round(col("v"), 6).cast("decimal(28,6)")).as("sv"))
      .select(col("k"), col("h"),
        q6(col("sv").cast("double") / col("nh")).as("vh"))
  }

  /** Per-key fixed-step grid with LINEAR interpolation across the gaps —
    * the fill for continuously-varying signals (sensor values, prices)
    * where forward-fill's step function biases downstream features. Grid
    * and bucket aggregation are shared with [[resampleForwardFill]]; the
    * fill differs: an empty bucket between two observed buckets gets
    * `prev + (next − prev) · (t − t_prev)/(t_next − t_prev)`; leading
    * gaps (no previous observation) take the next value, trailing gaps
    * the previous (flat extrapolation both ways).
    *
    * Determinism: the interpolation is one IEEE double expression of
    * exact inputs (bucket epochs are exact longs, bucket values ride the
    * DECIMAL aggregate). The OUTPUT rounding routes through
    * DECIMAL(24,12) before the 6-dp round: 6-dp-exact endpoints times a
    * small rational weight land EXACTLY on 6-dp half boundaries
    * (…3125), where Spark (shortest-decimal string) and DuckDB (raw
    * binary) round the same double differently; at 12 dp the double's
    * ±1-ulp noise is far below the half threshold, so both engines
    * quantize to the same decimal and the final half-up round agrees
    * (measured: 4/35k rows diverged without this). Bounds: |v| < 1e12
    * fits the (24,12) cast. Shuffle
    * shape: same one aggregation + grid explode as forward-fill, plus
    * TWO per-key windows (forward: last value+bucket so far; backward:
    * first value+bucket ahead) — both partitioned on the key, so the
    * plan parallelizes across keys and PlanGuard stays happy; a key's
    * span/step row count is the same bound as forward-fill.
    */
  def resampleInterpolate(events: DataFrame, keyCol: String, tsCol: String,
                          valueCol: String, stepSeconds: Long = 3600L): DataFrame = {
    val wf = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wb = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val ep = unix_timestamp(col("bucket"))
    val obsEp = when(col("v").isNotNull, ep)
    bucketGrid(events, keyCol, tsCol, valueCol, stepSeconds)
      .select(col(keyCol), col("bucket"), coalesce(col("n"), lit(0L)).as("n"),
        ep.as("__e"),
        last(col("v"), ignoreNulls = true).over(wf).as("__pv"),
        last(obsEp, ignoreNulls = true).over(wf).as("__pe"),
        first(col("v"), ignoreNulls = true).over(wb).as("__nv"),
        first(obsEp, ignoreNulls = true).over(wb).as("__ne"))
      .select(col(keyCol), col("bucket"), col("n"),
        q6(
          when(col("__pv").isNull, col("__nv"))
            .when(col("__nv").isNull, col("__pv"))
            .when(col("__ne") === col("__pe"), col("__pv"))
            .otherwise(col("__pv") + (col("__nv") - col("__pv")) *
              (col("__e") - col("__pe")).cast("double") /
              (col("__ne") - col("__pe")).cast("double")))
          .as("v_interp"))
  }

  /** Exponentially-weighted moving average over each key's bucketed
    * series, finite-memory form: at each observed bucket,
    * `ewma = Σ_{j<m} β^j·v_{t−j} / Σ_{j<m} β^j` over the last
    * `memory` OBSERVED buckets (pandas `adjust=true` semantics, so a
    * short history is properly renormalized instead of biased toward
    * the seed). Weights are quantized to 8 decimal places
    * (`β^j` rounded half-up) — for β = 1/2 (the default) every weight
    * up to j = 26 is exact, and the quantization is part of the
    * operator contract, which is what lets the weighted sum run
    * entirely in DECIMAL: weight(18,8) × value(18,6) products and
    * their sum are exact and order-independent, so the result is
    * bit-identical under any partitioning or engine. The only float
    * step is the final one division per row.
    *
    * Scale shape: one hash aggregation into (key, bucket), one per-key
    * window carrying a ≤ `memory`-element array — no grid explode, no
    * self-join (a range self-join would shuffle `memory`× the data; the
    * bounded collect_list window moves each row once).
    *
    * Buckets whose value sum is NULL (every event in the bucket had a
    * NULL value) are dropped from the series BEFORE windowing: the
    * collected array skips NULLs, so keeping those rows would silently
    * re-age every weight by array position instead of bucket recency —
    * excluding them keeps "last `memory` observed buckets" meaning the
    * same thing to this operator and to a row-lag formulation (the
    * oracle's).
    */
  def ewma(events: DataFrame, keyCol: String, tsCol: String, valueCol: String,
           beta: BigDecimal = BigDecimal("0.5"), memory: Int = 8,
           stepSeconds: Long = 3600L): DataFrame = {
    require(memory >= 1 && memory <= 64, s"need 1 <= memory <= 64, got $memory")
    require(beta > 0 && beta < 1, s"need 0 < beta < 1, got $beta")
    val ws = ewmaWeights(beta, memory)
    val wArr = array(ws.map(w => lit(w.bigDecimal).cast("decimal(18,8)")): _*)
    val tots = ws.scanLeft(BigDecimal(0))(_ + _).tail
    val wTotArr = array(tots.map(t => lit(t.bigDecimal).cast("decimal(18,8)")): _*)
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(-(memory - 1), Window.currentRow)
    val m = size(col("__arr"))
    bucketize(events, keyCol, tsCol, valueCol, stepSeconds)
      .filter(col("v").isNotNull)
      .withColumn("__arr", collect_list(col("v")).over(w))
      .select(col(keyCol), col("bucket"), col("n"), col("v").cast("double").as("v"),
        q6(
          (aggregate(
            // __arr is oldest..newest; element i (0-based) has age m-1-i,
            // so its weight is wArr(m-1-i) -> 1-based element_at(m-i).
            // Products are DECIMAL(37,14) (18,6 × 18,8); re-cast each
            // partial sum to the accumulator's DECIMAL(38,14) so the merge
            // lambda's type matches it exactly (Spark's decimal-addition
            // widening would otherwise drop to (38,13) and fail analysis).
            // ≤ 64 values of |v| ≤ 1e12 × weight ≤ 1 cannot overflow 38,14.
            transform(col("__arr"), (x, i) => x * element_at(wArr, m - i)),
            lit(BigDecimal(0).bigDecimal).cast("decimal(38,14)"),
            (acc, x) => (acc + x).cast("decimal(38,14)"))
            .cast("double") / element_at(wTotArr, m).cast("double")))
          .as("ewma"))
  }

  /** The 8-dp-quantized weight ladder `β^j, j = 0..memory-1` — shared
    * between the operator and callers that mirror it (oracle SQL).
    */
  def ewmaWeights(beta: BigDecimal, memory: Int): Seq[BigDecimal] =
    Iterator.iterate(BigDecimal(1))(_ * beta).take(memory)
      .map(_.setScale(8, BigDecimal.RoundingMode.HALF_UP)).toSeq

  /** Rolling z-score anomaly flagging: each observed bucket scored
    * against the mean/std of its key's trailing `window` observed
    * buckets (itself included). Moments come from exact DECIMAL window
    * sums (Σv, Σv²), so mean/variance inputs are bit-identical under
    * any partitioning; the z division is the only float step. Buckets
    * whose trailing window has fewer than 2 rows or zero variance get
    * NULL z (never ±Inf/NaN), and `is_anomaly` is a proper boolean —
    * NULL-z rows are false, not NULL, so downstream filters don't need
    * three-valued logic.
    *
    * Scale shape: one hash aggregation + one bounded per-key window;
    * parallelizes across keys, constant state per row.
    */
  def rollingZscore(events: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String, window: Int = 24,
                    threshold: Double = 3.0, stepSeconds: Long = 3600L): DataFrame = {
    require(window >= 2, s"need window >= 2, got $window")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(-(window - 1), Window.currentRow)
    val b = bucketize(events, keyCol, tsCol, valueCol, stepSeconds)
      .withColumn("nw", count(lit(1)).over(w))
      .withColumn("s1", sum(col("v")).over(w).cast("double"))
      .withColumn("s2", sum((col("v") * col("v")).cast("decimal(38,12)")).over(w)
        .cast("double"))
    val mean = col("s1") / col("nw")
    val varRaw = (col("s2") - col("s1") * col("s1") / col("nw")) / (col("nw") - 1)
    val varC = when(col("nw") < 2, lit(null)).when(varRaw < 0, lit(0.0)).otherwise(varRaw)
    val std = sqrt(varC)
    val z = when(std > 0, (col("v").cast("double") - mean) / std)
    b.select(col(keyCol), col("bucket"), col("n"), col("v").cast("double").as("v"),
      col("nw"),
      q6(z).as("z"),
      coalesce(abs(z) > threshold, lit(false)).as("is_anomaly"))
  }

  /** Lag-k autocorrelation of each key's bucketed series (successive
    * OBSERVED buckets — gaps are treated as adjacent, callers wanting
    * calendar lags resample first). Pearson r between (v_t, v_{t−k})
    * computed from six exact DECIMAL aggregates (n, Σx, Σy, Σxy, Σx²,
    * Σy²), so the only float arithmetic is the fixed closed-form per
    * KEY, not per row — deterministic under any partitioning. Keys
    * with a degenerate denominator (constant series, < 2 pairs) get
    * NULL r rather than NaN.
    *
    * Scale shape: one hash aggregation, one per-key lag window, one
    * final per-key aggregation — three key-partitioned shuffles of
    * register-sized rows.
    */
  def autocorr(events: DataFrame, keyCol: String, tsCol: String,
               valueCol: String, lag: Int = 1,
               stepSeconds: Long = 3600L): DataFrame = {
    require(lag >= 1, s"need lag >= 1, got $lag")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val paired = bucketize(events, keyCol, tsCol, valueCol, stepSeconds)
      .withColumn("y", functions.lag(col("v"), lag).over(w))
      .filter(col("y").isNotNull)
    val agg = paired.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("v")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum((col("v") * col("y")).cast("decimal(38,12)")).cast("double").as("sxy"),
      sum((col("v") * col("v")).cast("decimal(38,12)")).cast("double").as("sxx"),
      sum((col("y") * col("y")).cast("decimal(38,12)")).cast("double").as("syy"))
    val nd = col("n_pairs").cast("double")
    val den1 = nd * col("sxx") - col("sx") * col("sx")
    val den2 = nd * col("syy") - col("sy") * col("sy")
    val r = when(den1 > 0 && den2 > 0,
      (nd * col("sxy") - col("sx") * col("sy")) / (sqrt(den1) * sqrt(den2)))
    agg.select(col(keyCol), col("n_pairs"),
      q6(r).as("autocorr"))
  }

  /** ACF + PACF card to lag 3 per key — the ARIMA order-selection
    * diagnostic ([[autocorr]] gives one Pearson-on-pairs lag; this is
    * the textbook autocovariance ACF plus the PARTIAL autocorrelations,
    * which answer "does lag-k carry signal BEYOND what lags 1..k−1
    * already explain" — the difference between fitting AR(3) and
    * fitting AR(1) three times). PACF comes from the Durbin–Levinson
    * recursion unrolled to depth 3 in closed form:
    * `φ₁₁ = ρ₁`, `φ₂₂ = (ρ₂−ρ₁²)/(1−ρ₁²)`, `φ₂₁ = ρ₁(1−φ₂₂)`,
    * `φ₃₃ = (ρ₃−φ₂₁ρ₂−φ₂₂ρ₁)/(1−φ₂₁ρ₁−φ₂₂ρ₂)` — fixed IEEE
    * expression chains over 9-dp-rounded ρ values, so both engines
    * compute bit-identical results with no float accumulation anywhere
    * (the sums feeding ρ are exact DECIMALs of 9-dp-rounded centered
    * products). Degenerate keys (constant series → zero variance, or
    * fewer buckets than the lag) report NULL via try_divide, not a
    * divide error.
    *
    * Scale shape: the shared [[autocorr]] bucket aggregate, two
    * key-partitioned windows (exact per-key mean, the three lags), one
    * key-keyed combine-heavy aggregate — everything linear and
    * key-local, no joins.
    */
  def pacf(events: DataFrame, keyCol: String, tsCol: String,
           valueCol: String, stepSeconds: Long = 3600L): DataFrame = {
    val wk = Window.partitionBy(col(keyCol))
    val wo = wk.orderBy(col("bucket"))
    def dsum(c: Column) = sum(c.cast("decimal(38,12)"))
    val centered = bucketize(events, keyCol, tsCol, valueCol, stepSeconds)
      .withColumn("nb", count(lit(1)).over(wk))
      .withColumn("sv", sum(col("v")).over(wk))
      .withColumn("c", q9(col("v").cast("double") -
        col("sv").cast("double") / col("nb")))
    val agg = centered
      .withColumn("c1", functions.lag(col("c"), 1).over(wo))
      .withColumn("c2", functions.lag(col("c"), 2).over(wo))
      .withColumn("c3", functions.lag(col("c"), 3).over(wo))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_buckets"),
        dsum(col("c") * col("c")).as("s0"),
        dsum(col("c") * col("c1")).as("s1"),
        dsum(col("c") * col("c2")).as("s2"),
        dsum(col("c") * col("c3")).as("s3"))
    def rho(s: String) =
      q9(try_divide(col(s).cast("double"), col("s0").cast("double")))
    val r = agg.select(col(keyCol), col("n_buckets"),
      rho("s1").as("r1"), rho("s2").as("r2"), rho("s3").as("r3"))
    val phi22 = try_divide(col("r2") - col("r1") * col("r1"),
      lit(1.0) - col("r1") * col("r1"))
    val d = r.withColumn("phi22", phi22)
      .withColumn("phi21", col("r1") * (lit(1.0) - col("phi22")))
    d.select(col(keyCol), col("n_buckets"),
      q6(col("r1")).as("rho1"), q6(col("r2")).as("rho2"),
      q6(col("r3")).as("rho3"),
      q6(col("r1")).as("pacf1"),
      q6(col("phi22")).as("pacf2"),
      q6(try_divide(
        col("r3") - col("phi21") * col("r2") - col("phi22") * col("r1"),
        lit(1.0) - col("phi21") * col("r1") - col("phi22") * col("r2")))
        .as("pacf3"))
  }

  /** Time-WEIGHTED average per key over the raw irregular samples — the
    * TSDB staple ([[resampleForwardFill]]'s integral twin): each sample
    * holds until the next one arrives, so its weight is the interval it
    * covered, `TWA = Σ vᵢ·Δtᵢ / Σ Δtᵢ` — the honest mean of a
    * sparsely-sampled gauge, where the arithmetic mean over-counts
    * bursts of dense samples (the reported `mean_simple` column shows
    * exactly that bias). The last sample of a key covers no interval
    * and carries zero weight; single-sample keys have no duration and
    * report NULL.
    *
    * Determinism: values quantize to DECIMAL(18,6) on entry, intervals
    * are exact epoch-microsecond longs, so every product and both sums
    * are exact decimals/integers — the single division rides the
    * DECIMAL(24,12) rounding convention. One per-key lead window and
    * one key-keyed aggregate; nothing global.
    */
  def timeWeightedAvg(events: DataFrame, keyCol: String, tsCol: String,
                      valueCol: String): DataFrame = {
    // (us, vq) ordering: microsecond ties break on the quantized value,
    // and rows identical in BOTH are interchangeable — so the v·dt
    // pairing is deterministic without needing an id column
    val wo = Window.partitionBy(col(keyCol)).orderBy(col("us"), col("vq"))
    val rows = events.select(col(keyCol),
        unix_micros(col(tsCol)).as("us"),
        col(valueCol).cast("decimal(18,6)").as("vq"))
      .withColumn("dt", functions.lead(col("us"), 1).over(wo) - col("us"))
    rows.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("dt")).as("dur_us"),
        sum((col("vq") * col("dt")).cast("decimal(38,6)")).as("wsum"),
        sum(col("vq")).as("vsum"))
      .select(col(keyCol), col("n_samples"),
        coalesce(col("dur_us"), lit(0L)).as("duration_us"),
        q6(try_divide(col("wsum").cast("double"), col("dur_us").cast("double")))
          .as("twa"),
        q6(col("vsum").cast("double") / col("n_samples")).as("mean_simple"))
  }

  /** Single-changepoint scan: for every split position t of a key's
    * bucketed series, the standardized mean-shift statistic
    * `|mean(v_1..t) − mean(v_{t+1}..n)| · sqrt(t·(n−t)/n)` (the
    * two-sample scan score — the sqrt factor makes scores comparable
    * across split positions), maximized over t. Returns one row per
    * key with ≥ 2 buckets: the best split's bucket, its score, and the
    * two side means. Prefix sums are exact DECIMAL running windows, so
    * every engine scores every split identically; ties on score break
    * to the earliest bucket.
    *
    * Scale shape: two per-key windows (running prefix sum + whole-key
    * totals) and a per-key top-1 window — all key-partitioned; no
    * grid, no self-join (the naive formulation joins every split
    * against every row — O(n²) per key; prefix sums make it O(n)).
    */
  def changepointScan(events: DataFrame, keyCol: String, tsCol: String,
                      valueCol: String, stepSeconds: Long = 3600L): DataFrame = {
    val wRun = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(keyCol))
    val scored = bucketize(events, keyCol, tsCol, valueCol, stepSeconds)
      .withColumn("t", count(lit(1)).over(wRun))
      .withColumn("pre", sum(col("v")).over(wRun).cast("double"))
      .withColumn("nk", count(lit(1)).over(wAll))
      .withColumn("tot", sum(col("v")).over(wAll).cast("double"))
      .filter(col("t") < col("nk"))
    val lmean = col("pre") / col("t")
    val rmean = (col("tot") - col("pre")) / (col("nk") - col("t"))
    val score = abs(lmean - rmean) *
      sqrt((col("t") * (col("nk") - col("t"))).cast("double") / col("nk"))
    val wBest = Window.partitionBy(col(keyCol))
      .orderBy(col("__score").desc, col("bucket"))
    scored.withColumn("__score", score)
      .withColumn("__lm", lmean).withColumn("__rm", rmean)
      .withColumn("__rk", row_number().over(wBest))
      .filter(col("__rk") === 1)
      .select(col(keyCol), col("bucket").as("split_bucket"), col("nk").as("n_buckets"),
        q6(col("__score")).as("score"),
        q6(col("__lm")).as("left_mean"),
        q6(col("__rm")).as("right_mean"))
  }

  /** Per-key OLS trend line of the bucketed value over the OBSERVED-bucket
    * index t = 0, 1, … (index, not wall time, so gaps don't leverage the
    * fit; resample first for calendar-time slopes). Slope / intercept / R²
    * come from the closed forms over six aggregates (n, Σt, Σv, Σtv, Σt²,
    * Σv²): t is an exact integer, v and the cross products ride DECIMAL,
    * so the per-key float arithmetic is one fixed expression over
    * identical operands in any engine or partitioning. Degenerate keys
    * (n < 2) get NULL slope; a flat series gets slope 0 with NULL R²
    * (0/0 — no variance to explain).
    *
    * Scale shape: one hash aggregation, one per-key index window, one
    * per-key aggregation — all key-partitioned.
    */
  def olsTrend(events: DataFrame, keyCol: String, tsCol: String,
               valueCol: String, stepSeconds: Long = 3600L): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val idx = bucketize(events, keyCol, tsCol, valueCol, stepSeconds)
      .filter(col("v").isNotNull)
      .withColumn("t", (row_number().over(w) - 1).cast("long"))
    val agg = idx.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n_buckets"),
      sum(col("t")).as("st"),
      sum(col("v")).cast("double").as("sv"),
      sum((col("t") * col("v")).cast("decimal(38,12)")).cast("double").as("stv"),
      // t² and Σt² ride DECIMAL(38,0): a billion-bucket key would overflow
      // BIGINT (ANSI runtime error), and DECIMAL keeps the moment exact.
      sum(col("t").cast("decimal(19,0)") * col("t").cast("decimal(19,0)"))
        .cast("decimal(38,0)").as("stt"),
      sum((col("v") * col("v")).cast("decimal(38,12)")).cast("double").as("svv"))
    val nd = col("n_buckets").cast("double")
    val dent = nd * col("stt").cast("double") -
      col("st").cast("double") * col("st").cast("double")
    val denv = nd * col("svv") - col("sv") * col("sv")
    val cov = nd * col("stv") - col("st").cast("double") * col("sv")
    val slope = when(col("n_buckets") >= 2 && dent > 0, cov / dent)
    val intercept = (col("sv") - slope * col("st").cast("double")) / nd
    val r2 = when(slope.isNotNull && denv > 0, cov * cov / (dent * denv))
    agg.select(col(keyCol), col("n_buckets"),
      q6(slope).as("slope"),
      q6(intercept).as("intercept"),
      q6(r2).as("r2"))
  }

  /** Lagged cross-correlation between each key's bucketed value-sum
    * series and its event-count series: Pearson r between v_t and
    * n_{t−lag} over successive observed buckets — "does activity
    * intensity lead value by `lag` buckets?" (lag 0 = contemporaneous).
    * Same six-exact-aggregate Pearson as [[autocorr]] — both series come
    * out of ONE bucketize pass (no second scan or join of two series),
    * and float math is confined to the per-key closed form. Degenerate
    * keys (either series constant, < 2 pairs) get NULL r.
    */
  def crossCorr(events: DataFrame, keyCol: String, tsCol: String,
                valueCol: String, lag: Int = 0,
                stepSeconds: Long = 3600L): DataFrame = {
    require(lag >= 0, s"need lag >= 0, got $lag")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val paired = bucketize(events, keyCol, tsCol, valueCol, stepSeconds)
      .withColumn("y",
        if (lag == 0) col("n") else functions.lag(col("n"), lag).over(w))
      .filter(col("y").isNotNull && col("v").isNotNull)
    val agg = paired.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("v")).cast("double").as("sx"),
      sum(col("y")).as("sy"),
      sum((col("v") * col("y")).cast("decimal(38,12)")).cast("double").as("sxy"),
      sum((col("v") * col("v")).cast("decimal(38,12)")).cast("double").as("sxx"),
      // y² and Σy² in DECIMAL: same BIGINT-overflow guard as olsTrend.
      sum(col("y").cast("decimal(19,0)") * col("y").cast("decimal(19,0)"))
        .cast("decimal(38,0)").as("syy"))
    val nd = col("n_pairs").cast("double")
    val den1 = nd * col("sxx") - col("sx") * col("sx")
    val den2 = nd * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    val r = when(den1 > 0 && den2 > 0,
      (nd * col("sxy") - col("sx") * col("sy").cast("double")) /
        (sqrt(den1) * sqrt(den2)))
    agg.select(col(keyCol), col("n_pairs"),
      q6(r).as("xcorr"))
  }

  /** Seasonal-strength decomposition: buckets are phased by
    * `(epoch mod periodSeconds) / stepSeconds` (period 86400 / step 3600
    * = hour-of-day) and each key's value variance is split into
    * between-phase and residual parts — `strength = SSB / SST`, the
    * standard "how seasonal is this signal" ratio (0 = no phase effect,
    * → 1 = pure seasonality), plus the peak phase (highest phase mean,
    * ties to the earliest phase). Sums of squares come from per-phase
    * exact DECIMAL aggregates combined in one fixed per-key float
    * expression: `SST = Σv² − S²/N`, `SSB = Σ_p s_p²/n_p − S²/N`.
    * Zero-variance keys get NULL strength.
    *
    * Scale shape: one hash aggregation into (key, phase) — ≤ period/step
    * rows per key — then one per-key aggregation; no windows at all.
    */
  def seasonalStrength(events: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, periodSeconds: Long = 86400L,
                       stepSeconds: Long = 3600L): DataFrame = {
    require(periodSeconds > 0 && stepSeconds > 0 && periodSeconds % stepSeconds == 0,
      s"need step | period, got period=$periodSeconds step=$stepSeconds")
    val phase = (pmod(unix_timestamp(col(tsCol)), lit(periodSeconds)) / stepSeconds)
      .cast("long")
    val perPhase = events
      .select(col(keyCol), phase.as("phase"),
        col(valueCol).cast("decimal(18,6)").as("x"))
      .filter(col("x").isNotNull)
      .groupBy(col(keyCol), col("phase"))
      .agg(count(lit(1)).as("np"),
        sum(col("x")).cast("decimal(38,12)").as("sp"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).as("sp2"))
    val agg = perPhase.groupBy(col(keyCol)).agg(
      sum(col("np")).as("n_rows"),
      count(lit(1)).as("n_phases"),
      sum(col("sp")).cast("double").as("s"),
      sum(col("sp2")).cast("double").as("s2"),
      // Σ_p s_p²/n_p: per-phase float division then a 6-dp DECIMAL sum so
      // the total is order-free.
      sum(q6((col("sp") * col("sp")).cast("double") / col("np"))
        .cast("decimal(38,6)")).cast("double").as("ssb_raw"),
      // Peak-phase sort key is the 6-dp-rounded DOUBLE mean (not the raw
      // decimal ratio, whose quotient scale is engine-specific) so any
      // engine ranks phases identically; ties break to the earliest phase.
      max_by(col("phase"),
        struct(q6(col("sp").cast("double") / col("np")), -col("phase")))
        .as("peak_phase"))
    val sst = col("s2") - col("s") * col("s") / col("n_rows")
    val ssb = col("ssb_raw") - col("s") * col("s") / col("n_rows")
    val strength = when(sst > 0, greatest(least(ssb / sst, lit(1.0)), lit(0.0)))
    agg.select(col(keyCol), col("n_rows"), col("n_phases"), col("peak_phase"),
      q6(strength).as("strength"))
  }

  /** SAX symbolization: each key's bucketed series, z-normalized with the
    * key's exact moments, piecewise-aggregate-approximated into
    * `segments` equal index ranges, each segment mean mapped to a letter
    * by the standard Gaussian breakpoints — the classic shape signature
    * for whole-series similarity, indexing, and motif grouping
    * (Lin/Keogh's SAX, public literature). Alphabet is fixed at 4
    * (breakpoints −0.6745 / 0 / 0.6745); strict `<` at each breakpoint,
    * so a segment mean exactly ON a breakpoint takes the higher letter —
    * both engines evaluate the same doubles, so the tie rule is
    * deterministic cross-engine.
    *
    * Per-row z values are 6-dp rounded and segment means ride a DECIMAL
    * sum (order-free); keys with < 2 buckets or zero variance are OMITTED
    * (no shape to encode). Scale shape: per-key moment aggregate
    * joined back (key-partitioned hash join), one index window, one
    * (key, segment) aggregation, one per-key assembly — everything keyed.
    */
  def sax(events: DataFrame, keyCol: String, tsCol: String,
          valueCol: String, segments: Int = 8,
          stepSeconds: Long = 3600L): DataFrame = {
    require(segments >= 1 && segments <= 64, s"need 1 <= segments <= 64, got $segments")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val b = bucketize(events, keyCol, tsCol, valueCol, stepSeconds)
      .filter(col("v").isNotNull)
    val moments = b.groupBy(col(keyCol)).agg(
      count(lit(1)).as("nk"),
      sum(col("v")).cast("double").as("s1"),
      sum((col("v") * col("v")).cast("decimal(38,12)")).cast("double").as("s2"))
    val mean = col("s1") / col("nk")
    val varr = (col("s2") - col("s1") * col("s1") / col("nk")) / (col("nk") - 1)
    val stats = moments.select(col(keyCol), col("nk"), mean.as("mu"),
      when(col("nk") >= 2 && varr > 0, sqrt(varr)).as("sigma"))
    val seg = b.join(stats, Seq(keyCol))
      .filter(col("sigma").isNotNull)
      .withColumn("__i", (row_number().over(w) - 1).cast("long"))
      // Spark's `/` on integrals is double division; nk ≤ 2^31 buckets ×
      // segments ≤ 64 stays well under 2^53, so floor(double) == exact
      // integer division here.
      .withColumn("__seg", floor(col("__i") * segments / col("nk")).cast("long"))
      .withColumn("__z",
        q6((col("v").cast("double") - col("mu")) / col("sigma"))
          .cast("decimal(18,6)"))
      .groupBy(col(keyCol), col("__seg"))
      .agg(count(lit(1)).as("ns"), sum(col("__z")).cast("double").as("sz"),
        first(col("nk")).as("nk"))
    val m = col("sz") / col("ns")
    val letter = when(m < -0.6745, lit("a")).when(m < 0.0, lit("b"))
      .when(m < 0.6745, lit("c")).otherwise(lit("d"))
    seg.withColumn("__letter", letter)
      .groupBy(col(keyCol))
      .agg(first(col("nk")).as("n_buckets"),
        array_join(transform(
          array_sort(collect_list(struct(col("__seg"), col("__letter")))),
          s => s.getField("__letter")), "").as("sax"))
  }

  /** M4 downsampling: per (key, bucket) keep exactly the four values any
    * pixel-faithful rendering or coarse anomaly scan needs — min, max,
    * first, last — the standard error-free line-chart reduction (Jugel
    * et al., VLDB 2014). Unlike averaging it preserves extremes, and
    * unlike LTTB it is a single associative aggregate: first/last ride
    * `min_by`/`max_by` on the (ts, event_id) order struct, so the whole
    * operator is ONE map-side-combinable hash aggregate — no window, no
    * sort, linear at any corpus scale. Values pass through untouched
    * (no arithmetic), so engines agree bit-for-bit.
    */
  def m4Downsample(events: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, stepSeconds: Long = 3600L,
                   idCol: String = "event_id"): DataFrame = {
    require(stepSeconds > 0, s"stepSeconds must be positive, got $stepSeconds")
    val ord = struct(col(tsCol), col(idCol))
    events.groupBy(col(keyCol), stepBucket(tsCol, stepSeconds).as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col(valueCol)).as("v_min"),
        max(col(valueCol)).as("v_max"),
        min_by(col(valueCol), ord).as("v_first"),
        max_by(col(valueCol), ord).as("v_last"))
  }

  /** Seasonal-naive forecast backtest: predict each hour's mean as the
    * value `periodHours` earlier and report the mean absolute error
    * over the last `testHours` of the series — the one-line capacity-
    * forecast sanity check every "can we just use last week" decision
    * should cite. Test rows are hours where BOTH h and h−period exist
    * (missing hours carry no forecast); per-key hourly means use the
    * exact integer hour index (remainder-subtracted division) and
    * 6-dp DECIMAL means; |error| terms are rounded into a DECIMAL sum,
    * one final rounded division. Shape: one hourly aggregate, one
    * (key, h−period) equi-self-join, one key aggregate.
    */
  def seasonalNaiveBacktest(events: DataFrame, keyCol: String, tsCol: String,
                            valueCol: String, periodHours: Int = 24,
                            testHours: Int = 48): DataFrame = {
    require(periodHours >= 1, s"need periodHours >= 1, got $periodHours")
    require(testHours >= 1, s"need testHours >= 1, got $testHours")
    val hourly = hourMeans(events, keyCol, tsCol, valueCol)
    val hmax = hourly.groupBy("k").agg(max("h").as("hmax"))
    val test = hourly.join(hmax, "k")
      .filter(col("h") > col("hmax") - testHours)
      .select(col("k"), col("h"), col("vh"))
    val fc = hourly.select(col("k"), (col("h") + periodHours).as("h"),
      col("vh").as("pred"))
    test.join(fc, Seq("k", "h"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_test"),
        sum(round(abs(col("vh") - col("pred")), 6).cast("decimal(28,6)"))
          .as("sae"))
      .select(col("k"), col("n_test"),
        q6(col("sae").cast("double") / col("n_test")).as("mae"))
  }

  /** Discrete-Fourier spectral fingerprint: per key, the DFT amplitude
    * at harmonics k = 1..`harmonics` over the HOURLY mean series — the
    * frequency-domain periodicity profile that complements
    * [[seasonalStrength]]'s single fixed-period test (a daily cycle
    * shows as k ≈ n_hours/24 energy without naming the period up
    * front). Missing hours contribute implicit zeros, so the series
    * needs no gap-fill pass first.
    *
    * Determinism: hour index and N are exact integers; each cos/sin
    * term is rounded to 6 dp before its DECIMAL sum (libm last-ulp
    * differences between engines die in the rounding, the ln/exp
    * precedent); amplitude is one sqrt over exact sums, rounded.
    * Cost: one (key, hour) mean aggregate (map-side combined), then a
    * (key, k) aggregate over hours × `harmonics` rows.
    */
  def dftSpectrum(events: DataFrame, keyCol: String, tsCol: String,
                  valueCol: String, harmonics: Int = 4): DataFrame = {
    require(harmonics >= 1, s"need harmonics >= 1, got $harmonics")
    val hourly = hourMeans(events, keyCol, tsCol, valueCol)
    val n = hourly.groupBy("k").agg((max("h") + 1L).as("n"))
    val spine = hourly.sparkSession.range(1, harmonics + 1)
      .select(col("id").as("harmonic"))
    def d6sum(c: Column) =
      sum(round(c, 6).cast("decimal(28,6)")).cast("double")
    val arg = lit(2.0) * lit(math.Pi) * col("harmonic").cast("double") *
      col("h").cast("double") / col("n").cast("double")
    hourly.join(n, "k").crossJoin(broadcast(spine))
      .groupBy("k", "harmonic")
      .agg(min("n").as("n_hours"),
        d6sum(col("vh") * cos(arg)).as("a"),
        d6sum(col("vh") * sin(arg)).as("b"))
      .select(col("k"), col("harmonic"), col("n_hours"),
        q6(
          sqrt(col("a") * col("a") + col("b") * col("b")) /
            col("n_hours").cast("double")).as("amplitude"))
  }

  /** LTTB-style visual downsampling (Steinarsson's
    * Largest-Triangle-Three-Buckets), mean-anchor PARALLEL variant: the
    * classic algorithm selects each bucket's point by triangle area
    * against the PREVIOUSLY SELECTED point — an inherently sequential
    * chain — so this operator anchors areas on the NEIGHBOR BUCKETS'
    * MEAN points instead (the same approximation LTTB itself already
    * makes on its right anchor). Every bucket's argmax is then
    * independent → one grouped aggregate for anchors, one join, one
    * per-bucket window; fully distributed, deterministic.
    *
    * Contract: first/last buckets keep their first/last point (LTTB
    * endpoint rule); interior buckets keep the max-area point vs left /
    * right neighbor mean anchors (a missing neighbor coalesces to the
    * bucket's own mean — degenerate but deterministic); areas are the
    * doubled triangle area (constant factor irrelevant to the argmax),
    * 6-dp-rounded before the (area DESC, dt ASC, id ASC) tie-broken
    * argmax. Time enters as exact micros-from-key-min, so both engines
    * rank identical doubles.
    */
  def lttbDownsample(events: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String, buckets: Int = 16,
                     idCol: String = "event_id"): DataFrame = {
    require(buckets >= 3, s"need buckets >= 3, got $buckets")
    val e = events.select(col(keyCol).as("k"),
      unix_micros(col(tsCol)).as("t"),
      col(valueCol).cast("double").as("v"), col(idCol).as("id"))
    val bounds = e.groupBy("k").agg(min("t").as("tmin"), max("t").as("tmax"))
    val b = e.join(bounds, "k")
      .withColumn("dt", col("t") - col("tmin"))
      .withColumn("bucket",
        (col("dt") * buckets / (col("tmax") - col("tmin") + 1L)).cast("int"))
      .select("k", "t", "dt", "v", "id", "bucket")
    val anchors = b.groupBy("k", "bucket")
      .agg(count(lit(1)).as("n"), sum(col("dt")).as("st"),
        sum(round(col("v"), 6).cast("decimal(28,6)")).as("sv"))
      .select(col("k"), col("bucket"),
        q6(col("st").cast("double") / col("n")).as("mt"),
        q6(col("sv").cast("double") / col("n")).as("mv"))
    val withA = b
      .join(anchors.select(col("k"), (col("bucket") + 1).as("bucket"),
        col("mt").as("lt0"), col("mv").as("lv0")), Seq("k", "bucket"), "left")
      .join(anchors.select(col("k"), (col("bucket") - 1).as("bucket"),
        col("mt").as("rt0"), col("mv").as("rv0")), Seq("k", "bucket"), "left")
      .join(anchors.select(col("k"), col("bucket"),
        col("mt").as("ot"), col("mv").as("ov")), Seq("k", "bucket"))
      .select(col("k"), col("bucket"), col("t"), col("dt").cast("double").as("dtd"),
        col("v"), col("id"),
        coalesce(col("lt0"), col("ot")).as("lt"),
        coalesce(col("lv0"), col("ov")).as("lv"),
        coalesce(col("rt0"), col("ot")).as("rt"),
        coalesce(col("rv0"), col("ov")).as("rv"))
      .withColumn("area", round(abs(
        (col("lt") - col("rt")) * (col("v") - col("rv")) -
          (col("lt") - col("dtd")) * (col("rv") - col("lv"))), 6))
    val wFirst = Window.partitionBy("k", "bucket")
      .orderBy(col("dt").asc, col("id").asc)
    val wLast = Window.partitionBy("k", "bucket")
      .orderBy(col("dt").desc, col("id").desc)
    val wArea = Window.partitionBy("k", "bucket")
      .orderBy(col("area").desc, col("dtd").asc, col("id").asc)
    val first = b.filter(col("bucket") === 0)
      .withColumn("rn", row_number().over(wFirst)).filter(col("rn") === 1)
      .select(col("k"), col("bucket"), col("t"), col("v"))
    val last = b.filter(col("bucket") === buckets - 1)
      .withColumn("rn", row_number().over(wLast)).filter(col("rn") === 1)
      .select(col("k"), col("bucket"), col("t"), col("v"))
    val mid = withA
      .filter(col("bucket") > 0 && col("bucket") < buckets - 1)
      .withColumn("rn", row_number().over(wArea)).filter(col("rn") === 1)
      .select(col("k"), col("bucket"), col("t"), col("v"))
    first.unionByName(mid).unionByName(last)
      .select(col("k"), col("bucket"), timestamp_micros(col("t")).as("ts"),
        col("v").as("value"))
  }

  /** Theil–Sen robust trend per key: slope = MEDIAN of all pairwise
    * slopes (v_j − v_i)/(t_j − t_i) over the observed-bucket index,
    * intercept = median residual at that slope — the estimator that
    * shrugs off up to ~29% outliers where [[olsTrend]]'s least squares
    * chases them. The robust face of the same hourly-trend question.
    *
    * Scale shape: pairwise slopes come from a per-key equi-self-join
    * (keyed on `keyCol`, never global), O(n²) in the per-key BUCKET
    * count — the [[changepointScan]] cost class, bounded here by
    * `maxBuckets` (first N buckets per key; a year of hourly data is
    * 8.8k buckets → cap before the quadratic, or coarsen the step).
    * Keys with < 2 observed buckets have no pairs and drop out, mirrored
    * by the oracle. Determinism: pair slopes are one double division of
    * exact inputs (DECIMAL bucket sums, integer index gaps) rounded to
    * 9 dp; the exact interpolating `percentile` over those agrees with
    * DuckDB's `quantile_cont` at the final 6-dp round (the
    * ana_stage_latency / ts_ols convention).
    */
  def theilSen(events: DataFrame, keyCol: String, tsCol: String,
               valueCol: String, stepSeconds: Long = 3600L,
               maxBuckets: Int = 512): DataFrame = {
    require(maxBuckets >= 2, s"need maxBuckets >= 2, got $maxBuckets")
    // Eagerly checkpointed: the indexed-bucket frame feeds THREE plan
    // branches (both sides of the pair self-join and the residual join),
    // so an uncut plan re-runs bucketize's scan + keyed window per
    // branch. The frame is ≤ keys × maxBuckets rows — tiny.
    val idx = indexedBuckets(events, keyCol, tsCol, valueCol, stepSeconds, maxBuckets)
      .select(col(keyCol).as("k"), col("t"), col("v"))
      .localCheckpoint()
    val pairs = idx.as("a").join(idx.as("b"),
        col("a.k") === col("b.k") && col("a.t") < col("b.t"))
      .select(col("a.k").as("k"),
        q9((col("b.v").cast("double") - col("a.v").cast("double")) /
          (col("b.t") - col("a.t")).cast("double")).as("ps"))
    val slope = pairs.groupBy("k").agg(
      count(lit(1)).as("n_pairs"),
      expr("percentile(ps, 0.5D)").as("slope_raw"))
    idx.join(slope, "k")
      .select(col("k"), col("n_pairs"), col("slope_raw"),
        q9(col("v").cast("double") - col("slope_raw") *
          col("t").cast("double")).as("r"))
      .groupBy(col("k"), col("n_pairs"), col("slope_raw"))
      .agg(count(lit(1)).as("n_buckets"),
        expr("percentile(r, 0.5D)").as("icept_raw"))
      .select(col("k").as(keyCol), col("n_buckets"), col("n_pairs"),
        // DECIMAL(24,12) routing before the 6-dp round: the interpolated
        // percentile is a double whose 6-dp half-boundary ties Spark and
        // DuckDB round differently (the resampleInterpolate discipline).
        q6(col("slope_raw"))
          .as("slope"),
        q6(col("icept_raw"))
          .as("intercept"))
  }

  /** Top-motif discovery per key: the pair of NON-overlapping length-`m`
    * subsequences of the hourly series with minimal squared Euclidean
    * distance — "which pattern does this series repeat most exactly", the
    * matrix-profile question (Yeh et al.'s STAMP) answered for the single
    * best motif. Gaps are not re-filled here: subsequences run over the
    * observed-bucket index (compose [[resampleInterpolate]] upstream for
    * wall-clock-aligned motifs).
    *
    * Scale shape: subsequences assemble from m−1 per-key `lead`s (one
    * partitioned window, no join); the pair term is a per-key equi-self-
    * join with `b.t ≥ a.t + m` (O(n²) in per-key bucket count, capped by
    * `maxBuckets` — the [[theilSen]] cost class); the winner is one
    * per-key rank window. Determinism: bucket values are exact DECIMALs,
    * the m-term distance is one fixed-order IEEE expression rounded to
    * 9 dp BEFORE the rank (ties → earliest positions).
    */
  def motifDiscovery(events: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String, stepSeconds: Long = 3600L,
                     m: Int = 4, maxBuckets: Int = 256): DataFrame = {
    require(m >= 2 && m <= 16, s"need m in [2,16], got $m")
    require(maxBuckets >= 2 * m, s"need maxBuckets >= 2m, got $maxBuckets")
    val idx = indexedBuckets(events, keyCol, tsCol, valueCol, stepSeconds, maxBuckets)
      .select(col(keyCol).as("k"), col("bucket"), col("t"), col("v"))
    val w2 = Window.partitionBy(col("k")).orderBy(col("t"))
    val leadCols = (0 until m).map(i =>
      (if (i == 0) col("v") else lead(col("v"), i).over(w2)).as(s"v$i"))
    val sub = idx.select(col("k") +: col("t") +: leadCols: _*)
      .filter((0 until m).map(i => col(s"v$i").isNotNull).reduce(_ && _))
    val nw = sub.groupBy("k").agg(count(lit(1)).as("n_windows"))
    val d2 = (0 until m).map { i =>
      val d = col(s"a.v$i").cast("double") - col(s"b.v$i").cast("double")
      d * d
    }.reduce(_ + _)
    val pairs = sub.as("a").join(sub.as("b"),
        col("a.k") === col("b.k") && col("b.t") >= col("a.t") + m)
      .select(col("a.k").as("k"), col("a.t").as("pos_a"),
        col("b.t").as("pos_b"), q9(d2).as("dist2"))
    val rw = Window.partitionBy(col("k"))
      .orderBy(col("dist2").asc, col("pos_a").asc, col("pos_b").asc)
    pairs.withColumn("rn", row_number().over(rw)).filter(col("rn") === 1)
      .join(nw, "k")
      .select(col("k").as(keyCol), col("n_windows"), col("pos_a"),
        col("pos_b"), q6(col("dist2")).as("dist2"))
  }

  /** Spectral entropy per key: Shannon entropy of the normalized power
    * spectrum from [[dftSpectrum]]'s harmonics — one number separating
    * periodic series (energy in one harmonic → entropy ≈ 0) from
    * noise-like ones (flat spectrum → entropy ≈ ln k). The
    * predictability gate before fitting seasonal models. Cost:
    * [[dftSpectrum]] plus two key-keyed aggregates over k·|keys| rows.
    * Determinism: 6-dp amplitudes → 9-dp squared powers (DECIMAL
    * totals), per-harmonic entropy terms 9-dp-rounded and
    * DECIMAL-summed; an all-zero spectrum reports 0 entropy.
    */
  def spectralEntropy(events: DataFrame, keyCol: String, tsCol: String,
                      valueCol: String, harmonics: Int = 4): DataFrame = {
    val spec = dftSpectrum(events, keyCol, tsCol, valueCol, harmonics)
      .select(col("k"),
        q9(col("amplitude") * col("amplitude")).as("p2"))
    val tot = spec.groupBy("k").agg(
      count(lit(1)).as("n_harmonics"),
      sum(col("p2").cast("decimal(28,9)")).as("tot"))
    val p = col("p2") / col("tot").cast("double")
    spec.join(tot, "k")
      .select(col("k"), col("n_harmonics"),
        when(col("tot") > 0 && col("p2") > 0, -(p * log(p)))
          .otherwise(lit(0.0)).as("term"))
      .groupBy("k", "n_harmonics")
      .agg(sum(round(col("term"), 9).cast("decimal(28,9)")).as("h"))
      .select(col("k").as(keyCol), col("n_harmonics"),
        q6(col("h").cast("double")).as("spectral_entropy"),
        round(col("h").cast("double") /
          log(col("n_harmonics").cast("double")), 6).as("norm_entropy"))
  }

  /** Permutation entropy per key (Bandt–Pompe, order 3): entropy of the
    * ordinal-pattern distribution over consecutive hourly triples, ties
    * broken by position — the model-free complexity measure that tells a
    * deterministic trend (one pattern, H = 0) from noise (all six
    * patterns, H = ln 6) without fitting anything. Cost: two per-key
    * `lead`s, one (key, pattern) count, one key aggregate — all
    * partitioned. Patterns compare exact DECIMAL bucket values, so the
    * code is engine-identical; entropy uses the corpus-entropy recipe
    * (ln n − Σc·ln c/n, 6-dp DECIMAL-routed).
    */
  def permutationEntropy(events: DataFrame, keyCol: String, tsCol: String,
                         valueCol: String, stepSeconds: Long = 3600L,
                         maxBuckets: Int = 4096): DataFrame = {
    val idx = indexedBuckets(events, keyCol, tsCol, valueCol, stepSeconds, maxBuckets)
      .select(col(keyCol).as("k"), col("t"), col("v").as("v0"))
    val w2 = Window.partitionBy(col("k")).orderBy(col("t"))
    val tri = idx
      .withColumn("v1", lead(col("v0"), 1).over(w2))
      .withColumn("v2", lead(col("v0"), 2).over(w2))
      .filter(col("v1").isNotNull && col("v2").isNotNull)
    def lt(a: Column, b: Column) =
      when(a, 1L).otherwise(0L).+(when(b, 1L).otherwise(0L))
    // rank of element i = #{j : (v_j, j) <lex (v_i, i)} — later equal
    // values rank higher, the standard Bandt–Pompe tie rule
    val r0 = lt(col("v1") < col("v0"), col("v2") < col("v0"))
    val r1 = lt(col("v0") <= col("v1"), col("v2") < col("v1"))
    val r2 = lt(col("v0") <= col("v2"), col("v1") <= col("v2"))
    val codes = tri.select(col("k"),
        (r0 * 9L + r1 * 3L + r2).as("code"))
      .groupBy("k", "code").agg(count(lit(1)).as("c"))
    codes.groupBy("k").agg(
        sum(col("c")).as("n_triples"),
        count(lit(1)).as("n_patterns"),
        sum(round(col("c") * log(col("c")), 6).cast("decimal(18,6)"))
          .as("sclogc"))
      .select(col("k").as(keyCol), col("n_triples"), col("n_patterns"),
        round(log(col("n_triples")) -
          col("sclogc").cast("double") / col("n_triples"), 6)
          .as("perm_entropy"),
        round((log(col("n_triples")) -
          col("sclogc").cast("double") / col("n_triples")) /
          log(lit(6.0)), 6).as("norm_entropy"))
  }

  /** One-sided CUSUM drift scan per key (Page 1954): over the hourly
    * deviations from the key's own mean, the upward excursion
    * S⁺ = max_t (P_t − min_{i≤t} P_i) and downward S⁻ = max_t
    * (max_{i≤t} P_i − P_t) of the prefix sum P — the sequential drift
    * detector that fires on a sustained small shift long before a
    * per-point z-score does. The recursive max(0, ·) form rewrites to
    * prefix-minus-running-extremum, so it is two per-key ordered
    * windows, no iteration. Alarm when the excursion exceeds
    * `h` × the key's deviation σ.
    *
    * Determinism: bucket values ride DECIMAL; deviations are
    * 6-dp-rounded DECIMALs so every prefix sum is exact regardless of
    * accumulation order; σ comes from the exact-moments recipe. All
    * windows are key-partitioned.
    */
  def cusumScan(events: DataFrame, keyCol: String, tsCol: String,
                valueCol: String, h: Double = 4.0,
                stepSeconds: Long = 3600L): DataFrame = {
    require(h > 0, s"need h > 0, got $h")
    val b = bucketize(events, keyCol, tsCol, valueCol, stepSeconds)
      .filter(col("v").isNotNull)
      .select(col(keyCol).as("k"), col("bucket"), col("v"))
    val stats = b.groupBy("k").agg(
      count(lit(1)).as("n_buckets"),
      sum(col("v")).cast("decimal(38,6)").as("sv"),
      sum((col("v") * col("v")).cast("decimal(38,12)")).cast("double")
        .as("svv"))
    val withMean = b.join(stats, "k")
      .select(col("k"), col("bucket"), col("n_buckets"), col("svv"),
        col("sv"),
        // DECIMAL(24,12) routing before the 6-dp round: v − mean can
        // land exactly on a 6-dp half boundary, where the engines'
        // double-rounding disagrees (the resampleInterpolate discipline)
        q6(col("v").cast("double") -
          col("sv").cast("double") / col("n_buckets").cast("double"))
          .cast("decimal(18,6)").as("dev"))
    val wOrd = Window.partitionBy(col("k")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = withMean
      .withColumn("pfx", sum(col("dev")).over(wOrd))
      .withColumn("runmin", min(col("pfx")).over(wOrd))
      .withColumn("runmax", max(col("pfx")).over(wOrd))
    // the alarm compares 6-dp-ROUNDED excursions against the rounded σ
    // (membership-decision discipline: the boundary verdict must not
    // hinge on a last-ulp libm difference)
    p.groupBy(col("k"), col("n_buckets"), col("sv"), col("svv"))
      .agg(max((col("pfx") - col("runmin")).cast("double")).as("up"),
        max((col("runmax") - col("pfx")).cast("double")).as("down"))
      .select(col("k"), col("n_buckets"),
        round(col("up"), 6).as("cusum_up"),
        round(col("down"), 6).as("cusum_down"),
        q6(sqrt(greatest(
          col("svv") / col("n_buckets").cast("double") -
          (col("sv").cast("double") / col("n_buckets").cast("double")) *
          (col("sv").cast("double") / col("n_buckets").cast("double")),
          lit(0.0)))).as("sigma"))
      .select(col("k").as(keyCol), col("n_buckets"), col("cusum_up"),
        col("cusum_down"), col("sigma"),
        (greatest(col("cusum_up"), col("cusum_down")) >
          lit(h) * col("sigma")).as("alarm"))
  }

  /** Mann–Kendall trend test per key: S = Σ_{i<j} sign(v_j − v_i) over
    * the observed hourly buckets, tie-corrected variance
    * Var(S) = (n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)) / 18, and the
    * continuity-corrected normal statistic z — the nonparametric "is
    * there a monotone trend" companion to [[theilSen]]'s "how steep"
    * (Mann 1945; Kendall 1975). Agreeing signs of slope (ts_theil_sen)
    * and z make a defensible trend call without distribution
    * assumptions.
    *
    * Scale shape: the pair term is the [[theilSen]] per-key equi-self-
    * join, O(n²) in per-key bucket count capped by `maxBuckets`; the tie
    * term is one (key, value) hash aggregate. Determinism: bucket values
    * are exact DECIMALs so every sign and both S and the tie term are
    * exact integers; Var(S) and z are single fixed-order IEEE
    * expressions of exact integers, DECIMAL-routed before the 6-dp
    * round.
    */
  def mannKendall(events: DataFrame, keyCol: String, tsCol: String,
                  valueCol: String, stepSeconds: Long = 3600L,
                  maxBuckets: Int = 512): DataFrame = {
    require(maxBuckets >= 2, s"need maxBuckets >= 2, got $maxBuckets")
    val idx = indexedBuckets(events, keyCol, tsCol, valueCol, stepSeconds, maxBuckets)
      .select(col(keyCol).as("k"), col("t"), col("v"))
      // 3 consumers (both self-join sides + ties) — the theilSen cut
      .localCheckpoint()
    val pairs = idx.as("a").join(idx.as("b"),
        col("a.k") === col("b.k") && col("a.t") < col("b.t"))
      .select(col("a.k").as("k"),
        signum((col("b.v") - col("a.v")).cast("double")).cast("long").as("sgn"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_pairs"), sum(col("sgn")).as("s_stat"))
    val ties = idx.groupBy(col("k"), col("v"))
      .agg(count(lit(1)).as("tj"))
      .groupBy("k")
      .agg(sum(col("tj")).as("nb"),
        sum(col("tj") * (col("tj") - 1) * (lit(2) * col("tj") + 5))
          .as("tie_term"))
    val varS = (col("nb") * (col("nb") - 1) * (lit(2) * col("nb") + 5) -
      col("tie_term")).cast("double") / lit(18.0)
    pairs.join(ties, "k")
      .select(col("k"), col("nb"), col("n_pairs"), col("s_stat"),
        varS.as("var_raw"))
      .select(col("k").as(keyCol), col("nb").as("n_buckets"),
        col("n_pairs"), col("s_stat"),
        q6(col("var_raw")).as("var_s"),
        q6(when(col("var_raw") > 0,
            when(col("s_stat") > 0,
              (col("s_stat") - 1).cast("double") / sqrt(col("var_raw")))
              .when(col("s_stat") < 0,
                (col("s_stat") + 1).cast("double") / sqrt(col("var_raw")))
              .otherwise(lit(0.0)))
          .otherwise(lit(null).cast("double"))).as("z"))
  }

  /** Wald–Wolfowitz runs test per key: classify each observed hourly
    * bucket as above/below the key's median (exact-median buckets drop,
    * the classic treatment), count the maximal same-side runs, and
    * compare against the randomness expectation
    * E[R] = 1 + 2·n₁n₂/n, Var[R] = 2n₁n₂(2n₁n₂−n) / (n²(n−1)) — "are
    * the residuals serially random, or does the series wander"
    * (the independence check [[autocorrByKey]] reads as a correlation).
    *
    * Scale shape: one per-key median aggregate broadcast back, one
    * key-partitioned ordered window for the run-boundary lag, one final
    * aggregate. Determinism: bucket values are exact 6-dp DECIMALs and
    * the median is DECIMAL-routed to 6 dp before the above/below/equal
    * membership decision, so the classification — and hence every run
    * count — is engine-exact; E[R] and z are fixed-order expressions of
    * exact integers, DECIMAL-routed before the 6-dp round.
    */
  def runsTest(events: DataFrame, keyCol: String, tsCol: String,
               valueCol: String, stepSeconds: Long = 3600L): DataFrame = {
    val b = bucketize(events, keyCol, tsCol, valueCol, stepSeconds)
      .filter(col("v").isNotNull)
      .select(col(keyCol).as("k"), col("bucket"),
        col("v").cast("double").as("v"))
    val med = b.groupBy("k").agg(
      count(lit(1)).as("n_buckets"),
      q6(expr("percentile(v, 0.5D)")).as("med"))
    val w = Window.partitionBy(col("k")).orderBy(col("bucket"))
    val cls = b.join(med, "k")
      .filter(col("v") =!= col("med"))
      .withColumn("above", col("v") > col("med"))
      .withColumn("brk",
        when(lag(col("above"), 1).over(w).isNull ||
          col("above") =!= lag(col("above"), 1).over(w), 1L).otherwise(0L))
    cls.groupBy(col("k"), col("n_buckets"), col("med"))
      .agg(sum(when(col("above"), 1L).otherwise(0L)).as("n_above"),
        sum(when(col("above"), 0L).otherwise(1L)).as("n_below"),
        sum(col("brk")).as("n_runs"))
      .select(col("k"), col("n_buckets"), col("med"), col("n_above"),
        col("n_below"), col("n_runs"),
        (col("n_above") + col("n_below")).as("n"),
        (lit(2) * col("n_above") * col("n_below")).as("nn2"))
      .select(col("k").as(keyCol), col("n_buckets"), col("med"),
        col("n_above"), col("n_below"), col("n_runs"),
        q6(lit(1.0) + col("nn2").cast("double") / col("n").cast("double"))
          .as("expected_runs"),
        q6(when(col("n") > 1 && col("nn2") > col("n"),
            (col("n_runs").cast("double") - (lit(1.0) +
              col("nn2").cast("double") / col("n").cast("double"))) /
            sqrt(col("nn2").cast("double") *
              (col("nn2") - col("n")).cast("double") /
              (col("n").cast("double") * col("n").cast("double") *
                (col("n") - 1).cast("double"))))
          .otherwise(lit(null).cast("double"))).as("z"))
  }

  /** Turning-point test per key: count interior buckets that are strict
    * local extrema (higher than both neighbors or lower than both) and
    * compare against the i.i.d. expectation E[T] = 2(n−2)/3,
    * Var[T] = (16n−29)/90 (Kendall & Stuart) — the third member of the
    * serial-randomness panel: [[runsTest]] sees level persistence,
    * [[autocorrByKey]] sees linear correlation, turning points see
    * local oscillation rate (too FEW = trending/sticky, too MANY =
    * alternating/overdifferenced). Neighbor ties produce no turning
    * point (strict inequalities).
    *
    * Scale shape: one key-partitioned ordered window (lag + lead), one
    * aggregate — no joins. Determinism: bucket values are exact
    * DECIMALs so every strict comparison — and hence T — is exact;
    * E[T] and z are fixed-order doubles of exact integers,
    * DECIMAL-routed before the 6-dp round.
    */
  def turningPoints(events: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String, stepSeconds: Long = 3600L): DataFrame = {
    val b = bucketize(events, keyCol, tsCol, valueCol, stepSeconds)
      .filter(col("v").isNotNull)
      .select(col(keyCol).as("k"), col("bucket"), col("v"))
    val w = Window.partitionBy(col("k")).orderBy(col("bucket"))
    val t = b
      .withColumn("pv", lag(col("v"), 1).over(w))
      .withColumn("nv", lead(col("v"), 1).over(w))
      .withColumn("tp", when(col("pv").isNotNull && col("nv").isNotNull &&
        ((col("v") > col("pv") && col("v") > col("nv")) ||
          (col("v") < col("pv") && col("v") < col("nv"))), 1L)
        .otherwise(0L))
    t.groupBy("k")
      .agg(count(lit(1)).as("n_buckets"), sum(col("tp")).as("n_turning"))
      .filter(col("n_buckets") >= 3)
      .select(col("k").as(keyCol), col("n_buckets"), col("n_turning"),
        q6(lit(2.0) * (col("n_buckets") - 2).cast("double") / lit(3.0))
          .as("expected"),
        q6((col("n_turning").cast("double") -
            lit(2.0) * (col("n_buckets") - 2).cast("double") / lit(3.0)) /
          sqrt((lit(16.0) * col("n_buckets").cast("double") - lit(29.0)) /
            lit(90.0))).as("z"))
  }

  /** Hurst exponent per key by rescaled-range (R/S) analysis: partition
    * the observed-bucket series into consecutive full windows of each
    * dyadic size in `windows`, compute each window's range-of-cumulative-
    * deviations over standard deviation, average R/S per size, and fit
    * H as the slope of log₂(mean R/S) against log₂(window size) —
    * H ≈ 0.5 random walk, > 0.5 persistent/trending, < 0.5 mean-
    * reverting (Hurst 1951; Mandelbrot & Wallis 1969). The long-memory
    * summary that [[autocorrByKey]]'s fixed lags cannot see.
    *
    * Scale shape: the series replicates once per window size (≤ 4×
    * maxBuckets rows per key), then two key×size×chunk-partitioned
    * windows (chunk stats + prefix sum) and three hash aggregates —
    * no joins, no quadratic term. Determinism: deviations are scaled by
    * the window size (w·v − Σv) so prefix sums and ranges stay exact
    * DECIMALs; the per-window variance is DECIMAL-routed to 9 dp before
    * the S > 0 membership decision; R/S, its per-size mean, and the
    * log₂ points are 6-dp-routed; the final OLS runs over exact-integer
    * x = log₂(w) with exact DECIMAL sums.
    */
  def hurstExponent(events: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String, stepSeconds: Long = 3600L,
                    windows: Seq[Int] = Seq(8, 16, 32, 64),
                    maxBuckets: Int = 512): DataFrame = {
    require(windows.size >= 2, "need at least two window sizes")
    windows.foreach { w =>
      require(w >= 4 && (w & (w - 1)) == 0, s"window sizes must be dyadic >= 4, got $w")
    }
    // exact log2 for the dyadic sizes (no libm in the x coordinate)
    val log2w = windows.map(w => (w, (31 - Integer.numberOfLeadingZeros(w)).toDouble))
      .foldLeft(lit(null).cast("double")) { case (acc, (w, x)) =>
        when(col("w") === w, lit(x)).otherwise(acc)
      }
    val idx = indexedBuckets(events, keyCol, tsCol, valueCol, stepSeconds, maxBuckets)
      .select(col(keyCol).as("k"), col("t"), col("v"))
    val nb = idx.groupBy("k").agg(count(lit(1)).as("n_buckets"))
    val rep = idx
      .select(col("k"), col("t"), col("v"),
        explode(array(windows.map(lit): _*)).as("w"))
      .withColumn("chunk", floor(col("t") / col("w")).cast("long"))
    val wc = Window.partitionBy(col("k"), col("w"), col("chunk"))
    val wo = wc.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val chunks = rep
      .withColumn("cnt", count(lit(1)).over(wc))
      .filter(col("cnt") === col("w"))
      .withColumn("sv", sum(col("v")).over(wc))
      // scaled deviation w·v − Σv = w·(v − mean): exact DECIMAL, so the
      // prefix sum and its range never touch IEEE accumulation order
      .withColumn("dev", col("w") * col("v") - col("sv"))
      .withColumn("pfx", sum(col("dev")).over(wo))
      .groupBy(col("k"), col("w"), col("chunk"), col("sv"))
      .agg((max(col("pfx")) - min(col("pfx"))).as("r_scaled"),
        sum((col("v") * col("v")).cast("decimal(38,12)")).as("svv"))
    val rs = chunks
      .withColumn("var9",
        q9(col("svv").cast("double") / col("w").cast("double") -
          (col("sv").cast("double") / col("w").cast("double")) *
          (col("sv").cast("double") / col("w").cast("double"))))
      .filter(col("var9") > 0)
      .withColumn("rs6",
        q6(col("r_scaled").cast("double") / col("w").cast("double") /
          sqrt(col("var9")))
          .cast("decimal(18,6)"))
      .groupBy(col("k"), col("w"))
      .agg(count(lit(1)).as("n_chunks"),
        (sum(col("rs6")).cast("double") / count(lit(1)).cast("double"))
          .as("mrs_raw"))
      .withColumn("mrs", q6(col("mrs_raw")).cast("decimal(18,6)"))
      .filter(col("mrs") > 0)
    val pts = rs.select(col("k"), col("n_chunks"), log2w.as("x"),
      q6((log(col("mrs").cast("double")) / log(lit(2.0)))).cast("decimal(18,6)").as("y"))
    pts.groupBy("k")
      .agg(count(lit(1)).as("n_sizes"),
        sum(col("n_chunks")).as("n_windows"),
        sum(col("x").cast("decimal(18,6)")).as("sx"),
        sum(col("y")).as("sy"),
        sum((col("x").cast("decimal(18,6)") * col("y"))
          .cast("decimal(38,12)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(18,6)")).as("sxx"))
      .filter(col("n_sizes") >= 2)
      .join(nb, "k")
      .select(col("k").as(keyCol), col("n_buckets"), col("n_sizes"),
        col("n_windows"),
        q6((col("n_sizes").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (col("n_sizes").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")))
          .as("hurst"))
  }

  /** Granger-style lead–lag test between two event-type count series:
    * does knowing last hour's `typeX` volume improve the AR(1) forecast
    * of `typeA`'s volume? Fits y_t ~ y_{t−1} (restricted) and
    * y_t ~ y_{t−1} + x_{t−1} (full) by exact OLS over the zero-filled
    * bucket grid and reports both R² plus the gain — the cheap
    * "is B a leading indicator of A" screen behind [[xcorr]]'s
    * symmetric correlation (Granger 1969, lag-1 F-test numerator).
    *
    * Determinism & scale: the series is ONE row per step over the
    * observed span (sequence-exploded spine, zero-filled), so the lag
    * window and the 10 moment sums run over time-range/step rows —
    * bounded by the calendar, not the data. All moments are exact
    * integers in DECIMAL(38,0) scaled by n (S_ab = n·Σab − Σa·Σb; the
    * n factor cancels in every R² ratio), so both engines divide
    * identical operands; R²s are 6-dp DECIMAL-routed, degenerate
    * variance → NULL via try_divide.
    */
  def grangerLite(events: DataFrame, typeA: String, typeX: String,
                  typeCol: String = "event_type", tsCol: String = "ts",
                  stepSeconds: Long = 3600L): DataFrame = {
    require(stepSeconds > 0, s"stepSeconds must be positive, got $stepSeconds")
    require(typeA != typeX, "need two distinct event types")
    val b = events.filter(col(typeCol).isin(typeA, typeX))
      .select(col(typeCol).as("t"),
        floor(unix_timestamp(col(tsCol)) / stepSeconds).as("bk"))
      .groupBy("t", "bk").agg(count(lit(1)).as("c"))
    val span = b.agg(min(col("bk")).as("lo"), max(col("bk")).as("hi"))
    val spine = span.select(explode(sequence(col("lo"), col("hi"))).as("bk"))
    val grid = spine
      .join(b.filter(col("t") === typeA).select(col("bk"), col("c").as("ya")),
        Seq("bk"), "left")
      .join(b.filter(col("t") === typeX).select(col("bk"), col("c").as("xb")),
        Seq("bk"), "left")
      .select(col("bk"), coalesce(col("ya"), lit(0L)).as("y"),
        coalesce(col("xb"), lit(0L)).as("x"))
    val w = Window.orderBy(col("bk"))
    val lagged = grid
      .withColumn("u", lag(col("y"), 1).over(w))
      .withColumn("v", lag(col("x"), 1).over(w))
      .filter(col("u").isNotNull)
    def dsum(c: Column) = sum(c.cast("decimal(38,0)"))
    val m = lagged.agg(count(lit(1)).as("n"),
      dsum(col("y")).as("sy"), dsum(col("u")).as("su"),
      dsum(col("v")).as("sv"), dsum(col("y") * col("y")).as("syy"),
      dsum(col("u") * col("u")).as("suu"),
      dsum(col("v") * col("v")).as("svv"),
      dsum(col("u") * col("y")).as("suy"),
      dsum(col("v") * col("y")).as("svy"),
      dsum(col("u") * col("v")).as("suv"))
    // n-scaled centered moments — exact DECIMAL integers
    def cS(ab: String, a: String, bb: String) =
      (col("n").cast("decimal(38,0)") * col(ab) - col(a) * col(bb))
        .cast("double")
    val s = m.select(col("n"),
      cS("syy", "sy", "sy").as("cyy"), cS("suu", "su", "su").as("cuu"),
      cS("svv", "sv", "sv").as("cvv"), cS("suy", "su", "sy").as("cuy"),
      cS("svy", "sv", "sy").as("cvy"), cS("suv", "su", "sv").as("cuv"))
    s.select(col("n").as("n_lags"),
        q6(try_divide(col("cuy") * col("cuy"), col("cuu") * col("cyy")))
          .as("r2_ar1"),
        q6(try_divide(
          (col("cuy") * col("cvv") - col("cvy") * col("cuv")) * col("cuy") +
            (col("cvy") * col("cuu") - col("cuy") * col("cuv")) * col("cvy"),
          (col("cuu") * col("cvv") - col("cuv") * col("cuv")) * col("cyy")))
          .as("r2_full"))
      .withColumn("r2_gain", q6(col("r2_full") - col("r2_ar1")))
  }

  /** Bollinger bands over each key's bucketed value series: rolling mean
    * ± `mult`·(rolling sample sd) over the trailing `window` OBSERVED
    * buckets, plus %B = (v − lower)/(upper − lower) — the canonical
    * volatility envelope (Bollinger 1992), and the anomaly gate that
    * adapts its threshold to local variance where [[rollingZscore]]
    * standardizes against it.
    *
    * Determinism: the window sums ride the DECIMAL(18,6) bucket value
    * exactly (Σv and Σv² are exact decimals — no float accumulation
    * order), so mean/sd/%B are each ONE double expression over
    * identical operands in both engines, DECIMAL(24,12)-routed out.
    * Buckets seen fewer than 2 times get NULL bands; a locally-flat
    * window (sd = 0 exactly, since the centered moment is an exact
    * decimal zero) gets NULL %B via try_divide.
    *
    * Scale shape: one hash aggregation + one per-key bounded-frame
    * window — partitioned on the key, frame length `window`, no
    * cross-key traffic.
    */
  def bollingerBands(events: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String, window: Int = 24,
                     mult: Double = 2.0,
                     stepSeconds: Long = 3600L): DataFrame = {
    require(window >= 2, s"need window >= 2, got $window")
    require(mult > 0.0, s"need mult > 0, got $mult")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(-(window - 1).toLong, Window.currentRow)
    // ×10⁶-scaled exact integer moments (priceElasticity discipline): a
    // flat window yields a centered moment of EXACTLY zero — sd 0, %B
    // NULL — never the sqrt of double rounding noise.
    val rolled = bucketize(events, keyCol, tsCol, valueCol, stepSeconds)
      .withColumn("x6", (col("v") * lit(1000000L)).cast("decimal(38,0)"))
      .withColumn("nw", count(col("x6")).over(w))
      .withColumn("sv6", sum(col("x6")).over(w))
      .withColumn("svv6", sum(col("x6") * col("x6")).over(w))
    val nd = col("nw").cast("double")
    val cxx = (col("nw").cast("decimal(38,0)") * col("svv6") -
      col("sv6") * col("sv6")).cast("double")
    val sd = when(col("nw") >= 2,
      sqrt(cxx / (nd * (nd - lit(1.0)))) / lit(1000000.0))
    val ma = col("sv6").cast("double") / nd / lit(1000000.0)
    val upper = ma + lit(mult) * sd
    val lower = ma - lit(mult) * sd
    rolled.select(col(keyCol), col("bucket"),
      col("v").cast("double").as("v"), col("nw").as("n_window"),
      q6(ma).as("ma"), q6(upper).as("upper"), q6(lower).as("lower"),
      q6(try_divide(col("v").cast("double") - lower, upper - lower))
        .as("pct_b"))
  }

  /** Dickey–Fuller unit-root statistic per key: OLS of Δv_t on v_{t−1}
    * (with intercept) over the observed bucket series — γ̂ near 0 means
    * a random walk (unit root: differences are the stationary object),
    * strongly negative t means mean-reversion. The stationarity gate in
    * front of any trend/correlation feature: regressing two random
    * walks on each other fabricates correlation, so a pipeline checks
    * DF first. Not augmented (no Δ lags) — the right first test at
    * bucket granularity, and the lag-free stat is exact-moment
    * computable.
    *
    * Determinism: x = v_{t−1} and y = Δv_t are exact DECIMAL(18,6)
    * bucket values, ×10⁶-scaled to exact integers; the five moment sums
    * and the n-scaled centered moments C_xx, C_xy, C_yy are EXACT
    * integers in DECIMAL(38,0) (the priceElasticity/grangerLite
    * discipline), the ×10⁶ cancels in γ̂ = C_xy/C_xx, and
    * t = γ̂ / √((C_yy − γ̂·C_xy)/((n−2)·C_xx)) — the n·scale factors
    * cancel — is one double expression over identical operands.
    * `reject_unit_root` compares the 6-dp-ROUNDED t to the 5% critical
    * value −2.86, so the boolean can't straddle an engine rounding
    * edge. Keys with n < 3 or zero lag-variance report NULLs.
    *
    * Scale shape: one hash aggregation, one per-key lag window, one
    * per-key moment aggregation — all key-partitioned, map-side
    * combined.
    */
  def dickeyFuller(events: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, stepSeconds: Long = 3600L): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val pairs = bucketize(events, keyCol, tsCol, valueCol, stepSeconds)
      .withColumn("xv", functions.lag(col("v"), 1).over(w))
      .filter(col("xv").isNotNull && col("v").isNotNull)
      .select(col(keyCol),
        (col("xv") * lit(1000000L)).cast("decimal(38,0)").as("x"),
        ((col("v") - col("xv")) * lit(1000000L)).cast("decimal(38,0)").as("y"))
    val m = pairs.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    def cS(ab: String, a: String, b: String) =
      (col("n").cast("decimal(38,0)") * col(ab) - col(a) * col(b))
        .cast("double")
    val c = m.select(col(keyCol), col("n"), cS("sxx", "sx", "sx").as("cxx"),
      cS("sxy", "sx", "sy").as("cxy"), cS("syy", "sy", "sy").as("cyy"))
    val gamma = try_divide(col("cxy"), col("cxx"))
    val tRaw = when(col("n") >= 3,
      try_divide(gamma,
        sqrt(greatest((col("cyy") - gamma * col("cxy")) /
          ((col("n").cast("double") - lit(2.0)) * col("cxx")), lit(0.0)))))
    c.select(col(keyCol), col("n").as("n_obs"),
        q6(gamma).as("gamma"), q6(tRaw).as("t_stat"))
      .withColumn("reject_unit_root",
        when(col("t_stat").isNotNull, col("t_stat") < lit(-2.86)))
  }
}
