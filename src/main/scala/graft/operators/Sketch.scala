package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Mergeable cardinality / frequency sketches, built as plain declarative
  * aggregations so they inherit Spark's map-side partial aggregation: each
  * executor folds its partitions into a tiny register table and only the
  * registers shuffle. That IS the sketch property that matters at 100 TB —
  * the shuffle payload is O(sketch size), not O(rows) — and it falls out
  * of `groupBy(bucket).agg(...)` for free; no custom Aggregator needed.
  *
  * Every hash here is an ANSI-expressible integer mix (code-point
  * polynomial mod 2³¹−1, Knuth multiplicative fold — the
  * [[graft.operators.Sampling.samplingHash]] pattern), so a DuckDB oracle
  * reproduces the registers bit-for-bit: the sketch contents are
  * *verified*, not just the estimates eyeballed. The reference has no
  * sketch surface (its COPY/INSERT warehouse is exact-only,
  * sql_queries.py:118–151); this is extension surface for corpus-scale
  * profiling where exact DISTINCT/GROUP BY are a full shuffle of the key
  * universe.
  */
object Sketch {

  private val P31 = 2147483647L // 2^31 - 1 (Mersenne)
  private val Knuth = 2654435761L
  private val M31 = 2147483648L // 2^31
  private val M32 = 4294967296L // 2^32

  /** Code-point polynomial hash of a string, mod 2³¹−1: fold(chars, 0,
    * (acc, c) -> (acc·131 + c) mod p). Character-exact (unlike
    * [[Fns.tokenHash]]'s cheap length/first/last mix). Since round 7 this
    * is the native codegen'd [[graft.expressions.StringHash31]] — the
    * interpreted HOF formulation (kept as [[stringHashHof]], the semantic
    * reference) evaluated three nested lambdas per character and
    * dominated the CMS bench profile. Requires
    * [[graft.expressions.GraftFunctions.register]] on the session (all
    * harness entry points do this).
    */
  def stringHash(s: Column): Column = Fns.callGraft("graft_strhash", s)

  /** Reference HOF formulation of [[stringHash]] — interpreted; tested
    * equal to the native expression in SketchSpec. Operands stay < 2³¹ so
    * acc·131 + c < 2³⁸ — no ANSI long overflow.
    */
  def stringHashHof(s: Column): Column =
    aggregate(
      transform(sequence(lit(1), length(s)), i => ascii(substring(s, i, lit(1)))),
      lit(0L),
      (acc, c) => (acc * 131L + c) % P31)

  /** Row i of a d-row CMS re-mixes the base hash with an affine map mod
    * 2³¹−1, then folds into [0, width) with the Knuth multiplicative
    * step — pairwise-independent enough for count estimation, and every
    * constant is a plain literal the oracle SQL repeats verbatim.
    */
  def cmsBucket(baseHash: Column, row: Int, width: Int): Column = {
    val a = 1103515245L * (row + 1) % P31
    val b = 12345L * (row + 1) % P31
    Fns.pmod(Fns.pmod(baseHash * a + b, lit(P31)) * Knuth, lit(M32)) % width
  }

  /** Count-Min Sketch build: one row per (sketch row, bucket) with the
    * summed hit count. A single explode (d small structs per input row)
    * feeding one hash aggregation — map-side combine shrinks each task's
    * contribution to ≤ d·width registers before the shuffle, so the
    * exchange moves kilobytes regardless of input size. Registers of two
    * corpora union-merge by `groupBy(row, bucket).sum(cnt)` — the sketch
    * is associative by construction.
    */
  def cmsBuild(df: DataFrame, keyCol: String, depth: Int, width: Int): DataFrame = {
    val h = stringHash(col(keyCol))
    df.select(explode(array((0 until depth).map(r =>
        struct(lit(r).as("row"), cmsBucket(h, r, width).as("bucket"))): _*)).as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-estimate lookup: for each probe key, min over the d rows of its
    * bucket counts (classic CMS upper bound: est ≥ true count, with
    * overshoot bounded by collisions). `probes` is tiny (the keys you ask
    * about) — broadcast side of the join against the register table.
    */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, keyCol: String,
                  depth: Int, width: Int): DataFrame = {
    val h = stringHash(col(keyCol))
    val probeBuckets = probes
      .select(col(keyCol), explode(array((0 until depth).map(r =>
        struct(lit(r).as("row"), cmsBucket(h, r, width).as("bucket"))): _*)).as("rb"))
      .select(col(keyCol), col("rb.row").as("row"), col("rb.bucket").as("bucket"))
    sketch.join(broadcast(probeBuckets), Seq("row", "bucket"))
      .groupBy(keyCol)
      .agg(min("cnt").as("est"))
  }

  /** Heavy hitters against a CMS: estimate every key of `candidates`
    * and keep the top `k` by estimated count (ties broken by key — a
    * total order, so the cut is reproducible). The candidate frame is
    * the batch stand-in for the streaming heap: at corpus scale pass a
    * bounded set (a sampled or pre-filtered key list), not the full key
    * universe — the sketch's value is answering FOR a candidate set
    * without re-scanning the stream, not enumerating it.
    * TakeOrdered top-k; inherits [[cmsEstimate]]'s broadcast of the
    * candidate buckets.
    */
  def cmsTopK(sketch: DataFrame, candidates: DataFrame, keyCol: String,
              depth: Int, width: Int, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    cmsEstimate(sketch, candidates.select(keyCol).distinct(), keyCol,
        depth, width)
      .orderBy(col("est").desc, col(keyCol))
      .limit(k)
  }

  /** 32-bit avalanche hash: Knuth multiplicative fold, then an
    * xor-shift-multiply-xor-shift finisher (murmur/xxhash fmix shape).
    * The finisher is what makes a *lowest-set-bit* statistic sound: an
    * odd multiplier mod 2³² preserves trailing-zero counts (tz(k·K) =
    * tz(k)), so without it HLL's ρ would read the raw key's structure,
    * not a uniform draw (observed: ~2× overestimate on sequential ids).
    * All steps are ANSI-expressible: xor, right-shift, one folded
    * multiply (second constant < 2³¹ so the product stays below 2⁶³).
    */
  def avalanche32(key: Column): Column = {
    val h1 = Sampling.samplingHash(key)
    val h2 = Fns.pmod(h1.bitwiseXOR(shiftright(h1, 16)) * 1597334677L, lit(M32))
    h2.bitwiseXOR(shiftright(h2, 16))
  }

  /** HyperLogLog distinct-count over a numeric key, m = 2^b buckets.
    *
    * Register build is pure integer arithmetic: h = Knuth-fold of the key
    * into [0, 2³²); bucket = h mod m; w = h div m (a (32−b)-bit suffix);
    * ρ(w) = position of the lowest set bit (1-based), Wmax+1 when w = 0 —
    * an unrolled CASE over the 32−b possible positions, identical in both
    * engines (no log2, no loops). One `groupBy(bucket).max(rho)` — again
    * map-side combined to m registers per task.
    *
    * The harmonic denominator Σ 2^−M_j is EXACT in IEEE double: every term
    * is a multiple of 2^−Wmax−1 and the sum has < 53 significand bits, so
    * summation order cannot change it — the one place a float survives
    * cross-engine hashing untouched. It is additionally exported as the
    * integer `sum_inv_scaled` = Σ·2^Wmax+1 for a float-free oracle row.
    */
  def hllRegisters(df: DataFrame, keyCol: String, b: Int): DataFrame =
    hllRegistersGrouped(df, keyCol, Nil, b)

  /** [[hllRegisters]] keyed by extra group columns — one register table
    * per group in a single aggregation (the per-group distinct-count
    * profile: users per event type, vocab per language shard …). The
    * shuffle payload grows to groups × m registers, still independent of
    * row count; a grouped EXACT distinct would shuffle every (group, key)
    * pair instead.
    */
  def hllRegistersGrouped(df: DataFrame, keyCol: String,
                          groupCols: Seq[String], b: Int): DataFrame = {
    val m = 1 << b
    val wBits = 32 - b
    val h = avalanche32(col(keyCol))
    val w = h.divide(lit(m)).cast("long")
    // rho = index of lowest set bit of w (1-based); wBits+1 when w == 0.
    val rho = (1 to wBits).foldLeft(when(w === 0, wBits + 1)) { (acc, j) =>
      acc.when(Fns.pmod(w, lit(1L << j)) === (1L << (j - 1)), j)
    }
    df.select(groupCols.map(col) ++ Seq(
        (h % m).cast("long").as("bucket"), rho.cast("long").as("rho")): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max("rho").as("max_rho"))
  }

  /** Collapse registers to the single HLL estimate row. Missing buckets
    * count as register 0 (`zeros` = m − observed non-zero buckets).
    * `est` is the raw HLL estimator α_m·m²/Σ with the standard
    * small-range linear-counting correction (E ≤ 2.5m and zeros > 0 →
    * m·ln(m/zeros)); rounded to 4 decimals — the only cross-engine float
    * risk is that final `ln`, and only in its last ulp.
    */
  def hllEstimate(registers: DataFrame, b: Int): DataFrame =
    hllEstimateGrouped(registers, Nil, b)

  /** [[hllEstimate]] per group — pairs with [[hllRegistersGrouped]];
    * emits one estimate row per group (empty `groupCols` reproduces the
    * single global row).
    */
  def hllEstimateGrouped(registers: DataFrame, groupCols: Seq[String],
                         b: Int): DataFrame = {
    val m = 1 << b
    val wBits = 32 - b
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val scale = math.pow(2.0, wBits + 1)
    registers
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("nonzero"),
        // 1/2^rho via an integer shift then one exact division — never
        // libm pow, whose last-ulp behavior is not pinned across engines.
        sum(lit(1.0) / expr("shiftleft(CAST(1 AS BIGINT), CAST(max_rho AS INT))"))
          .as("sum_inv_nz"))
      .select(groupCols.map(col) ++ Seq(
        lit(m).cast("long").as("m"),
        (lit(m) - col("nonzero")).cast("long").as("zeros"),
        // integer-exact register checksum: Σ 2^(Wmax+1−rho) over non-zero
        // buckets + zeros·2^(Wmax+1); matches Σ2^−M_j scaled by 2^(Wmax+1)
        ((col("sum_inv_nz") + (lit(m) - col("nonzero"))) * scale)
          .cast("long").as("sum_inv_scaled"),
        (round(
          when((lit(alpha * m * m) / (col("sum_inv_nz") + (lit(m) - col("nonzero")))) <= 2.5 * m
              && col("nonzero") < m,
            lit(m) * log(lit(m).cast("double") / (lit(m) - col("nonzero"))))
          .otherwise(lit(alpha * m * m) / (col("sum_inv_nz") + (lit(m) - col("nonzero"))))
          * lit(1e4)) / lit(1e4)).as("est")): _*)
  }

  /** Equi-width histogram quantile sketch: bin counts are the sketch
    * (mergeable by plain vector addition — union two corpora's histograms
    * with `groupBy(bin).sum(c)`), quantile estimates are the upper edge
    * of the first bin whose cumulative count reaches ⌈q·n⌉. Error ≤ one
    * bin width — the nBins-vs-accuracy trade every histogram sketch
    * makes, and unlike `percentile` the state is fixed-size regardless of
    * the value universe.
    *
    * One pass for (min, max, n) broadcast back (no driver action), one
    * binning aggregation (map-side combine → ≤ nBins rows shuffle), then
    * the cumulative walk over the nBins-row register table — the only
    * unpartitioned window here runs on ≤ nBins rows, never on data.
    * All arithmetic is fixed-order IEEE (bin = floor((x−lo)/w) clamped,
    * est = lo + (bin+1)·w), so an engine mirror reproduces the registers
    * and the estimates exactly.
    */
  def histQuantiles(df: DataFrame, valueCol: String, nBins: Int,
                    qs: Seq[Double]): DataFrame = {
    require(nBins > 0 && qs.nonEmpty, "need nBins > 0 and at least one q")
    // NULLs carry no value: exclude them from n AND the bins (min/max
    // ignore them anyway — counting them would inflate the top bin).
    val clean = df.filter(col(valueCol).isNotNull)
    val bounds = clean.agg(min(col(valueCol).cast("double")).as("lo"),
      max(col(valueCol).cast("double")).as("hi"), count(lit(1)).as("n"))
    val width = (col("hi") - col("lo")) / nBins
    // hi == lo (constant column): every row is bin 0 — without the guard
    // the 0/0 division makes NaN bins.
    val bin = when(col("hi") === col("lo"), lit(0L))
      .otherwise(least(floor((col(valueCol).cast("double") - col("lo")) / width)
        .cast("long"), lit(nBins - 1L)))
    val binned = clean.crossJoin(broadcast(bounds))
      .select(bin.as("bin"), col("lo"), col("hi"), col("n"))
      .groupBy("bin", "lo", "hi", "n").agg(count(lit(1)).as("c"))
    val cumW = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = binned.withColumn("cum", sum(col("c")).over(cumW))
    val session = df.sparkSession
    import session.implicits._
    val qdf = qs.toDF("q")
    qdf.crossJoin(cum)
      .filter(col("cum") >= ceil(col("q") * col("n")))
      .groupBy("q", "lo", "hi", "n")
      .agg(min(col("bin")).as("bin"))
      .select(col("q"),
        graft.functions.Fns.q6(col("lo") + (col("bin") + 1) * ((col("hi") - col("lo")) / nBins))
          .as("est"),
        col("bin"), col("n"))
  }

  /** Merge CMS sketches built with the SAME (depth, width): register-wise
    * count addition — the property that makes CMS a 100 TB citizen (build
    * per partition/day/stream-batch, fold in any tree shape, estimates
    * come out as if built in one pass; exact, not approximate, because
    * the registers are plain counts). One union + one register-sized
    * shuffle, cost independent of the data the sketches summarize.
    */
  def cmsMerge(sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "need at least one sketch")
    sketches.reduce(_ unionByName _)
      .groupBy("row", "bucket").agg(sum(col("cnt")).as("cnt"))
  }

  /** Join-size estimation from CMS register dot products (the AMS/CMS
    * classic): `|A ⋈ B| ≈ min_r Σ_b cntA[r,b]·cntB[r,b]` — every true
    * match lands in the same bucket on every row, so the estimate is an
    * UPPER bound (collisions only add); min over the d independent rows
    * tightens it. This is the cardinality-estimation primitive a planner
    * (or a pipeline deciding broadcast-vs-shuffle) runs from sketches
    * alone — neither table is scanned again, cost is register-sized.
    */
  def cmsJoinSizeEstimate(a: DataFrame, aKey: String, b: DataFrame, bKey: String,
                          depth: Int, width: Int): DataFrame = {
    val sa = cmsBuild(a, aKey, depth, width)
    val sb = cmsBuild(b, bKey, depth, width)
    // DECIMAL(38,0) dot product: with heavy-hitter keys at 100 TB scale
    // (per-bucket counts ~1e10) the BIGINT product overflows and ANSI
    // mode turns a loose estimate into a runtime error.
    sa.as("x").join(sb.as("y"), Seq("row", "bucket"))
      .groupBy("row")
      .agg(sum(col("x.cnt").cast("decimal(38,0)")
        * col("y.cnt").cast("decimal(38,0)")).as("dot"))
      .agg(min(col("dot")).cast("long").as("join_size_est"))
  }

  /** Merge HLL register tables with the SAME precision b: register-wise
    * MAX — the HLL merge identity (max of per-stream rank maxima == the
    * maxima of the concatenated stream). Grouped registers merge the same
    * way with the group key in the groupBy.
    */
  def hllMerge(groupCols: Seq[String], registers: DataFrame*): DataFrame = {
    require(registers.nonEmpty, "need at least one register table")
    registers.reduce(_ unionByName _)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("max_rho")).as("max_rho"))
  }

  /** Sketch-space set algebra: |A|, |B|, |A∪B| (register-wise max merge
    * — HLL union is EXACT in sketch space), then |A∩B| by
    * inclusion–exclusion and the Jaccard estimate — how
    * audience-overlap / corpus-overlap questions get answered at 100 TB
    * without ever materializing either key set. Each estimate is one
    * m-register aggregate; the three single-row results broadcast into
    * one output row. The intersection clamps at 0 (inclusion–exclusion
    * on noisy estimates can dip negative).
    */
  def hllSetOps(a: DataFrame, b: DataFrame, keyCol: String, bBits: Int): DataFrame = {
    val ra = hllRegisters(a, keyCol, bBits)
    val rb = hllRegisters(b, keyCol, bBits)
    val ru = hllMerge(Nil, ra, rb)
    def est(r: DataFrame, nm: String) =
      hllEstimate(r, bBits).select(col("est").as(nm))
    val inter =
      greatest(col("est_a") + col("est_b") - col("est_union"), lit(0.0))
    est(ra, "est_a").crossJoin(broadcast(est(rb, "est_b")))
      .crossJoin(broadcast(est(ru, "est_union")))
      .select(col("est_a"), col("est_b"), col("est_union"),
        (round(inter * lit(1e4)) / lit(1e4)).as("est_intersection"),
        (round(try_divide(inter, col("est_union")) * lit(1e4)) / lit(1e4))
          .as("jaccard_est"))
  }

  /** Bloom-filter calibration card: build an m-bit / k-hash Bloom filter
    * over `insert`'s keys with ANSI-expressible positions
    * ((key mod 2³¹)·K_j mod m, K_j = Knuth + 2j — odd multipliers), probe
    * it with keys NOT in the insert set (enforced by an anti-join), and
    * report the MEASURED false-positive rate beside the theoretical
    * (1 − (1 − 1/m)^kn)^k — the "is my m/k budget right for this
    * cardinality" sizing check before a [[BloomJoin.bloomSemiJoin]]-style
    * prune ships to a petabyte scan. Unlike the native XxHash64 filter
    * (whose bits only Spark can read), every bit here is reproducible by
    * any engine — the filter CONTENTS are oracle-verified.
    *
    * Scale shape: bits = one distinct over an exploded k×n position
    * stream (≤ m rows out — the sketch property); the probe side joins
    * positions against the ≤ m-row bit set (broadcast), then one
    * probe-keyed count and one scalar reduce. Theory term: fixed
    * ln/exp expression over exact counts, rounded once.
    */
  def bloomFprCard(insert: DataFrame, probe: DataFrame,
                   insertKeyCol: String, probeKeyCol: String,
                   mBits: Int = 16384, k: Int = 3): DataFrame = {
    require(mBits >= 2, s"need mBits >= 2, got $mBits")
    require(k >= 1 && k <= 8, s"need k in [1,8], got $k")
    val ins = insert.select(col(insertKeyCol).cast("long").as("key"))
      .filter(col("key").isNotNull).distinct()
    val prb = probe.select(col(probeKeyCol).cast("long").as("key"))
      .filter(col("key").isNotNull).distinct()
      .join(ins, Seq("key"), "left_anti") // true negatives only
    def positions(df: DataFrame) = df.select(col("key"),
        explode(array((0 until k).map(j =>
          pmod(pmod(col("key"), lit(M31)) * (Knuth + 2L * j), lit(mBits.toLong))
        ): _*)).as("pos"))
    val bits = positions(ins).select("pos").distinct()
    val nIns = ins.agg(count(lit(1)).as("n_inserted"))
    val nBits = bits.agg(count(lit(1)).as("bits_set"))
    val hitCounts = positions(prb)
      .join(broadcast(bits), Seq("pos"), "left_semi")
      .groupBy("key").agg(count(lit(1)).as("hits"))
    val fp = prb.join(hitCounts, Seq("key"), "left")
      .agg(count(lit(1)).as("n_probes"),
        sum(when(coalesce(col("hits"), lit(0L)) === k, 1L).otherwise(0L))
          .as("n_false_pos"))
    val kn = lit(k.toDouble) * col("n_inserted").cast("double")
    val theory = exp(lit(k.toDouble) *
      log(lit(1.0) - exp(kn * log(lit(1.0) - lit(1.0 / mBits)))))
    fp.crossJoin(broadcast(nIns)).crossJoin(broadcast(nBits))
      .select(lit(mBits.toLong).as("m_bits"), lit(k.toLong).as("k_hashes"),
        col("n_inserted"), col("bits_set"),
        graft.functions.Fns.q6(col("bits_set").cast("double") / mBits.toDouble)
          .as("fill_ratio"),
        col("n_probes"), col("n_false_pos"),
        graft.functions.Fns.q6(try_divide(col("n_false_pos").cast("double"),
          col("n_probes").cast("double"))).as("measured_fpr"),
        round(theory, 6).as("theoretical_fpr"))
  }

  /** KMV (K-minimum-values) distinct-count calibration card — the third
    * distinct-estimator family beside [[hllRegisters]] (fixed registers)
    * and exact counting: hash every key with [[avalanche32]], keep the
    * k smallest DISTINCT hash values, and estimate D ≈ (k−1)·2³²/h₍ₖ₎
    * (Bar-Yossef et al., "Counting distinct elements in a data stream",
    * public literature). KMV's edge over HLL is MERGEABILITY UNDER
    * INTERSECTION: two k-min sets intersect/union directly, where HLL
    * needs inclusion–exclusion ([[hllSetOps]]'s amplified error) — this
    * card prices the base estimator so that trade can be judged.
    *
    * Fewer than k distinct hashes means the k-min set IS the distinct
    * set and the count is exact (the CASE both engines mirror). The
    * k-min selection is a TakeOrdered: per-partition top-k, k·P rows to
    * the merge — no global sort. The exact-count leg (`n_exact`,
    * `rel_error`) is the calibration side only and is what a production
    * build at 100 TB drops, leaving one combine-heavy distinct shuffle
    * of 4-byte hashes.
    */
  def kmvCard(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    val keys = df.select(col(keyCol).cast("long").as("key"))
      .filter(col("key").isNotNull).distinct()
    val hs = keys.select(avalanche32(col("key")).as("h")).distinct()
    val st = hs.orderBy("h").limit(k)
      .agg(count(lit(1)).as("n_min"), max(col("h")).as("kth_min"))
    val exact = keys.agg(count(lit(1)).as("n_exact"))
    st.crossJoin(broadcast(exact))
      .select(lit(k.toLong).as("k"), col("n_min"), col("kth_min"),
        col("n_exact"),
        when(col("n_min") < k, col("n_min").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(M32.toDouble) /
            col("kth_min").cast("double")).as("e"))
      .select(col("k"), col("n_min"), col("kth_min"), col("n_exact"),
        round(col("e"), 6).as("est_distinct"),
        graft.functions.Fns.q6(try_divide(col("e"), col("n_exact").cast("double")) - 1.0)
          .as("rel_error"))
  }

  /** Count-Sketch ±1 sign for row `r`: an INDEPENDENT hash round over
    * the same base key hash — its own (a, b) pair (row offset +101) AND
    * the repo's second multiplier 2246822519 (ADVICE: draws that must be
    * independent never share both the affine inner chain and the outer
    * multiplier), then the low bit → {−1, +1}.
    */
  def csSign(baseHash: Column, row: Int): Column = {
    val a = 1103515245L * (row + 101) % P31
    val b = 12345L * (row + 101) % P31
    lit(1L) - lit(2L) *
      (Fns.pmod(Fns.pmod(baseHash * a + b, lit(P31)) * 2246822519L,
        lit(M32)) % 2)
  }

  /** Count Sketch build (Charikar–Chen–Farach-Colton 2002): like
    * [[cmsBuild]] but each increment carries a ±1 sign, so collisions
    * CANCEL in expectation instead of always inflating — the estimator
    * is unbiased (CMS is an upper bound) and survives signed updates
    * (deletions, CDC diffs), which a CMS cannot. Same register/shuffle
    * shape: one d-struct explode, one (row, bucket) hash aggregation
    * with map-side combine, ≤ d·width rows out; registers of two
    * corpora union-merge by summing `cnt` (signed sums are associative
    * — the merge IS the build of the union, proved by the registered
    * query's oracle).
    */
  def countSketchBuild(df: DataFrame, keyCol: String, depth: Int,
                       width: Int): DataFrame = {
    val h = stringHash(col(keyCol))
    df.select(explode(array((0 until depth).map(r =>
        struct(lit(r).as("row"), cmsBucket(h, r, width).as("bucket"),
          csSign(h, r).as("sign"))): _*)).as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(sum(col("rb.sign")).as("cnt"))
  }

  /** Count-Sketch point estimate: per probe key the MEDIAN over the d
    * rows of sign_r · cnt[r, bucket_r] — the median (use odd `depth`)
    * kills the unbounded two-sided collision noise a mean would pass
    * through. Registers the probe never touched count as 0 (left join +
    * coalesce). The per-key median is an exact integer order statistic
    * over d values (sort_array + element_at — d is a constant, the
    * array never scales with data), engine-identical.
    */
  def countSketchEstimate(sketch: DataFrame, probes: DataFrame,
                          keyCol: String, depth: Int,
                          width: Int): DataFrame = {
    require(depth % 2 == 1, s"need odd depth for an integer median, got $depth")
    val h = stringHash(col(keyCol))
    val probeBuckets = probes
      .select(col(keyCol), explode(array((0 until depth).map(r =>
        struct(lit(r).as("row"), cmsBucket(h, r, width).as("bucket"),
          csSign(h, r).as("sign"))): _*)).as("rb"))
      .select(col(keyCol), col("rb.row").as("row"),
        col("rb.bucket").as("bucket"), col("rb.sign").as("sign"))
    broadcast(probeBuckets).join(sketch, Seq("row", "bucket"), "left")
      .select(col(keyCol),
        (col("sign") * coalesce(col("cnt"), lit(0L))).as("est_r"))
      .groupBy(keyCol)
      .agg(element_at(sort_array(collect_list(col("est_r"))),
        (depth + 1) / 2).as("est"))
  }

  /** Permutation `p` of the 16-permutation ANSI MinHash family: the
    * affine map `(x·A_p + B_p) mod 2³¹−1` with `A_p = 1103515245·(p+1)
    * mod p31`, `B_p = 12345·(p+1) mod p31` — the [[cmsBucket]] constant
    * convention, so an oracle rebuilds every register bit-for-bit.
    * Shared with the Dedup MinHash cards (reference: the MinHash LSH
    * calibration discipline of Dedup.lshCalibrationCurve).
    */
  def minhashPerm(x: Column, p: Column): Column =
    Fns.pmod(x * Fns.pmod(lit(1103515245L) * (p + lit(1L)), lit(P31)) +
      Fns.pmod(lit(12345L) * (p + lit(1L)), lit(P31)), lit(P31))

  private def registersFromShingles(gsh: DataFrame): DataFrame =
    gsh.select(col("g"), stringHash(col("shingle")).as("x"))
      .withColumn("p", explode(sequence(lit(0L), lit(15L))))
      .select(col("g"), col("p"), minhashPerm(col("x"), col("p")).as("h"))
      .groupBy("g", "p").agg(min(col("h")).as("m"))

  /** Per-group 16-register MinHash signature table (g, p, m) — the
    * MERGEABLE STATE behind [[minhashUnionCard]]. Registers of any two
    * corpora (micro-batches, shards, days) fold with [[minhashMerge]]
    * and the result is bit-identical to building the signature over the
    * concatenated corpus — the property the StreamingSpec fold test
    * executes (each batch's partial registers min-folded into running
    * state ≡ the one-shot build).
    */
  def minhashRegisters(docs: DataFrame, groupCol: String = "source",
                       textCol: String = "text"): DataFrame =
    registersFromShingles(
      docs.select(col(groupCol).as("g"), Fns.tokens(col(textCol)).as("toks"))
        // Project barrier under the Generate (Fns.shingles contract)
        .select(col("g"), explode(Fns.shingles(col("toks"), 3)).as("shingle"))
        .distinct())

  /** Register-min fold of MinHash signature states: `min` is
    * associative, commutative, and idempotent, so any merge tree —
    * streaming micro-batches, a shard reduce, re-merging overlapping
    * corpora — lands on the same registers.
    */
  def minhashMerge(states: DataFrame*): DataFrame =
    states.reduce(_ unionByName _).groupBy("g", "p").agg(min("m").as("m"))

  /** Sketch-driven winsorized mean per group: estimate the pLo/pHi
    * quantile cutoffs from a per-group `nBins` equi-width histogram (the
    * [[histQuantiles]] estimator — bin upper edge at the target rank,
    * error ≤ one bin width), clamp every value into [cut_lo, cut_hi],
    * and report the robust mean beside the raw one. This is how a
    * 100 TB metric pipeline tames heavy tails WITHOUT an exact quantile
    * (which needs a per-group sort): two scans and a bounded
    * (group × nBins) aggregate, versus the textbook winsorize that
    * materializes a global rank. The (group, bin) window runs over at
    * most nBins rows per group — bounded domain, never data-sized.
    *
    * Determinism: bin arithmetic is closed-form IEEE on exact bounds;
    * clamped values are 6-dp-rounded into DECIMAL(28,6) and summed
    * order-free; both means divide by the same exact count.
    */
  def winsorizedMeanCard(df: DataFrame, groupCol: String, valueCol: String,
                         nBins: Int = 64, pLo: Double = 0.05,
                         pHi: Double = 0.95): DataFrame = {
    require(nBins > 0, s"need nBins > 0, got $nBins")
    require(0.0 <= pLo && pLo < pHi && pHi <= 1.0,
      s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val clean = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"))
    val bounds = clean.groupBy("g").agg(min(col("v")).as("lo"),
      max(col("v")).as("hi"), count(lit(1)).as("n"))
    val width = (col("hi") - col("lo")) / nBins
    val bin = when(col("hi") === col("lo"), lit(0L))
      .otherwise(least(floor((col("v") - col("lo")) / width).cast("long"),
        lit(nBins - 1L)))
    val binned = clean.join(broadcast(bounds), "g")
      .select(col("g"), bin.as("bin"), col("lo"), col("hi"), col("n"))
      .groupBy("g", "bin", "lo", "hi", "n").agg(count(lit(1)).as("c"))
    val cumW = org.apache.spark.sql.expressions.Window.partitionBy("g")
      .orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = binned.withColumn("cum", sum(col("c")).over(cumW))
    def cutAt(p: Double, name: String) =
      cum.filter(col("cum") >= ceil(lit(p) * col("n")))
        .groupBy("g", "lo", "hi").agg(min(col("bin")).as("bin"))
        .select(col("g"),
          graft.functions.Fns.q6(col("lo") + (col("bin") + 1) *
            ((col("hi") - col("lo")) / nBins)).as(name))
    // Boundary percentiles are exact no-ops, not histogram estimates:
    // cutAt returns the occupied bin's UPPER edge, so pLo=0 would still
    // clamp every value in the lowest bin upward. At p=0 (p=1) the cut
    // is the group's exact min (max) — unrounded, so the clamp is the
    // identity on every value.
    val cutLo = if (pLo <= 0.0) bounds.select(col("g"), col("lo").as("cut_lo"))
                else cutAt(pLo, "cut_lo")
    val cutHi = if (pHi >= 1.0) bounds.select(col("g"), col("hi").as("cut_hi"))
                else cutAt(pHi, "cut_hi")
    val cuts = cutLo.join(cutHi, "g")
    val clamped = greatest(least(col("v"), col("cut_hi")), col("cut_lo"))
    def dsum(c: Column) = sum(round(c, 6).cast("decimal(28,6)"))
    clean.join(broadcast(cuts), "g")
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        min(col("cut_lo")).as("cut_lo"), min(col("cut_hi")).as("cut_hi"),
        dsum(col("v")).as("sv"), dsum(clamped).as("sw"))
      .select(col("g").as(groupCol), col("n"), col("cut_lo"), col("cut_hi"),
        graft.functions.Fns.q6(col("sv").cast("double") / col("n").cast("double"))
          .as("mean_raw"),
        graft.functions.Fns.q6(col("sw").cast("double") / col("n").cast("double"))
          .as("mean_winsorized"))
  }

  /** Grouped robust-statistics card from the [[winsorizedMeanCard]]
    * histogram pattern — trimmed mean, histogram median, and MAD
    * (median absolute deviation) per group, ALL without a per-group
    * sort:
    *  - cut_lo/cut_hi/median_est are histogram quantiles (bin upper
    *    edge at the target rank, error ≤ one bin width);
    *  - mean_trimmed averages only values INSIDE [cut_lo, cut_hi]
    *    (winsorize clamps outliers to the cut; trimming drops them —
    *    the two textbook robustifications, now both sketch-driven);
    *  - mad_est is the 0.5-quantile of a SECOND bounded histogram over
    *    |v − median_est|, whose bounds are CLOSED-FORM from
    *    (lo, hi, median_est) — no extra bounds scan; MAD is the robust
    *    scale estimate (×1.4826 ≈ σ under normality) that a 100 TB
    *    anomaly pipeline wants beside the robust location.
    *
    * Shape: four scans (bounds, value histogram, deviation histogram,
    * final aggregate), every intermediate bounded by (group × nBins).
    * Determinism: bin arithmetic is closed-form IEEE on exact
    * aggregates; cuts/median are 6-dp rounded; sums are DECIMAL(28,6);
    * mean_trimmed is NULL for the degenerate group whose trim window
    * captures no values (try_divide, mirrored by nullif in the oracle).
    */
  def robustStatsCard(df: DataFrame, groupCol: String, valueCol: String,
                      nBins: Int = 64, pLo: Double = 0.05,
                      pHi: Double = 0.95): DataFrame = {
    require(nBins > 0, s"need nBins > 0, got $nBins")
    require(0.0 <= pLo && pLo < pHi && pHi <= 1.0,
      s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val clean = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"))
    val bounds = clean.groupBy("g").agg(min(col("v")).as("lo"),
      max(col("v")).as("hi"), count(lit(1)).as("n"))
    val width = (col("hi") - col("lo")) / nBins
    val bin = when(col("hi") === col("lo"), lit(0L))
      .otherwise(least(floor((col("v") - col("lo")) / width).cast("long"),
        lit(nBins - 1L)))
    val binned = clean.join(broadcast(bounds), "g")
      .select(col("g"), bin.as("bin"), col("lo"), col("hi"), col("n"))
      .groupBy("g", "bin", "lo", "hi", "n").agg(count(lit(1)).as("c"))
    val cumW = org.apache.spark.sql.expressions.Window.partitionBy("g")
      .orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = binned.withColumn("cum", sum(col("c")).over(cumW))
    def cutAt(p: Double, name: String) =
      cum.filter(col("cum") >= ceil(lit(p) * col("n")))
        .groupBy("g", "lo", "hi").agg(min(col("bin")).as("bin"))
        .select(col("g"),
          graft.functions.Fns.q6(col("lo") + (col("bin") + 1) *
            ((col("hi") - col("lo")) / nBins)).as(name))
    // Boundary percentiles are exact no-ops on the trim window, same
    // special-case as [[winsorizedMeanCard]]: at pLo=0 (pHi=1) the cut
    // is the group's exact min (max) — trimming, which DROPS rows
    // outside the window, would otherwise lose up to a bin's worth of
    // mass at each boundary.
    val cutLo = if (pLo <= 0.0) bounds.select(col("g"), col("lo").as("cut_lo"))
                else cutAt(pLo, "cut_lo")
    val cutHi = if (pHi >= 1.0) bounds.select(col("g"), col("hi").as("cut_hi"))
                else cutAt(pHi, "cut_hi")
    val cuts = cutLo.join(cutHi, "g").join(cutAt(0.5, "median_est"), "g")
    val withCuts = clean.join(broadcast(cuts.join(bounds, "g")), "g")
    // Deviation histogram around the median estimate. median_est is a
    // 6-dp-rounded bin edge, so it can sit an epsilon outside [lo, hi]
    // — the least(bin, nBins-1) guard absorbs the overshoot exactly as
    // the value histogram's does.
    val dHi = greatest(col("median_est") - col("lo"),
      col("hi") - col("median_est"))
    val dev = abs(col("v") - col("median_est"))
    val dBin = when(dHi <= 0.0, lit(0L))
      .otherwise(least(floor(dev / (dHi / nBins)).cast("long"),
        lit(nBins - 1L)))
    val dBinned = withCuts
      .select(col("g"), dBin.as("bin"), dHi.as("dhi"), col("n"))
      .groupBy("g", "bin", "dhi", "n").agg(count(lit(1)).as("c"))
    val dCum = dBinned.withColumn("cum", sum(col("c")).over(cumW))
    val mad = dCum.filter(col("cum") >= ceil(lit(0.5) * col("n")))
      .groupBy("g", "dhi").agg(min(col("bin")).as("bin"))
      .select(col("g"),
        graft.functions.Fns.q6((col("bin") + 1) * (col("dhi") / nBins)).as("mad_est"))
    def dsum(c: Column) = sum(round(c, 6).cast("decimal(28,6)"))
    val inTrim = col("v").between(col("cut_lo"), col("cut_hi"))
    withCuts
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        min(col("cut_lo")).as("cut_lo"), min(col("cut_hi")).as("cut_hi"),
        min(col("median_est")).as("median_est"),
        dsum(col("v")).as("sv"),
        dsum(when(inTrim, col("v"))).as("st"),
        sum(when(inTrim, 1L).otherwise(0L)).as("n_trimmed"))
      .join(mad, "g")
      .select(col("g").as(groupCol), col("n"), col("cut_lo"), col("cut_hi"),
        col("median_est"),
        graft.functions.Fns.q6(col("sv").cast("double") / col("n").cast("double"))
          .as("mean_raw"),
        graft.functions.Fns.q6(try_divide(col("st").cast("double"),
          col("n_trimmed").cast("double"))).as("mean_trimmed"),
        col("n_trimmed"), col("mad_est"))
  }

  /** MinHash register-min union card — the third mergeable-sketch fold
    * beside CMS register-ADD ([[cmsMerge]]) and HLL register-MAX
    * ([[hllMerge]]): a MinHash signature merges by elementwise MIN, and
    * the merged vector is EXACTLY the signature of the shingle-set
    * union (min over A ∪ B = min(min over A, min over B) — no
    * approximation in sketch space, the same closure property HLL union
    * has). That is what makes MinHash shippable at 100 TB: each
    * source/shard/day computes its 16-register signature independently,
    * a coordinator folds them with one tiny min-aggregate, and
    * source-vs-corpus similarity never touches the raw shingles again.
    *
    * Per group: its distinct-trigram-shingle count, the corpus-union
    * count, the signature-agreement estimate ĵ(group, corpus) =
    * #{p : m_g[p] = m_∪[p]}/16, and — because every group's shingle set
    * is a SUBSET of the union — the exact Jaccard |S_g|/|S_∪| the
    * estimate is calibrated against (containment makes the exact side
    * two counts instead of a pair join).
    *
    * Scale shape: one shingle explode + (group, shingle) distinct, then
    * everything is (group, p)- or p-keyed aggregation — the union fold
    * aggregates |G|·16 rows to 16, joined back via a 16-row broadcast;
    * no pair joins anywhere.
    */
  def minhashUnionCard(docs: DataFrame, groupCol: String = "source",
                       textCol: String = "text"): DataFrame = {
    // EAGER checkpoint: the (group, shingle) set feeds FOUR plan
    // branches (signatures, agreement, sizes, union count) — uncut,
    // each re-tokenizes the corpus (plan audit showed 4 parquet scans).
    // Eager rather than lazy because two consumers sit under broadcast
    // exchanges, the materialization race documented at
    // Dedup.dedupClusters.
    val gsh = docs.select(col(groupCol).as("g"), Fns.tokens(col(textCol)).as("toks"))
      // Project barrier under the Generate (Fns.shingles contract)
      .select(col("g"), explode(Fns.shingles(col("toks"), 3)).as("shingle"))
      .distinct().localCheckpoint()
    val sigG = registersFromShingles(gsh)
    val sigU = sigG.groupBy("p").agg(min(col("m")).as("mu"))
    val agree = sigG.join(broadcast(sigU), "p")
      .groupBy("g")
      .agg(sum(when(col("m") === col("mu"), 1L).otherwise(0L)).as("n_agree"))
    val sizes = gsh.groupBy("g").agg(count(lit(1)).as("n_shingles"))
    val uSize = gsh.agg(count_distinct(col("shingle")).as("n_union"))
    sizes.join(agree, "g").crossJoin(broadcast(uSize))
      .select(col("g").as(groupCol), col("n_shingles"), col("n_union"),
        col("n_agree"),
        graft.functions.Fns.q6(col("n_agree").cast("double") / 16.0).as("est_jaccard"),
        graft.functions.Fns.q6(col("n_shingles").cast("double") /
          col("n_union").cast("double")).as("exact_jaccard"))
  }
}
