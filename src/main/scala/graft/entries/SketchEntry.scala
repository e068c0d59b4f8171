package graft
package entries

import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.operators.Sketch
import graft.operators.Sampling.samplingHashSql
import SparkEntry.{T, docToks}

/** The 14 `sketch_*` queries: mergeable count-min, count, HyperLogLog,
  * KMV, Bloom, histogram and MinHash sketches over the TPC-H, events and
  * documents tables, each declared once with its Spark frame beside the
  * DuckDB oracle it must equal. The oracles rebuild the sketch registers
  * bit for bit from the same ANSI integer hashes. The determinism rules
  * of [[SparkEntry]] apply to every entry.
  */
object SketchEntry {

  /** The `consts` VALUES rows `(r, a, b)` of a depth-`depth` CMS: the
    * per-row affine remix (a, b) = (1103515245·k, 12345·k) mod 2³¹−1 at
    * k = r + 1, as in [[Sketch.cmsBucket]]. `signed` appends the Count
    * Sketch's sign pair `(sa, sb)` at k = r + 101.
    */
  private def cmsConsts(depth: Int, signed: Boolean = false): String = {
    def ab(k: Int) = s"${1103515245L * k % 2147483647L}, ${12345L * k % 2147483647L}"
    (0 until depth).map(r =>
      s"($r, ${ab(r + 1)}" + (if (signed) s", ${ab(r + 101)}" else "") + ")").mkString(", ")
  }

  /** CTE `name(key, h)`: the code-point polynomial (acc·131 + c) mod
    * 2³¹−1 of each `key` of `from` — [[Sketch.stringHash]] in SQL, the
    * base hash of every CMS oracle.
    */
  private def keyHashCte(name: String, key: String, from: String): String =
    s"""$name AS (
       |  SELECT $key,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(length($key)),
       |        i -> ascii(substr($key, CAST(i + 1 AS INT), 1)))),
       |      (acc, c) -> (acc * 131 + c) % 2147483647) AS h
       |  FROM $from)""".stripMargin

  /** One width of the CMS sweep: the `kh`/`consts` bucket chain at `w`
    * buckets, estimates against the exact per-key counts of `ev`.
    */
  private def cmsSweepArm(w: Int): String =
    s"""SELECT CAST($w AS BIGINT) AS width,
       |  CAST(count(*) AS BIGINT) AS n_keys,
       |  CAST(round((CAST(sum(est - exact) AS DOUBLE) / count(*)
       |   ) * 1000000) / 1000000 AS DOUBLE) AS mean_over,
       |  CAST(max(est - exact) AS BIGINT) AS max_over,
       |  CAST(round((CAST(sum(CASE WHEN est = exact THEN 1
       |      ELSE 0 END) AS DOUBLE) / count(*)
       |   ) * 1000000) / 1000000 AS DOUBLE) AS frac_exact
       |FROM (
       |  SELECT kb.key, min(c.cnt) AS est, min(ex.exact) AS exact
       |  FROM (SELECT key, r,
       |        ((((h * a + b) % 2147483647) * 2654435761)
       |          % 4294967296) % $w AS bucket
       |      FROM kh CROSS JOIN consts) kb
       |  JOIN (SELECT kb2.r, kb2.bucket, count(*) AS cnt
       |      FROM ev e JOIN (SELECT key, r,
       |            ((((h * a + b) % 2147483647) * 2654435761)
       |              % 4294967296) % $w AS bucket
       |          FROM kh CROSS JOIN consts) kb2 ON e.key = kb2.key
       |      GROUP BY kb2.r, kb2.bucket) c
       |    ON kb.r = c.r AND kb.bucket = c.bucket
       |  JOIN (SELECT key, count(*) AS exact FROM ev GROUP BY 1) ex
       |    ON ex.key = kb.key
       |  GROUP BY kb.key)""".stripMargin

  /** One side of the CMS join-size oracle: the side's distinct keys, their
    * `kh` hash, width-1024 buckets and register counts `c<tag>`.
    */
  private def joinSizeSide(table: String, key: String, tag: String): String =
    s"""k$tag AS (SELECT DISTINCT CAST($key AS VARCHAR) AS k FROM $table),
       |${keyHashCte(s"kh$tag", "k", s"k$tag")},
       |kb$tag AS (
       |  SELECT k, r,
       |    ((((h * a + b) % 2147483647) * 2654435761) % 4294967296) % 1024
       |      AS bucket
       |  FROM kh$tag CROSS JOIN consts),
       |c$tag AS (
       |  SELECT kb.r, kb.bucket, count(*) AS cnt
       |  FROM $table e JOIN kb$tag kb ON CAST(e.$key AS VARCHAR) = kb.k
       |  GROUP BY kb.r, kb.bucket)""".stripMargin

  /** The unrolled ρ CASE arms over a `wBits`-bit register suffix `w`:
    * ρ(w) = 1-based position of the lowest set bit — no loops, no log2.
    */
  private def rhoCase(wBits: Int): String = (1 to wBits).map(j =>
    s"WHEN w % ${1L << j} = ${1L << (j - 1)} THEN $j").mkString(" ")

  /** The m = 64 HLL estimator over `agg(nonzero, s)`: zero registers, the
    * scaled harmonic sum, and the raw or linear-counting estimate rounded
    * to 4 dp, ending `FROM agg`. Shared by sketch_hll and
    * sketch_hll_grouped.
    */
  private val hll64Tail: String = {
    val alphaM2 = 0.709 * 64 * 64
    s"""  CAST(64 - nonzero AS BIGINT) AS zeros,
       |  CAST((s + (64 - nonzero)) * 134217728 AS BIGINT) AS sum_inv_scaled,
       |  round(CASE WHEN CAST('$alphaM2' AS DOUBLE) / (s + (64 - nonzero)) <= 160
       |               AND nonzero < 64
       |        THEN 64 * ln(CAST(64 AS DOUBLE) / (64 - nonzero))
       |        ELSE CAST('$alphaM2' AS DOUBLE) / (s + (64 - nonzero)) END
       |    * 10000) / 10000 AS est
       |FROM agg""".stripMargin
  }

  /** CTE `name(g, alias)`: each group's value at histogram quantile `q`
    * — the upper edge of the first bin whose cumulative count in `cm`
    * reaches ⌈q·n⌉, rounded to 6 dp.
    */
  private def histCut(name: String, alias: String, q: String): String =
    s"""$name AS (SELECT g,
       |        round((lo + (min(bin) + 1) * ((hi - lo) / 64)) * 1000000) / 1000000 AS $alias
       |      FROM cm WHERE cum >= ceil($q * n) GROUP BY g, lo, hi)""".stripMargin

  /** The per-`event_type` 64-bin histogram of `value` that
    * sketch_winsorized and sketch_robust_stats both open with: `clean(g,
    * v)`, bounds `b`, bins `bn`/`bc`, cumulative counts `cm`, and the
    * p05/p95 cuts `clo`/`chi`, in the Spark side's IEEE op order.
    */
  private val histCutCtes: String =
    s"""WITH clean AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
       |      FROM events WHERE value IS NOT NULL),
       |b AS (SELECT g, min(v) AS lo, max(v) AS hi,
       |        CAST(count(*) AS BIGINT) AS n FROM clean GROUP BY 1),
       |bn AS (SELECT c.g,
       |        CASE WHEN b.hi = b.lo THEN 0
       |          ELSE least(CAST(floor((c.v - b.lo)
       |            / ((b.hi - b.lo) / 64)) AS BIGINT), 63) END AS bin,
       |        b.lo, b.hi, b.n
       |      FROM clean c JOIN b ON b.g = c.g),
       |bc AS (SELECT g, bin, lo, hi, n, count(*) AS c
       |      FROM bn GROUP BY 1, 2, 3, 4, 5),
       |cm AS (SELECT g, bin, lo, hi, n,
       |        sum(c) OVER (PARTITION BY g ORDER BY bin
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM bc),
       |${histCut("clo", "cut_lo", "0.05")},
       |${histCut("chi", "cut_hi", "0.95")}""".stripMargin

  /** HLL set ops: the sketch_hll register/estimator chain at m = 1024,
    * instantiated per event-id cohort (last digit < 6, >= 4), union =
    * register-wise max, inclusion–exclusion on the three 4-dp estimates.
    */
  private val hllSetOpsOracle: String = {
    val m = 1024
    val wBits = 22
    val alphaM2 = 0.7213 / (1.0 + 1.079 / m) * m * m
    def reg(nm: String, cond: String) =
      s"""${nm}_h1 AS (SELECT ((event_id % 2147483648) * 2654435761)
         |    % 4294967296 AS h1 FROM events WHERE $cond),
         |${nm}_h2 AS (SELECT (xor(h1, h1 >> 16) * 1597334677)
         |    % 4294967296 AS h2 FROM ${nm}_h1),
         |${nm}_h AS (SELECT xor(h2, h2 >> 16) AS h FROM ${nm}_h2),
         |${nm}_wb AS (SELECT h % $m AS bucket, h // $m AS w FROM ${nm}_h),
         |${nm}_rho AS (SELECT bucket,
         |    CASE WHEN w = 0 THEN ${wBits + 1} ${rhoCase(wBits)} END AS rho
         |    FROM ${nm}_wb),
         |${nm}_reg AS (SELECT bucket, max(rho) AS max_rho
         |    FROM ${nm}_rho GROUP BY bucket)""".stripMargin
    def est(nm: String, src: String) =
      s"""${nm}_agg AS (SELECT count(*) AS nonzero,
         |    sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << max_rho)) AS s
         |    FROM $src),
         |${nm}_est AS (SELECT
         |    round(CASE WHEN CAST('$alphaM2' AS DOUBLE)
         |          / (s + ($m - nonzero)) <= ${2.5 * m} AND nonzero < $m
         |      THEN $m * ln(CAST($m AS DOUBLE) / ($m - nonzero))
         |      ELSE CAST('$alphaM2' AS DOUBLE) / (s + ($m - nonzero)) END
         |      * 10000) / 10000 AS est FROM ${nm}_agg)""".stripMargin
    s"""WITH ${reg("a", "event_id % 10 < 6")},
       |${reg("b", "event_id % 10 >= 4")},
       |u_reg AS (SELECT bucket, max(max_rho) AS max_rho FROM (
       |    SELECT * FROM a_reg UNION ALL SELECT * FROM b_reg)
       |    GROUP BY bucket),
       |${est("a", "a_reg")},
       |${est("b", "b_reg")},
       |${est("u", "u_reg")}
       |SELECT a_est.est AS est_a, b_est.est AS est_b,
       |  u_est.est AS est_union,
       |  round(greatest(a_est.est + b_est.est - u_est.est, 0.0) * 10000)
       |    / 10000 AS est_intersection,
       |  round((greatest(a_est.est + b_est.est - u_est.est, 0.0)
       |    / u_est.est) * 10000) / 10000 AS jaccard_est
       |FROM a_est CROSS JOIN b_est CROSS JOIN u_est""".stripMargin
  }

  val queries: Seq[Q] = Seq(
    // Count-Min Sketch built INCREMENTALLY: register tables for the pre-
    // and post-cutoff halves of the stream, union-merged by summing
    // counts, then probed for every distinct key. The oracle recomputes
    // the ONE-SHOT sketch from the same ANSI hash chain, so the
    // hash-match proves (a) the register contents bit-for-bit and
    // (b) merge(build(A), build(B)) == build(A ∪ B) — the sketch's
    // associativity contract. Estimates are exact here (width 32 ≥ key
    // cardinality ⇒ no collisions); CMS error bounds are covered in
    // SketchSpec with a deliberately undersized width.
    Q("sketch_cms", (s, dir) => {
      val e = T(s, dir, "events")
      val cutoff = lit("2024-01-20").cast("timestamp")
      val part1 = Sketch.cmsBuild(e.filter(col("ts") < cutoff), "event_type", 4, 32)
      val part2 = Sketch.cmsBuild(e.filter(col("ts") >= cutoff), "event_type", 4, 32)
      val merged = part1.unionByName(part2)
        .groupBy("row", "bucket").agg(sum("cnt").as("cnt"))
      Sketch.cmsEstimate(merged, e.select("event_type").distinct(), "event_type", 4, 32)
        .orderBy("event_type")
    },
      // One-shot CMS recomputed from the same ANSI hash chain (code-point
      // polynomial mod 2³¹−1, per-row affine remix, Knuth fold): counting
      // events through each key's (row, bucket) cells reproduces the
      // registers exactly, including cross-key collisions.
      s"""WITH consts(r, a, b) AS (VALUES ${cmsConsts(4)}),
         |${keyHashCte("kh", "event_type", "(SELECT DISTINCT event_type FROM events) k")},
         |kb AS (
         |  SELECT event_type, r,
         |    ((((h * a + b) % 2147483647) * 2654435761) % 4294967296) % 32 AS bucket
         |  FROM kh CROSS JOIN consts),
         |counts AS (
         |  SELECT kb.r, kb.bucket, count(*) AS cnt
         |  FROM events e JOIN kb ON e.event_type = kb.event_type
         |  GROUP BY kb.r, kb.bucket)
         |SELECT kb.event_type, min(c.cnt) AS est
         |FROM kb JOIN counts c ON kb.r = c.r AND kb.bucket = c.bucket
         |GROUP BY kb.event_type
         |ORDER BY kb.event_type""".stripMargin),

    // Count Sketch (signed CMS): same incremental split-merge contract as
    // sketch_cms, width 16 over ~12 keys so collisions are live — but
    // signed, so they cancel instead of inflating; estimate = median of
    // the 5 signed register reads. The hash-match proves register
    // contents AND merge(build(A), build(B)) == build(A ∪ B) for the
    // SIGNED sum.
    Q("sketch_countsketch", (s, dir) => {
      val e = T(s, dir, "events")
      val cutoff = lit("2024-01-20").cast("timestamp")
      val part1 = Sketch.countSketchBuild(e.filter(col("ts") < cutoff), "event_type", 5, 16)
      val part2 = Sketch.countSketchBuild(e.filter(col("ts") >= cutoff), "event_type", 5, 16)
      val merged = part1.unionByName(part2)
        .groupBy("row", "bucket").agg(sum("cnt").as("cnt"))
      Sketch.countSketchEstimate(merged, e.select("event_type").distinct(),
          "event_type", 5, 16)
        .orderBy("event_type")
    },
      // Count Sketch: one-shot rebuild of the same signed registers (merge
      // associativity is what the match proves); bucket chain as sketch_cms,
      // sign chain with its own (a, b) pair and the second multiplier;
      // median = quantile_disc 0.5 over the 5 signed reads (3rd of 5 —
      // exactly Spark's sorted element_at).
      s"""WITH consts(r, a, b, sa, sb) AS (VALUES ${cmsConsts(5, signed = true)}),
         |${keyHashCte("kh", "event_type", "(SELECT DISTINCT event_type FROM events) k")},
         |kb AS (
         |  SELECT event_type, r,
         |    ((((h * a + b) % 2147483647) * 2654435761) % 4294967296)
         |      % 16 AS bucket,
         |    1 - 2 * (((((h * sa + sb) % 2147483647) * 2246822519)
         |      % 4294967296) % 2) AS sign
         |  FROM kh CROSS JOIN consts),
         |regs AS (
         |  SELECT kb.r, kb.bucket, sum(kb.sign) AS cnt
         |  FROM events e JOIN kb ON e.event_type = kb.event_type
         |  GROUP BY 1, 2),
         |est AS (
         |  SELECT kb.event_type, kb.sign * coalesce(regs.cnt, 0) AS est_r
         |  FROM kb LEFT JOIN regs ON regs.r = kb.r AND regs.bucket = kb.bucket)
         |SELECT event_type, CAST(quantile_disc(est_r, 0.5) AS BIGINT) AS est
         |FROM est GROUP BY 1 ORDER BY event_type""".stripMargin),

    // CMS heavy hitters: top-20 users by estimated event count — 150
    // keys into 64 buckets, so collisions (and the min-over-rows bound)
    // are live, and the ranking is over ESTIMATES; integer-exact in both
    // engines, ties broken by key.
    Q("sketch_cms_topk", (s, dir) => {
      val e = T(s, dir, "events").select(col("user_id").cast("string").as("key"))
      val sk = Sketch.cmsBuild(e, "key", 4, 64)
      Sketch.cmsTopK(sk, e, "key", 4, 64, 20)
    },
      // Same ANSI hash chain as sketch_cms at width 64 over stringified
      // user ids, then the (est DESC, key) top-20 cut.
      s"""WITH consts(r, a, b) AS (VALUES ${cmsConsts(4)}),
         |keys AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events),
         |${keyHashCte("kh", "key", "keys")},
         |kb AS (
         |  SELECT key, r,
         |    ((((h * a + b) % 2147483647) * 2654435761) % 4294967296) % 64 AS bucket
         |  FROM kh CROSS JOIN consts),
         |ev AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
         |counts AS (
         |  SELECT kb.r, kb.bucket, count(*) AS cnt
         |  FROM ev e JOIN kb ON e.key = kb.key
         |  GROUP BY kb.r, kb.bucket)
         |SELECT kb.key, min(c.cnt) AS est
         |FROM kb JOIN counts c ON kb.r = c.r AND kb.bucket = c.bucket
         |GROUP BY kb.key
         |ORDER BY est DESC, key LIMIT 20""".stripMargin),

    // CMS width-error sweep: the calibration curve (lsh_curve's sibling)
    // that sizes the sketch — mean/max over-estimate and the exact-hit
    // share at 16/64/256 buckets against true counts.
    Q("sketch_cms_sweep", (s, dir) => {
      val e = T(s, dir, "events").select(col("user_id").cast("string").as("key"))
      val exact = e.groupBy("key").agg(count(lit(1)).as("exact"))
      def d6(c: org.apache.spark.sql.Column) =
        round(c.cast("decimal(24,12)"), 6).cast("double")
      Seq(16, 64, 256).map { w =>
        val sk = Sketch.cmsBuild(e, "key", 4, w)
        Sketch.cmsEstimate(sk, e.select("key").distinct(), "key", 4, w)
          .join(exact, "key")
          .agg(count(lit(1)).as("n_keys"),
            sum(col("est") - col("exact")).as("sover"),
            max(col("est") - col("exact")).as("max_over"),
            sum(when(col("est") === col("exact"), 1L).otherwise(0L))
              .as("nex"))
          .select(lit(w.toLong).as("width"), col("n_keys"),
            d6(col("sover").cast("double") / col("n_keys").cast("double"))
              .as("mean_over"),
            col("max_over"),
            d6(col("nex").cast("double") / col("n_keys").cast("double"))
              .as("frac_exact"))
      }.reduce(_ unionByName _).orderBy("width")
    },
      // Width sweep: the same hash chain at 16/64/256 buckets, error
      // stats vs exact per-key counts.
      s"""WITH consts(r, a, b) AS (VALUES ${cmsConsts(4)}),
         |keys AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS key
         |      FROM events),
         |${keyHashCte("kh", "key", "keys")},
         |ev AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events)
         |SELECT * FROM (${Seq(16, 64, 256).map(cmsSweepArm).mkString(
            "\nUNION ALL\n")})
         |ORDER BY width""".stripMargin),

    // CMS join-size estimate vs the exact join count — the sketch-only
    // cardinality estimator (upper bound; min over depth rows). Both
    // numbers in one row so the oracle compare pins est AND exact.
    Q("sketch_join_size", (s, dir) => {
      val o = T(s, dir, "orders").select(col("o_custkey").cast("string").as("k"))
      val c = T(s, dir, "customer").select(col("c_custkey").cast("string").as("k"))
      val est = Sketch.cmsJoinSizeEstimate(o, "k", c, "k", 3, 1024)
      val exact = T(s, dir, "orders")
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("join_size_exact"))
      est.crossJoin(exact)
    },
      // CMS registers rebuilt in SQL (same consts/hash as sketch_cms),
      // dot-product per row, min over rows — plus the exact join count.
      s"""WITH consts(r, a, b) AS (VALUES ${cmsConsts(3)}),
         |${joinSizeSide("orders", "o_custkey", "o")},
         |${joinSizeSide("customer", "c_custkey", "c")},
         |dots AS (SELECT o.r, sum(o.cnt * c.cnt) AS dot
         |         FROM co o JOIN cc c ON o.r = c.r AND o.bucket = c.bucket
         |         GROUP BY o.r)
         |SELECT CAST((SELECT min(dot) FROM dots) AS BIGINT) AS join_size_est,
         |  (SELECT count(*) FROM orders JOIN customer
         |   ON o_custkey = c_custkey) AS join_size_exact""".stripMargin),

    // HyperLogLog distinct(event_id), m = 64. Registers are pure integer
    // arithmetic; the harmonic sum is exact in IEEE (every term a
    // multiple of 2⁻²⁷), exported both as the integer register checksum
    // `sum_inv_scaled` and the rounded `est`. 10k keys into 64 buckets
    // leaves no zero registers, so the raw estimator path (no libm ln)
    // is what's exercised end-to-end.
    Q("sketch_hll", (s, dir) =>
      Sketch.hllEstimate(
        Sketch.hllRegisters(T(s, dir, "events"), "event_id", 6), 6),
      // HLL registers from the Knuth 32-bit fold of event_id: bucket = low
      // 6 bits, ρ = lowest-set-bit position of the 26-bit suffix (unrolled
      // CASE — no loops, no log2). The harmonic sum uses shift-then-divide
      // (exact powers of two), so everything before the final round(.,4)
      // is bit-pinned across engines.
      s"""WITH h1 AS (
         |  SELECT ${samplingHashSql("event_id")} AS h1
         |  FROM events),
         |h2 AS (SELECT (xor(h1, h1 >> 16) * 1597334677) % 4294967296 AS h2 FROM h1),
         |h AS (SELECT xor(h2, h2 >> 16) AS h FROM h2),
         |wb AS (SELECT h % 64 AS bucket, h // 64 AS w FROM h),
         |rho AS (SELECT bucket,
         |  CASE WHEN w = 0 THEN 27 ${rhoCase(26)} END AS rho FROM wb),
         |reg AS (SELECT bucket, max(rho) AS max_rho FROM rho GROUP BY bucket),
         |agg AS (SELECT count(*) AS nonzero,
         |  sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << max_rho)) AS s
         |  FROM reg)
         |SELECT CAST(64 AS BIGINT) AS m,
         |$hll64Tail""".stripMargin),

    // Per-group HLL: distinct users per event type from ONE register
    // aggregation (groups × 64 registers shuffle, not rows). ~150 users
    // into 64 buckets leaves zero registers in every group, so this —
    // unlike the global sketch — exercises the linear-counting branch
    // end-to-end (the one `ln`; rounded 4 dp on both engines).
    Q("sketch_hll_grouped", (s, dir) =>
      Sketch.hllEstimateGrouped(
        Sketch.hllRegistersGrouped(T(s, dir, "events"), "user_id",
          Seq("event_type"), 6),
        Seq("event_type"), 6)
        .orderBy("event_type"),
      // Same pipeline as sketch_hll, keyed by user_id and carried per
      // event_type through every stage; the small per-group cardinality
      // activates the linear-counting CASE branch.
      s"""WITH h1 AS (
         |  SELECT event_type,
         |    ${samplingHashSql("user_id")} AS h1
         |  FROM events),
         |h2 AS (SELECT event_type,
         |  (xor(h1, h1 >> 16) * 1597334677) % 4294967296 AS h2 FROM h1),
         |h AS (SELECT event_type, xor(h2, h2 >> 16) AS h FROM h2),
         |wb AS (SELECT event_type, h % 64 AS bucket, h // 64 AS w FROM h),
         |rho AS (SELECT event_type, bucket,
         |  CASE WHEN w = 0 THEN 27 ${rhoCase(26)} END AS rho FROM wb),
         |reg AS (SELECT event_type, bucket, max(rho) AS max_rho
         |        FROM rho GROUP BY 1, 2),
         |agg AS (SELECT event_type, count(*) AS nonzero,
         |  sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << max_rho)) AS s
         |  FROM reg GROUP BY 1)
         |SELECT event_type, CAST(64 AS BIGINT) AS m,
         |$hll64Tail ORDER BY event_type""".stripMargin),

    // HLL set algebra between two event-id cohorts with KNOWN overlap
    // (last digit < 6 vs >= 4: |A|=|B|=0.6N, |A∩B|=0.2N, Jaccard 0.2):
    // union by register-max merge, intersection by inclusion–exclusion
    // — set overlap answered without materializing either key set, and
    // the known ground truth prices the sketch error on sight
    // (inclusion–exclusion amplifies the per-sketch ±3% — that
    // amplification is exactly what the card should show).
    Q("sketch_hll_setops", (s, dir) => {
      val e = T(s, dir, "events")
      Sketch.hllSetOps(
        e.filter(Fns.pmod(col("event_id"), lit(10L)) < 6),
        e.filter(Fns.pmod(col("event_id"), lit(10L)) >= 4), "event_id", 10)
    },
      hllSetOpsOracle),

    // KMV k-minimum-values distinct estimator over event ids (k=1024):
    // (k-1)·2^32/h_(k) beside the exact count — the
    // intersectable-sketch family's calibration card.
    Q("sketch_kmv", (s, dir) =>
      Sketch.kmvCard(T(s, dir, "events"), "event_id", 1024),
      // KMV: the avalanche32 chain (Knuth fold, xor-shift finisher) in
      // ANSI integer ops, k smallest distinct hashes, (k-1)*2^32/h_(k);
      // < k distinct hashes -> the count is exact by construction.
      s"""WITH keys AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS key
         |      FROM events WHERE event_id IS NOT NULL),
         |h1 AS (SELECT ${samplingHashSql("key")}
         |        AS h1 FROM keys),
         |h2 AS (SELECT (xor(h1, h1 >> 16) * 1597334677) % 4294967296
         |        AS h2 FROM h1),
         |hs AS (SELECT DISTINCT xor(h2, h2 >> 16) AS h FROM h2),
         |kmin AS (SELECT h FROM hs ORDER BY h LIMIT 1024),
         |st AS (SELECT count(*) AS n_min, max(h) AS kth_min FROM kmin),
         |ex AS (SELECT count(*) AS n_exact FROM keys),
         |est AS (SELECT n_min, kth_min, n_exact,
         |        CASE WHEN n_min < 1024 THEN CAST(n_min AS DOUBLE)
         |          ELSE 1023e0 * 4294967296e0 / CAST(kth_min AS DOUBLE) END
         |          AS e
         |      FROM st CROSS JOIN ex)
         |SELECT CAST(1024 AS BIGINT) AS k, n_min, kth_min, n_exact,
         |  round(e, 6) AS est_distinct,
         |  round((e / nullif(CAST(n_exact AS DOUBLE), 0.0) - 1e0) * 1000000) / 1000000
         |    AS rel_error
         |FROM est""".stripMargin),

    // Bloom sizing card: 16384-bit / 3-hash filter over part keys, probed
    // with order keys that are provably absent — measured FPR beside the
    // (1-(1-1/m)^kn)^k theory line; the filter bits are oracle-verified.
    Q("sketch_bloom_fpr", (s, dir) =>
      Sketch.bloomFprCard(T(s, dir, "part"), T(s, dir, "lineitem"),
        "p_partkey", "l_orderkey"),
      // Bloom card: the filter bits themselves are rebuilt (3 Knuth-odd
      // multipliers mod 16384), membership = all 3 positions set.
      """WITH ins AS (SELECT DISTINCT CAST(p_partkey AS BIGINT) AS key
        |      FROM part WHERE p_partkey IS NOT NULL),
        |prb AS (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS key
        |      FROM lineitem WHERE l_orderkey IS NOT NULL
        |        AND l_orderkey NOT IN (SELECT key FROM ins)),
        |ipos AS (SELECT DISTINCT pos FROM (
        |      SELECT ((key % 2147483648) * 2654435761) % 16384 AS pos
        |        FROM ins
        |      UNION ALL
        |      SELECT ((key % 2147483648) * 2654435763) % 16384 FROM ins
        |      UNION ALL
        |      SELECT ((key % 2147483648) * 2654435765) % 16384 FROM ins)),
        |ppos AS (
        |      SELECT key, ((key % 2147483648) * 2654435761) % 16384 AS pos
        |        FROM prb
        |      UNION ALL
        |      SELECT key, ((key % 2147483648) * 2654435763) % 16384
        |        FROM prb
        |      UNION ALL
        |      SELECT key, ((key % 2147483648) * 2654435765) % 16384
        |        FROM prb),
        |hits AS (SELECT key, count(*) AS h FROM ppos
        |      WHERE pos IN (SELECT pos FROM ipos) GROUP BY 1),
        |fp AS (SELECT (SELECT count(*) FROM prb) AS n_probes,
        |        CAST((SELECT count(*) FROM hits WHERE h = 3) AS BIGINT)
        |          AS n_false_pos),
        |ni AS (SELECT count(*) AS n_inserted FROM ins),
        |nb AS (SELECT count(*) AS bits_set FROM ipos)
        |SELECT CAST(16384 AS BIGINT) AS m_bits, CAST(3 AS BIGINT)
        |    AS k_hashes,
        |  n_inserted, bits_set,
        |  round((CAST(bits_set AS DOUBLE) / 16384.0) * 1000000) / 1000000 AS fill_ratio,
        |  n_probes, n_false_pos,
        |  round((CAST(n_false_pos AS DOUBLE)
        |    / nullif(CAST(n_probes AS DOUBLE), 0.0)) * 1000000) / 1000000 AS measured_fpr,
        |  round(exp(3.0 * ln(1.0 - exp(3.0 * CAST(n_inserted AS DOUBLE)
        |    * ln(1.0 - 0.00006103515625)))), 6) AS theoretical_fpr
        |FROM fp CROSS JOIN ni CROSS JOIN nb""".stripMargin),

    // Histogram quantile sketch: 64 equi-width bins over l_extendedprice,
    // estimates at p50/p90/p99 (error <= one bin width by construction).
    Q("sketch_histq", (s, dir) =>
      Sketch.histQuantiles(T(s, dir, "lineitem"), "l_extendedprice", 64,
          Seq(0.5, 0.9, 0.99))
        .select(col("q"), col("est"), col("bin"), col("n"))
        .orderBy("q"),
      // Fixed-order IEEE mirror of Sketch.histQuantiles: same clamped
      // floor-binning, same lo + (bin+1)·w estimate.
      """WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
        |             count(l_extendedprice) AS n FROM lineitem),
        |binned AS (SELECT CASE WHEN hi = lo THEN 0
        |             ELSE least(CAST(floor((l_extendedprice - lo) / ((hi - lo) / 64)) AS BIGINT), 63)
        |             END AS bin, lo, hi, n
        |           FROM lineitem CROSS JOIN b
        |           WHERE l_extendedprice IS NOT NULL),
        |reg AS (SELECT bin, lo, hi, n, count(*) AS c FROM binned GROUP BY 1, 2, 3, 4),
        |cum AS (SELECT *, sum(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
        |        FROM reg),
        |-- ::DOUBLE: DuckDB's bare 0.9 is DECIMAL, whose exact ceil(q*n) can
        |-- cross an integer boundary the Spark side's IEEE double product
        |-- doesn't — both engines must do the cutoff in identical arithmetic.
        |qs AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q)
        |SELECT q,
        |  round((lo + (bin + 1) * ((hi - lo) / 64)) * 1000000) / 1000000 AS est,
        |  bin, n
        |FROM (SELECT q, lo, hi, n, min(bin) AS bin
        |      FROM qs CROSS JOIN cum
        |      WHERE cum >= ceil(q * n)
        |      GROUP BY 1, 2, 3, 4)
        |ORDER BY q""".stripMargin),

    // Sketch-driven winsorized mean per event_type: p05/p95 cutoffs from
    // a 64-bin equi-width histogram (two scans + bounded bin aggregate,
    // no per-group sort), values clamped, robust mean beside raw — the
    // heavy-tail-taming aggregate of a 100 TB metric pipeline.
    Q("sketch_winsorized", (s, dir) =>
      Sketch.winsorizedMeanCard(T(s, dir, "events"), "event_type", "value",
          64, 0.05, 0.95)
        .orderBy("event_type"),
      // Mirrors winsorizedMeanCard's two-stage arithmetic: per-group
      // bounds, 64-bin assignment with the identical (v-lo)/((hi-lo)/64)
      // IEEE op order, cumulative bin counts, min-bin cut at each target
      // rank, clamp, DECIMAL(28,6) sums.
      s"""$histCutCtes,
         |w AS (SELECT c.g, c.v, clo.cut_lo, chi.cut_hi,
         |        greatest(least(c.v, chi.cut_hi), clo.cut_lo) AS cv
         |      FROM clean c JOIN clo ON clo.g = c.g JOIN chi ON chi.g = c.g)
         |SELECT g AS event_type, CAST(count(*) AS BIGINT) AS n,
         |  min(cut_lo) AS cut_lo, min(cut_hi) AS cut_hi,
         |  round((CAST(sum(CAST(round(v, 6) AS DECIMAL(28,6))) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE)) * 1000000) / 1000000 AS mean_raw,
         |  round((CAST(sum(CAST(round(cv, 6) AS DECIMAL(28,6))) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE)) * 1000000) / 1000000 AS mean_winsorized
         |FROM w GROUP BY g ORDER BY event_type""".stripMargin),

    // Grouped robust-stats card from the same histogram machinery:
    // trimmed mean (drop outside [p05,p95] instead of clamping),
    // histogram median, and MAD via a second bounded histogram over
    // |v - median| whose bounds are closed-form — location AND scale
    // robustly, with no per-group sort anywhere.
    Q("sketch_robust_stats", (s, dir) =>
      Sketch.robustStatsCard(T(s, dir, "events"), "event_type", "value",
          64, 0.05, 0.95)
        .orderBy("event_type"),
      // Mirrors robustStatsCard: the sketch_winsorized histogram blocks
      // plus the 0.5 cut (median), the trim-window filter, and the
      // closed-form-bounded deviation histogram for MAD — identical IEEE
      // op order throughout.
      s"""$histCutCtes,
         |${histCut("cmed", "median_est", "0.5")},
         |w AS (SELECT c.g, c.v, clo.cut_lo, chi.cut_hi, cmed.median_est,
         |        b.lo, b.hi, b.n
         |      FROM clean c JOIN clo ON clo.g = c.g JOIN chi ON chi.g = c.g
         |      JOIN cmed ON cmed.g = c.g JOIN b ON b.g = c.g),
         |dbn AS (SELECT g, n,
         |        greatest(median_est - lo, hi - median_est) AS dhi,
         |        CASE WHEN greatest(median_est - lo, hi - median_est) <= 0 THEN 0
         |          ELSE least(CAST(floor(abs(v - median_est)
         |            / (greatest(median_est - lo, hi - median_est) / 64))
         |            AS BIGINT), 63) END AS bin
         |      FROM w),
         |dbc AS (SELECT g, bin, dhi, n, count(*) AS c
         |      FROM dbn GROUP BY 1, 2, 3, 4),
         |dcm AS (SELECT g, bin, dhi, n,
         |        sum(c) OVER (PARTITION BY g ORDER BY bin
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM dbc),
         |mad AS (SELECT g, round(((min(bin) + 1) * (dhi / 64)) * 1000000) / 1000000 AS mad_est
         |      FROM dcm WHERE cum >= ceil(0.5 * n) GROUP BY g, dhi),
         |agg AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |        min(cut_lo) AS cut_lo, min(cut_hi) AS cut_hi,
         |        min(median_est) AS median_est,
         |        round((CAST(sum(CAST(round(v, 6) AS DECIMAL(28,6))) AS DOUBLE)
         |          / CAST(count(*) AS DOUBLE)) * 1000000) / 1000000 AS mean_raw,
         |        CAST(sum(CASE WHEN v BETWEEN cut_lo AND cut_hi
         |          THEN CAST(round(v, 6) AS DECIMAL(28,6)) END) AS DOUBLE) AS st,
         |        CAST(sum(CASE WHEN v BETWEEN cut_lo AND cut_hi
         |          THEN 1 ELSE 0 END) AS BIGINT) AS n_trimmed
         |      FROM w GROUP BY g)
         |SELECT agg.g AS event_type, n, cut_lo, cut_hi, median_est, mean_raw,
         |  round((st / nullif(CAST(n_trimmed AS DOUBLE), 0.0)) * 1000000) / 1000000 AS mean_trimmed,
         |  n_trimmed, mad_est
         |FROM agg JOIN mad ON mad.g = agg.g ORDER BY event_type""".stripMargin),

    // MinHash register-min union: per-source 16-perm signatures folded
    // into the corpus-union signature by elementwise MIN (exact in
    // sketch space — the third mergeable fold beside CMS add and HLL
    // max), each source's agreement-ĵ calibrated against its exact
    // containment Jaccard |S_src|/|S_union|.
    Q("sketch_minhash_union", (s, dir) =>
      Sketch.minhashUnionCard(T(s, dir, "documents")).orderBy("source"),
      // Rebuilds the per-source 16-perm signatures bit-for-bit (the
      // dedup_lsh_curve shingle/hash SQL, grouped by source), folds the
      // union signature with min(m) per p, and mirrors the agreement and
      // containment-Jaccard arithmetic.
      s"""WITH base AS ($docToks),
         |toks AS (SELECT doc_id, unnest(toks) AS t,
         |        generate_subscripts(toks, 1) AS i FROM base),
         |sh0 AS (SELECT DISTINCT a.doc_id,
         |        a.t || ' ' || b.t || ' ' || c.t AS shingle
         |      FROM toks a
         |      JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |      JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
         |gsh AS (SELECT DISTINCT d.source AS g, s.shingle
         |      FROM sh0 s JOIN documents d ON d.doc_id = s.doc_id),
         |xh AS (SELECT g, shingle,
         |        list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          list_transform(range(length(shingle)),
         |            i -> ascii(substr(shingle, CAST(i + 1 AS INT), 1)))),
         |          (acc, c) -> (acc * 131 + c) % 2147483647) AS x
         |      FROM gsh),
         |pm AS (SELECT CAST(p AS BIGINT) AS p FROM range(16) t(p)),
         |hp AS (SELECT g, p,
         |        (x * ((1103515245 * (p + 1)) % 2147483647)
         |          + ((12345 * (p + 1)) % 2147483647)) % 2147483647 AS h
         |      FROM xh CROSS JOIN pm),
         |sig AS (SELECT g, p, min(h) AS m FROM hp GROUP BY 1, 2),
         |un AS (SELECT p, min(m) AS mu FROM sig GROUP BY 1),
         |ag AS (SELECT g, CAST(sum(CASE WHEN m = mu THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_agree
         |      FROM sig JOIN un USING (p) GROUP BY 1),
         |sz AS (SELECT g, CAST(count(*) AS BIGINT) AS n_shingles
         |      FROM gsh GROUP BY 1),
         |us AS (SELECT CAST(count(DISTINCT shingle) AS BIGINT) AS n_union
         |      FROM gsh)
         |SELECT sz.g AS source, n_shingles, n_union, n_agree,
         |  round((CAST(n_agree AS DOUBLE) / 16.0) * 1000000) / 1000000 AS est_jaccard,
         |  round((CAST(n_shingles AS DOUBLE) / CAST(n_union AS DOUBLE)) * 1000000) / 1000000
         |    AS exact_jaccard
         |FROM sz JOIN ag ON ag.g = sz.g CROSS JOIN us
         |ORDER BY source""".stripMargin)
  )
}
