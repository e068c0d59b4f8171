package graft
package entries

import org.apache.spark.sql.functions.col
import graft.operators.TimeSeries
import SparkEntry.T

/** The 29 `ts_*` queries: resampling, rolling statistics, trend and
  * randomness tests, spectra and downsampling over the events table,
  * each declared once with its Spark frame beside the DuckDB oracle it
  * must equal. Most oracles open with the hourly series [[hourlyCte]]
  * (the [[TimeSeries]] bucket aggregate in SQL); the gap-fill, DFT and
  * indexed-bucket chains are written once below. The determinism rules
  * of [[SparkEntry]] apply to every entry.
  */
object TsEntry {

  /** `b`, each key's DECIMAL(18,6) value sum per UTC hour over all
    * events. `key` is the key's select item (`user_id` or
    * `user_id AS k`); `counted` adds the bucket's event count `n`.
    */
  private def hourlyCte(key: String = "user_id", counted: Boolean = false): String = {
    val n = if (counted) "\n        count(*) AS n," else ""
    s"""b AS (SELECT $key, date_trunc('hour', ts) AS bucket,$n
       |        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS v
       |      FROM events GROUP BY 1, 2)""".stripMargin
  }

  /** [[hourlyCte]], then `i`, the observed (non-NULL) buckets indexed
    * t = 0, 1, … per key `k`, and `ii`, the first `cap` of them: the
    * indexed-bucket frame of the per-key quadratic operators. `v` is
    * the value's select item.
    */
  private def indexedCtes(cap: Int, v: String = "v"): String =
    s"""${hourlyCte()},
       |i AS (SELECT user_id AS k, $v,
       |        CAST(row_number() OVER (PARTITION BY user_id
       |          ORDER BY bucket) - 1 AS BIGINT) AS t
       |      FROM b WHERE v IS NOT NULL),
       |ii AS (SELECT * FROM i WHERE t < $cap)""".stripMargin

  /** `e`, the events of users 0–49 with their UTC hour. */
  private val subsetEventsCte: String =
    """e AS (SELECT user_id, date_trunc('hour', ts) AS bucket, value
      |           FROM events WHERE user_id < 50)""".stripMargin

  /** [[subsetEventsCte]], then `b`, the subset's per-hour count `n` and
    * DECIMAL(18,6) value sum: the series of ts_ewma and ts_zscore.
    */
  private val subsetHourlyCtes: String =
    s"""$subsetEventsCte,
       |b AS (SELECT user_id, bucket, count(*) AS n,
       |        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS v
       |      FROM e GROUP BY 1, 2)""".stripMargin

  /** The gap grid of ts_resample, ts_gapfill and ts_pipeline_e2e:
    * `hourly`, the subset's per-hour count and DOUBLE value sum; the
    * bounds CTE (named `bounds`), each user's first and last hour; and
    * `grid`, every hour between them. The bounds CTE's FROM line aligns
    * under its open parenthesis.
    */
  private def gridCtes(bounds: String): String =
    s"""$subsetEventsCte,
       |hourly AS (SELECT user_id, bucket, count(*) AS n,
       |             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
       |           FROM e GROUP BY 1, 2),
       |$bounds AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
       |${" " * (bounds.length + 5)}FROM e GROUP BY 1),
       |grid AS (SELECT user_id,
       |           unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
       |         FROM $bounds)""".stripMargin

  /** After [[gridCtes]]: `j`, the grid joined to `hourly` with each
    * hour's epoch and observed epoch, and `w`, the previous and next
    * observed value and epoch per hour. `counted` carries the hour's
    * event count `n` through both.
    */
  private def fillCtes(counted: Boolean): String = {
    val (jn, wn) = if (counted) (" coalesce(n, 0) AS n,", " n,") else ("", "")
    s"""j AS (SELECT g.user_id, g.bucket,$jn v,
       |        epoch(g.bucket) AS ep,
       |        CASE WHEN v IS NOT NULL THEN epoch(g.bucket) END AS oep
       |      FROM grid g LEFT JOIN hourly h
       |        ON g.user_id = h.user_id AND g.bucket = h.bucket),
       |w AS (SELECT user_id, bucket,$wn ep,
       |        last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
       |          ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS pv,
       |        last_value(oep IGNORE NULLS) OVER (PARTITION BY user_id
       |          ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS pe,
       |        first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
       |          ORDER BY bucket
       |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
       |        first_value(oep IGNORE NULLS) OVER (PARTITION BY user_id
       |          ORDER BY bucket
       |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ne
       |      FROM j)""".stripMargin
  }

  /** The 6-dp linear interpolation over [[fillCtes]]' `w`, as `v_interp`. */
  private val interpCol: String =
    """  CAST(round((CASE WHEN pv IS NULL THEN nv
      |             WHEN nv IS NULL THEN pv
      |             WHEN ne = pe THEN pv
      |             ELSE pv + (nv - pv) * (ep - pe) / (ne - pe) END
      |   ) * 1000000) / 1000000 AS DOUBLE) AS v_interp""".stripMargin

  /** The hourly mean series of ts_dft, ts_spectral_entropy and
    * ts_backtest_naive: `e`, the events per event type `k` in epoch
    * micros; `bd`, each type's first micro; `hh`, the exact integer hour
    * index with its count and DECIMAL value sum; `hr`, the 6-dp hour
    * mean `vh`.
    */
  private val hourMeanCtes: String =
    """e AS (SELECT event_type AS k, epoch_us(ts) AS t,
      |        CAST(value AS DOUBLE) AS v FROM events),
      |bd AS (SELECT k, min(t) AS tmin FROM e GROUP BY 1),
      |hh AS (SELECT e.k,
      |        ((t - tmin) - (t - tmin) % 3600000000) // 3600000000 AS h,
      |        count(*) AS nh,
      |        sum(CAST(round(v, 6) AS DECIMAL(28,6))) AS sv
      |      FROM e JOIN bd ON bd.k = e.k GROUP BY 1, 2),
      |hr AS (SELECT k, h, round((CAST(sv AS DOUBLE) / nh) * 1000000) / 1000000 AS vh FROM hh)""".stripMargin

  /** [[hourMeanCtes]], then the 4-harmonic DFT over it: `n`, the series
    * length; `sp`, harmonics 1–4; `terms`, the 6-dp cos/sin products;
    * `agg`, their DECIMAL sums `a` and `b` per (type, harmonic).
    */
  private val dftCtes: String =
    s"""$hourMeanCtes,
       |n AS (SELECT k, max(h) + 1 AS n FROM hr GROUP BY 1),
       |sp AS (SELECT CAST(harmonic AS BIGINT) AS harmonic
       |      FROM range(1, 5) t(harmonic)),
       |terms AS (SELECT hr.k, sp.harmonic, n.n,
       |        round(vh * cos(2.0 * pi() * CAST(sp.harmonic AS DOUBLE)
       |          * CAST(h AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS ca,
       |        round(vh * sin(2.0 * pi() * CAST(sp.harmonic AS DOUBLE)
       |          * CAST(h AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS cb
       |      FROM hr JOIN n ON n.k = hr.k CROSS JOIN sp),
       |agg AS (SELECT k, harmonic, CAST(min(n) AS BIGINT) AS n_hours,
       |        CAST(sum(CAST(ca AS DECIMAL(28,6))) AS DOUBLE) AS a,
       |        CAST(sum(CAST(cb AS DECIMAL(28,6))) AS DOUBLE) AS b
       |      FROM terms GROUP BY 1, 2)""".stripMargin

  /** The seasonal-strength stage over `per(user_id, phase, x)`: `pp`,
    * per-phase count and exact sums; `pk`, phases ranked by 6-dp mean;
    * `a`, the per-user totals; `c`, SST and SSB. Read by ts_seasonal and
    * ts_pipeline_e2e, which close it with [[strengthSelect]].
    */
  private val seasonalCtes: String =
    """pp AS (SELECT user_id, phase, count(*) AS np,
      |         CAST(sum(x) AS DECIMAL(38,12)) AS sp,
      |         sum(CAST(x * x AS DECIMAL(38,12))) AS sp2
      |       FROM per GROUP BY 1, 2),
      |pk AS (SELECT user_id, phase AS peak_phase,
      |         row_number() OVER (PARTITION BY user_id
      |           ORDER BY round((CAST(sp AS DOUBLE) / np) * 1000000) / 1000000 DESC, phase ASC) AS rk
      |       FROM pp),
      |a AS (SELECT user_id, CAST(sum(np) AS BIGINT) AS n_rows,
      |        count(*) AS n_phases,
      |        CAST(sum(sp) AS DOUBLE) AS s, CAST(sum(sp2) AS DOUBLE) AS s2,
      |        CAST(sum(CAST(round((CAST(sp * sp AS DOUBLE) / np) * 1000000) / 1000000
      |          AS DECIMAL(38,6))) AS DOUBLE) AS ssb_raw
      |      FROM pp GROUP BY 1),
      |c AS (SELECT user_id, n_rows, n_phases,
      |        s2 - s * s / n_rows AS sst,
      |        ssb_raw - s * s / n_rows AS ssb
      |      FROM a)""".stripMargin

  /** The select list of the seasonal stage's result row. */
  private val strengthSelect: String =
    """c.user_id, c.n_rows, c.n_phases, pk.peak_phase,
      |  CAST(round((
      |    CASE WHEN sst > 0 THEN greatest(least(ssb / sst, 1.0), 0.0) END
      |   ) * 1000000) / 1000000 AS DOUBLE) AS strength""".stripMargin

  /** The SAX stage over an hourly series `series(user_id, bucket, v)`:
    * `f`, its non-NULL buckets; `m` and `st`, the per-user moments;
    * `z`, the indexed 6-dp z-scores; `sg`, the 8 segment sums; `le`,
    * each segment's letter. Read by ts_sax and ts_pipeline_e2e.
    */
  private def saxCtes(series: String): String =
    s"""f AS (SELECT * FROM $series WHERE v IS NOT NULL),
       |m AS (SELECT user_id, count(*) AS nk, CAST(sum(v) AS DOUBLE) AS s1,
       |        CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) AS s2
       |      FROM f GROUP BY 1),
       |st AS (SELECT user_id, nk, s1 / nk AS mu,
       |         CASE WHEN nk >= 2 AND (s2 - s1 * s1 / nk) / (nk - 1) > 0
       |              THEN sqrt((s2 - s1 * s1 / nk) / (nk - 1)) END AS sigma
       |       FROM m),
       |z AS (SELECT f.user_id, st.nk,
       |        CAST(row_number() OVER (PARTITION BY f.user_id ORDER BY bucket) - 1
       |          AS BIGINT) AS i,
       |        CAST(round(((CAST(v AS DOUBLE) - mu) / sigma
       |         ) * 1000000) / 1000000 AS DECIMAL(18,6)) AS zz
       |      FROM f JOIN st ON f.user_id = st.user_id
       |      WHERE sigma IS NOT NULL),
       |sg AS (SELECT user_id, max(nk) AS nk,
       |         CAST(floor(i * 8 / nk) AS BIGINT) AS seg,
       |         count(*) AS ns, CAST(sum(zz) AS DOUBLE) AS sz
       |       FROM z GROUP BY user_id, CAST(floor(i * 8 / nk) AS BIGINT)),
       |le AS (SELECT user_id, nk, seg,
       |         CASE WHEN sz / ns < -0.6745 THEN 'a' WHEN sz / ns < 0 THEN 'b'
       |              WHEN sz / ns < 0.6745 THEN 'c' ELSE 'd' END AS letter
       |       FROM sg)""".stripMargin

  val queries: Seq[Q] = Seq(

    // Gap-fill resample: per-user hourly grid, forward-filled values
    // (n = 0 marks filled buckets). User subset keeps the grid bounded.
    Q("ts_resample", (s, dir) =>
      TimeSeries.resampleForwardFill(
          T(s, dir, "events").filter(col("user_id") < 50),
          "user_id", "ts", "value")
        .orderBy("user_id", "bucket"),
      s"""WITH ${gridCtes("b")}
         |SELECT g.user_id, g.bucket, coalesce(n, 0) AS n,
         |  last_value(v IGNORE NULLS) OVER (PARTITION BY g.user_id
         |    ORDER BY g.bucket ROWS UNBOUNDED PRECEDING) AS v_ff
         |FROM grid g LEFT JOIN hourly h
         |  ON g.user_id = h.user_id AND g.bucket = h.bucket
         |ORDER BY g.user_id, g.bucket""".stripMargin),

    // Linear-interpolation resample: the continuous-signal fill (prices,
    // sensors) — gaps take prev + slope·Δt, leading/trailing gaps
    // extrapolate flat. Same per-user grid as ts_resample; two per-key
    // windows instead of one.
    Q("ts_gapfill", (s, dir) =>
      TimeSeries.resampleInterpolate(
          T(s, dir, "events").filter(col("user_id") < 50),
          "user_id", "ts", "value")
        .orderBy("user_id", "bucket"),
      s"""WITH ${gridCtes("b")},
         |${fillCtes(counted = true)}
         |SELECT user_id, bucket, n,
         |$interpCol
         |FROM w ORDER BY user_id, bucket""".stripMargin),

    // Finite-memory EWMA (β = 1/2 over the last 8 observed hourly
    // buckets, pandas adjust=true renormalization): 8-dp-quantized
    // DECIMAL weights ride one bounded per-key window — no grid explode,
    // no range self-join.
    Q("ts_ewma", (s, dir) =>
      TimeSeries.ewma(
          T(s, dir, "events").filter(col("user_id") < 50),
          "user_id", "ts", "value")
        .orderBy("user_id", "bucket"),
      // Weights are the operator's 8-dp-quantized β^j ladder (β = 1/2, so
      // every weight and cumulative total is a dyadic rational — exact in
      // DECIMAL and in DOUBLE); the weighted sum stays DECIMAL end-to-end,
      // mirroring TimeSeries.ewma's aggregate, so the single float step is
      // the same division both engines perform on identical operands.
      s"""WITH $subsetHourlyCtes,
         |f AS (SELECT * FROM b WHERE v IS NOT NULL),
         |l AS (SELECT user_id, bucket, n, v,
         |        lag(v, 1) OVER w AS v1, lag(v, 2) OVER w AS v2,
         |        lag(v, 3) OVER w AS v3, lag(v, 4) OVER w AS v4,
         |        lag(v, 5) OVER w AS v5, lag(v, 6) OVER w AS v6,
         |        lag(v, 7) OVER w AS v7,
         |        count(*) OVER (PARTITION BY user_id ORDER BY bucket
         |          ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS m
         |      FROM f WINDOW w AS (PARTITION BY user_id ORDER BY bucket))
         |SELECT user_id, bucket, n, CAST(v AS DOUBLE) AS v,
         |  CAST(round((CAST(
         |      coalesce(CAST(v  * CAST(1.00000000 AS DECIMAL(18,8)) AS DECIMAL(38,14)), 0)
         |    + coalesce(CAST(v1 * CAST(0.50000000 AS DECIMAL(18,8)) AS DECIMAL(38,14)), 0)
         |    + coalesce(CAST(v2 * CAST(0.25000000 AS DECIMAL(18,8)) AS DECIMAL(38,14)), 0)
         |    + coalesce(CAST(v3 * CAST(0.12500000 AS DECIMAL(18,8)) AS DECIMAL(38,14)), 0)
         |    + coalesce(CAST(v4 * CAST(0.06250000 AS DECIMAL(18,8)) AS DECIMAL(38,14)), 0)
         |    + coalesce(CAST(v5 * CAST(0.03125000 AS DECIMAL(18,8)) AS DECIMAL(38,14)), 0)
         |    + coalesce(CAST(v6 * CAST(0.01562500 AS DECIMAL(18,8)) AS DECIMAL(38,14)), 0)
         |    + coalesce(CAST(v7 * CAST(0.00781250 AS DECIMAL(18,8)) AS DECIMAL(38,14)), 0)
         |    AS DOUBLE)
         |    / CASE m WHEN 1 THEN 1.0 WHEN 2 THEN 1.5 WHEN 3 THEN 1.75
         |             WHEN 4 THEN 1.875 WHEN 5 THEN 1.9375 WHEN 6 THEN 1.96875
         |             WHEN 7 THEN 1.984375 ELSE 1.9921875 END
         |   ) * 1000000) / 1000000 AS DOUBLE) AS ewma
         |FROM l ORDER BY user_id, bucket""".stripMargin),

    // Rolling z-score anomaly flags: each hourly bucket scored against
    // its key's trailing 24 observed buckets; moments from exact DECIMAL
    // window sums, NULL z (never NaN/Inf) on degenerate windows.
    Q("ts_zscore", (s, dir) =>
      TimeSeries.rollingZscore(
          T(s, dir, "events").filter(col("user_id") < 50),
          "user_id", "ts", "value")
        .orderBy("user_id", "bucket"),
      s"""WITH $subsetHourlyCtes,
         |w AS (SELECT user_id, bucket, n, CAST(v AS DOUBLE) AS v,
         |        count(*) OVER ww AS nw,
         |        CAST(sum(v) OVER ww AS DOUBLE) AS s1,
         |        CAST(sum(CAST(v * v AS DECIMAL(38,12))) OVER ww AS DOUBLE) AS s2
         |      FROM b WINDOW ww AS (PARTITION BY user_id ORDER BY bucket
         |        ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
         |c AS (SELECT *, (s2 - s1 * s1 / nw) / (nw - 1) AS varr FROM w),
         |d AS (SELECT user_id, bucket, n, v, nw,
         |        sqrt(CASE WHEN nw < 2 THEN NULL
         |                  WHEN varr < 0 THEN 0.0 ELSE varr END) AS std,
         |        s1 / nw AS mean
         |      FROM c),
         |z AS (SELECT user_id, bucket, n, v, nw,
         |        CASE WHEN std > 0 THEN (v - mean) / std END AS z
         |      FROM d)
         |SELECT user_id, bucket, n, v, nw,
         |  CAST(round((z) * 1000000) / 1000000 AS DOUBLE) AS z,
         |  coalesce(abs(z) > 3.0, false) AS is_anomaly
         |FROM z ORDER BY user_id, bucket""".stripMargin),

    // Lag-1 autocorrelation of each user's hourly series: Pearson r from
    // six exact DECIMAL aggregates — one row per key, float math only in
    // the final per-key closed form.
    Q("ts_autocorr", (s, dir) =>
      TimeSeries.autocorr(
          T(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("user_id"),
      s"""WITH ${hourlyCte()},
         |p AS (SELECT user_id, v,
         |        lag(v, 1) OVER (PARTITION BY user_id ORDER BY bucket) AS y
         |      FROM b),
         |q AS (SELECT * FROM p WHERE y IS NOT NULL),
         |a AS (SELECT user_id, count(*) AS n_pairs,
         |        CAST(sum(v) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         |        CAST(sum(CAST(v * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
         |        CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         |        CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
         |      FROM q GROUP BY 1),
         |n AS (SELECT *, CAST(n_pairs AS DOUBLE) AS nd FROM a)
         |SELECT user_id, n_pairs,
         |  CAST(round((
         |    CASE WHEN nd * sxx - sx * sx > 0 AND nd * syy - sy * sy > 0 THEN
         |      (nd * sxy - sx * sy)
         |        / (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy)) END
         |   ) * 1000000) / 1000000 AS DOUBLE) AS autocorr
         |FROM n ORDER BY user_id""".stripMargin),

    // ACF+PACF card to lag 3 (autocovariance ACF, Durbin–Levinson
    // partials in closed form) — the ARIMA order-selection diagnostic
    // the single-lag autocorr can't answer.
    Q("ts_pacf", (s, dir) =>
      TimeSeries.pacf(
          T(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("user_id"),
      // ACF (12-dp DECIMAL-quantized centered products, exact sums) + the
      // unrolled Durbin–Levinson partials; every rounding edge rides the
      // DECIMAL(24,12) cast so .5 boundaries round identically.
      s"""WITH ${hourlyCte()},
         |m AS (SELECT user_id, bucket, v,
         |        count(*) OVER (PARTITION BY user_id) AS nb,
         |        sum(v) OVER (PARTITION BY user_id) AS sv FROM b),
         |c AS (SELECT user_id, bucket,
         |        CAST(round((CAST(v AS DOUBLE) - CAST(sv AS DOUBLE) / nb
         |         ) * 1000000000) / 1000000000 AS DOUBLE) AS c
         |      FROM m),
         |l AS (SELECT user_id, c,
         |        lag(c, 1) OVER w AS c1, lag(c, 2) OVER w AS c2,
         |        lag(c, 3) OVER w AS c3
         |      FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket)),
         |a AS (SELECT user_id, count(*) AS n_buckets,
         |        CAST(sum(CAST(c * c AS DECIMAL(38,12))) AS DOUBLE) AS s0,
         |        CAST(sum(CAST(c * c1 AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         |        CAST(sum(CAST(c * c2 AS DECIMAL(38,12))) AS DOUBLE) AS s2,
         |        CAST(sum(CAST(c * c3 AS DECIMAL(38,12))) AS DOUBLE) AS s3
         |      FROM l GROUP BY 1),
         |r AS (SELECT user_id, n_buckets,
         |        CAST(round((s1 / nullif(s0, 0e0)) * 1000000000) / 1000000000
         |          AS DOUBLE) AS r1,
         |        CAST(round((s2 / nullif(s0, 0e0)) * 1000000000) / 1000000000
         |          AS DOUBLE) AS r2,
         |        CAST(round((s3 / nullif(s0, 0e0)) * 1000000000) / 1000000000
         |          AS DOUBLE) AS r3 FROM a),
         |d AS (SELECT *, (r2 - r1 * r1) / nullif(1e0 - r1 * r1, 0e0)
         |        AS phi22 FROM r),
         |d2 AS (SELECT *, r1 * (1e0 - phi22) AS phi21 FROM d)
         |SELECT user_id, n_buckets,
         |  CAST(round((r1) * 1000000) / 1000000 AS DOUBLE) AS rho1,
         |  CAST(round((r2) * 1000000) / 1000000 AS DOUBLE) AS rho2,
         |  CAST(round((r3) * 1000000) / 1000000 AS DOUBLE) AS rho3,
         |  CAST(round((r1) * 1000000) / 1000000 AS DOUBLE) AS pacf1,
         |  CAST(round((phi22) * 1000000) / 1000000 AS DOUBLE) AS pacf2,
         |  CAST(round(((r3 - phi21 * r2 - phi22 * r1)
         |    / nullif(1e0 - phi21 * r1 - phi22 * r2, 0e0)
         |   ) * 1000000) / 1000000 AS DOUBLE) AS pacf3
         |FROM d2 ORDER BY user_id""".stripMargin),

    // Time-weighted average per user over the raw irregular samples —
    // each sample weighted by the interval it covered; mean_simple
    // beside it shows the dense-burst bias.
    Q("ts_twa", (s, dir) =>
      TimeSeries.timeWeightedAvg(
          T(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("user_id"),
      // TWA: exact decimal values x exact micro intervals; (us, vq) tie
      // order mirrors the Spark window.
      """WITH r AS (SELECT user_id, epoch_us(ts) AS us,
        |        CAST(value AS DECIMAL(18,6)) AS vq FROM events),
        |l AS (SELECT user_id, vq,
        |        lead(us, 1) OVER (PARTITION BY user_id ORDER BY us, vq)
        |          - us AS dt
        |      FROM r),
        |a AS (SELECT user_id, count(*) AS n_samples,
        |        CAST(sum(dt) AS BIGINT) AS dur_us,
        |        CAST(sum(CAST(vq * dt AS DECIMAL(38,6))) AS DECIMAL(38,6))
        |          AS wsum,
        |        sum(vq) AS vsum
        |      FROM l GROUP BY 1)
        |SELECT user_id, n_samples, coalesce(dur_us, 0) AS duration_us,
        |  CAST(round((CAST(wsum AS DOUBLE)
        |    / nullif(CAST(dur_us AS DOUBLE), 0e0)
        |   ) * 1000000) / 1000000 AS DOUBLE) AS twa,
        |  CAST(round((CAST(vsum AS DOUBLE) / n_samples
        |   ) * 1000000) / 1000000 AS DOUBLE) AS mean_simple
        |FROM a ORDER BY user_id""".stripMargin),

    // Single-changepoint scan: best standardized mean-shift split of each
    // user's hourly series, prefix-sum scored (O(n) per key — the naive
    // split×row self-join is O(n²)).
    Q("ts_changepoint", (s, dir) =>
      TimeSeries.changepointScan(
          T(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("user_id"),
      s"""WITH ${hourlyCte()},
         |r AS (SELECT user_id, bucket,
         |        count(*) OVER wr AS t,
         |        CAST(sum(v) OVER wr AS DOUBLE) AS pre,
         |        count(*) OVER wa AS nk,
         |        CAST(sum(v) OVER wa AS DOUBLE) AS tot
         |      FROM b
         |      WINDOW wr AS (PARTITION BY user_id ORDER BY bucket
         |               ROWS UNBOUNDED PRECEDING),
         |             wa AS (PARTITION BY user_id)),
         |s AS (SELECT user_id, bucket, nk,
         |        abs(pre / t - (tot - pre) / (nk - t))
         |          * sqrt(CAST(t * (nk - t) AS DOUBLE) / nk) AS score,
         |        pre / t AS lm, (tot - pre) / (nk - t) AS rm
         |      FROM r WHERE t < nk),
         |best AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |           ORDER BY score DESC, bucket) AS rk FROM s)
         |SELECT user_id, bucket AS split_bucket, nk AS n_buckets,
         |  CAST(round((score) * 1000000) / 1000000 AS DOUBLE) AS score,
         |  CAST(round((lm) * 1000000) / 1000000 AS DOUBLE) AS left_mean,
         |  CAST(round((rm) * 1000000) / 1000000 AS DOUBLE) AS right_mean
         |FROM best WHERE rk = 1 ORDER BY user_id""".stripMargin),

    // Per-key OLS trend of the hourly series over the observed-bucket
    // index: slope/intercept/R² from six exact aggregates (Σt² in
    // DECIMAL — BIGINT would overflow on a billion-bucket key).
    Q("ts_ols", (s, dir) =>
      TimeSeries.olsTrend(
          T(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("user_id"),
      s"""WITH ${hourlyCte()},
         |f AS (SELECT * FROM b WHERE v IS NOT NULL),
         |i AS (SELECT user_id, v,
         |        CAST(row_number() OVER (PARTITION BY user_id ORDER BY bucket) - 1
         |          AS BIGINT) AS t
         |      FROM f),
         |a AS (SELECT user_id, count(*) AS n_buckets, sum(t) AS st,
         |        CAST(sum(v) AS DOUBLE) AS sv,
         |        CAST(sum(CAST(t * v AS DECIMAL(38,12))) AS DOUBLE) AS stv,
         |        CAST(sum(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0)))
         |          AS DECIMAL(38,0)) AS stt,
         |        CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) AS svv
         |      FROM i GROUP BY 1),
         |c AS (SELECT user_id, n_buckets, sv, st,
         |        CAST(n_buckets AS DOUBLE) AS nd,
         |        CAST(n_buckets AS DOUBLE) * CAST(stt AS DOUBLE)
         |          - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) AS dent,
         |        CAST(n_buckets AS DOUBLE) * svv - sv * sv AS denv,
         |        CAST(n_buckets AS DOUBLE) * stv - CAST(st AS DOUBLE) * sv AS cov
         |      FROM a),
         |s AS (SELECT *, CASE WHEN n_buckets >= 2 AND dent > 0
         |                     THEN cov / dent END AS slope FROM c)
         |SELECT user_id, n_buckets,
         |  CAST(round((slope) * 1000000) / 1000000 AS DOUBLE) AS slope,
         |  CAST(round(((sv - slope * CAST(st AS DOUBLE)) / nd
         |   ) * 1000000) / 1000000 AS DOUBLE) AS intercept,
         |  CAST(round((CASE WHEN slope IS NOT NULL AND denv > 0
         |      THEN cov * cov / (dent * denv) END
         |   ) * 1000000) / 1000000 AS DOUBLE) AS r2
         |FROM s ORDER BY user_id""".stripMargin),

    // Bollinger bands: trailing-24-bucket mean ± 2·sd envelope + %B per
    // hourly bucket — exact ×10⁶ integer window moments, so a flat
    // window gets sd exactly 0 (NULL %B), never rounding noise.
    Q("ts_bollinger", (s, dir) =>
      TimeSeries.bollingerBands(
          T(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("user_id", "bucket"),
      // Bollinger: HUGEINT window moments mirror the ×10⁶ DECIMAL(38,0)
      // sums; band arithmetic is the identical double expression; %B via
      // nullif mirrors try_divide (flat window -> exact-0 sd -> NULL).
      s"""WITH ${hourlyCte()},
         |r AS (SELECT user_id, bucket, v,
         |        CAST(v * 1000000 AS HUGEINT) AS x6 FROM b),
         |ws AS (SELECT user_id, bucket, v,
         |        count(x6) OVER wf AS nw,
         |        sum(x6) OVER wf AS sv6,
         |        sum(x6 * x6) OVER wf AS svv6
         |      FROM r WINDOW wf AS (PARTITION BY user_id ORDER BY bucket
         |        ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
         |c AS (SELECT user_id, bucket, CAST(v AS DOUBLE) AS v, nw,
         |        CAST(sv6 AS DOUBLE) / CAST(nw AS DOUBLE) / 1000000.0 AS ma,
         |        CASE WHEN nw >= 2 THEN
         |          sqrt(CAST(nw * svv6 - sv6 * sv6 AS DOUBLE)
         |            / (CAST(nw AS DOUBLE) * (CAST(nw AS DOUBLE) - 1.0)))
         |            / 1000000.0
         |        END AS sd
         |      FROM ws)
         |SELECT user_id, bucket, v, CAST(nw AS BIGINT) AS n_window,
         |  CAST(round((ma) * 1000000) / 1000000 AS DOUBLE) AS ma,
         |  CAST(round((ma + 2.0 * sd) * 1000000) / 1000000 AS DOUBLE)
         |    AS upper,
         |  CAST(round((ma - 2.0 * sd) * 1000000) / 1000000 AS DOUBLE)
         |    AS lower,
         |  CAST(round(((v - (ma - 2.0 * sd))
         |    / nullif((ma + 2.0 * sd) - (ma - 2.0 * sd), 0.0)
         |   ) * 1000000) / 1000000 AS DOUBLE) AS pct_b
         |FROM c ORDER BY user_id, bucket""".stripMargin),

    // Dickey–Fuller unit-root stat per user: OLS of Δv on v_{t-1} from
    // exact integer moments; reject flag compares the ROUNDED t to
    // -2.86 so the boolean can't straddle an engine rounding edge.
    Q("ts_adf", (s, dir) =>
      TimeSeries.dickeyFuller(
          T(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("user_id"),
      // Dickey–Fuller: exact HUGEINT moments of (x = v_lag, y = Δv) ×10⁶,
      // n-scaled centered moments as exact integers, one double closed
      // form; greatest(·,0) and nullif mirror the Spark guards.
      s"""WITH ${hourlyCte()},
         |p AS (SELECT user_id, v,
         |        lag(v) OVER (PARTITION BY user_id ORDER BY bucket) AS xv
         |      FROM b),
         |q AS (SELECT user_id, CAST(xv * 1000000 AS HUGEINT) AS x,
         |        CAST((v - xv) * 1000000 AS HUGEINT) AS y
         |      FROM p WHERE xv IS NOT NULL AND v IS NOT NULL),
         |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         |        sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
         |        sum(x * y) AS sxy, sum(y * y) AS syy
         |      FROM q GROUP BY 1),
         |c AS (SELECT user_id, n,
         |        CAST(n * sxx - sx * sx AS DOUBLE) AS cxx,
         |        CAST(n * sxy - sx * sy AS DOUBLE) AS cxy,
         |        CAST(n * syy - sy * sy AS DOUBLE) AS cyy FROM m),
         |g AS (SELECT user_id, n, cxx, cxy, cyy,
         |        cxy / nullif(cxx, 0.0) AS gamma FROM c),
         |t AS (SELECT user_id, n, gamma,
         |        CASE WHEN n >= 3 THEN gamma / nullif(sqrt(greatest(
         |          (cyy - gamma * cxy)
         |            / ((CAST(n AS DOUBLE) - 2.0) * cxx), 0.0)), 0.0)
         |        END AS t_raw
         |      FROM g),
         |f AS (SELECT user_id, n AS n_obs,
         |        CAST(round((gamma) * 1000000) / 1000000 AS DOUBLE)
         |          AS gamma,
         |        CAST(round((t_raw) * 1000000) / 1000000 AS DOUBLE)
         |          AS t_stat
         |      FROM t)
         |SELECT user_id, n_obs, gamma, t_stat,
         |  CASE WHEN t_stat IS NOT NULL THEN t_stat < -2.86 END
         |    AS reject_unit_root
         |FROM f ORDER BY user_id""".stripMargin),

    // Theil–Sen robust trend per user: slope = median pairwise slope over
    // the observed hourly buckets (≤ 512 per key before the per-key
    // quadratic), intercept = median residual — the outlier-immune face
    // of ts_ols.
    Q("ts_theil_sen", (s, dir) =>
      TimeSeries.theilSen(
          T(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("user_id"),
      // Theil–Sen: median pairwise slope over ≤ 512 observed buckets, then
      // median residual; interpolated quantiles route DECIMAL(24,12)
      // before the 6-dp round.
      s"""WITH ${indexedCtes(512)},
         |p AS (SELECT a.k,
         |        round(((CAST(b2.v AS DOUBLE) - CAST(a.v AS DOUBLE))
         |          / CAST(b2.t - a.t AS DOUBLE)) * 1000000000) / 1000000000 AS ps
         |      FROM ii a JOIN ii b2 ON a.k = b2.k AND a.t < b2.t),
         |s AS (SELECT k, count(*) AS n_pairs,
         |        quantile_cont(ps, 0.5) AS slope_raw
         |      FROM p GROUP BY 1),
         |rs AS (SELECT i2.k, s.n_pairs, s.slope_raw,
         |        round((CAST(i2.v AS DOUBLE)
         |          - s.slope_raw * CAST(i2.t AS DOUBLE)) * 1000000000)
         |          / 1000000000 AS r
         |      FROM ii i2 JOIN s ON i2.k = s.k),
         |f AS (SELECT k, n_pairs, slope_raw, count(*) AS n_buckets,
         |        quantile_cont(r, 0.5) AS icept_raw
         |      FROM rs GROUP BY 1, 2, 3)
         |SELECT k AS user_id, n_buckets, n_pairs,
         |  CAST(round((slope_raw) * 1000000) / 1000000 AS DOUBLE)
         |    AS slope,
         |  CAST(round((icept_raw) * 1000000) / 1000000 AS DOUBLE)
         |    AS intercept
         |FROM f ORDER BY user_id""".stripMargin),

    // Top motif per user: the closest non-overlapping pair of length-4
    // hourly subsequences (the matrix-profile question for the single
    // best motif; per-key quadratic capped at 256 buckets).
    Q("ts_motif", (s, dir) =>
      TimeSeries.motifDiscovery(
          T(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("user_id"),
      // Motif: lead-assembled length-4 windows over the observed index,
      // non-overlapping pairwise distances, per-key argmin.
      s"""WITH ${indexedCtes(256)},
         |sb AS (SELECT k, t, CAST(v AS DOUBLE) AS v0,
         |        CAST(lead(v, 1) OVER w AS DOUBLE) AS v1,
         |        CAST(lead(v, 2) OVER w AS DOUBLE) AS v2,
         |        CAST(lead(v, 3) OVER w AS DOUBLE) AS v3
         |      FROM ii WINDOW w AS (PARTITION BY k ORDER BY t)),
         |s2 AS (SELECT * FROM sb WHERE v1 IS NOT NULL
         |        AND v2 IS NOT NULL AND v3 IS NOT NULL),
         |nw AS (SELECT k, count(*) AS n_windows FROM s2 GROUP BY 1),
         |p AS (SELECT a.k, a.t AS pos_a, b2.t AS pos_b,
         |        round(((a.v0 - b2.v0) * (a.v0 - b2.v0)
         |          + (a.v1 - b2.v1) * (a.v1 - b2.v1)
         |          + (a.v2 - b2.v2) * (a.v2 - b2.v2)
         |          + (a.v3 - b2.v3) * (a.v3 - b2.v3)) * 1000000000)
         |          / 1000000000 AS dist2
         |      FROM s2 a JOIN s2 b2 ON a.k = b2.k AND b2.t >= a.t + 4),
         |r AS (SELECT k, pos_a, pos_b, dist2 FROM p
         |      QUALIFY row_number() OVER (PARTITION BY k
         |        ORDER BY dist2, pos_a, pos_b) = 1)
         |SELECT r.k AS user_id, n_windows, pos_a, pos_b,
         |  round(dist2 * 1000000) / 1000000 AS dist2
         |FROM r JOIN nw ON r.k = nw.k ORDER BY user_id""".stripMargin),

    // Lag-1 cross-correlation between each user's hourly value-sum and
    // event-count series — both series from ONE bucketize pass.
    Q("ts_xcorr", (s, dir) =>
      TimeSeries.crossCorr(
          T(s, dir, "events"), "user_id", "ts", "value", lag = 1)
        .orderBy("user_id"),
      s"""WITH ${hourlyCte(counted = true)},
         |l AS (SELECT user_id, v,
         |        lag(n, 1) OVER (PARTITION BY user_id ORDER BY bucket) AS y
         |      FROM b),
         |q AS (SELECT * FROM l WHERE y IS NOT NULL AND v IS NOT NULL),
         |a AS (SELECT user_id, count(*) AS n_pairs,
         |        CAST(sum(v) AS DOUBLE) AS sx, sum(y) AS sy,
         |        CAST(sum(CAST(v * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
         |        CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         |        CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
         |          AS DECIMAL(38,0)) AS syy
         |      FROM q GROUP BY 1),
         |c AS (SELECT user_id, n_pairs,
         |        CAST(n_pairs AS DOUBLE) * sxx - sx * sx AS den1,
         |        CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
         |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS den2,
         |        CAST(n_pairs AS DOUBLE) * sxy
         |          - sx * CAST(sy AS DOUBLE) AS cov
         |      FROM a)
         |SELECT user_id, n_pairs,
         |  CAST(round((
         |    CASE WHEN den1 > 0 AND den2 > 0
         |         THEN cov / (sqrt(den1) * sqrt(den2)) END
         |   ) * 1000000) / 1000000 AS DOUBLE) AS xcorr
         |FROM c ORDER BY user_id""".stripMargin),

    // Mann–Kendall monotone-trend test per user: exact integer S over
    // the theilSen pair shape, tie-corrected Var(S), continuity-
    // corrected z — "is there a trend" to ts_theil_sen's "how steep".
    Q("ts_mann_kendall", (s, dir) =>
      TimeSeries.mannKendall(
          T(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("user_id"),
      // Mann–Kendall: S and the tie term are exact integers over the
      // theil_sen pair CTEs; Var(S) and z are DECIMAL-routed doubles.
      s"""WITH ${indexedCtes(512)},
         |p AS (SELECT a.k, count(*) AS n_pairs,
         |        CAST(sum(CAST(sign(CAST(b2.v AS DOUBLE)
         |          - CAST(a.v AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s_stat
         |      FROM ii a JOIN ii b2 ON a.k = b2.k AND a.t < b2.t
         |      GROUP BY 1),
         |tg AS (SELECT k, v, count(*) AS tj FROM ii GROUP BY 1, 2),
         |tt AS (SELECT k, CAST(sum(tj) AS BIGINT) AS nb,
         |        CAST(sum(tj * (tj - 1) * (2 * tj + 5)) AS BIGINT)
         |          AS tie_term
         |      FROM tg GROUP BY 1),
         |j AS (SELECT p.k, tt.nb, p.n_pairs, p.s_stat,
         |        CAST(tt.nb * (tt.nb - 1) * (2 * tt.nb + 5)
         |          - tt.tie_term AS DOUBLE) / 18.0 AS var_raw
         |      FROM p JOIN tt ON p.k = tt.k)
         |SELECT k AS user_id, nb AS n_buckets, n_pairs, s_stat,
         |  CAST(round((var_raw) * 1000000) / 1000000 AS DOUBLE)
         |    AS var_s,
         |  CAST(round((CASE WHEN var_raw > 0 THEN
         |      CASE WHEN s_stat > 0
         |             THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_raw)
         |           WHEN s_stat < 0
         |             THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_raw)
         |           ELSE 0.0 END
         |    ELSE NULL END) * 1000000) / 1000000 AS DOUBLE) AS z
         |FROM j ORDER BY user_id""".stripMargin),

    // Wald–Wolfowitz runs test per user around the 6-dp-routed median:
    // run counts from one ordered lag window, z vs the randomness
    // expectation — serial randomness without a correlation model.
    Q("ts_runs_test", (s, dir) =>
      TimeSeries.runsTest(
          T(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("user_id"),
      // Runs test: the above/below classification compares the exact-6-dp
      // bucket value against the DECIMAL-routed median, so run counts are
      // engine-exact; E[R] and z are fixed-order doubles of exact ints.
      """WITH b AS (SELECT user_id AS k, date_trunc('hour', ts) AS bucket,
        |        CAST(CAST(sum(CAST(value AS DECIMAL(18,6)))
        |          AS DECIMAL(18,6)) AS DOUBLE) AS v
        |      FROM events GROUP BY 1, 2),
        |bb AS (SELECT * FROM b WHERE v IS NOT NULL),
        |m AS (SELECT k, count(*) AS n_buckets,
        |        CAST(round(CAST(quantile_cont(v, 0.5) AS DECIMAL(24,12)),
        |          6) AS DOUBLE) AS med
        |      FROM bb GROUP BY 1),
        |c AS (SELECT bb.k, n_buckets, med, bucket, v > med AS above
        |      FROM bb JOIN m ON bb.k = m.k WHERE v <> med),
        |r AS (SELECT k, n_buckets, med, above,
        |        CASE WHEN lag(above) OVER (PARTITION BY k ORDER BY bucket)
        |            IS NULL OR above <> lag(above)
        |            OVER (PARTITION BY k ORDER BY bucket)
        |          THEN 1 ELSE 0 END AS brk
        |      FROM c),
        |a AS (SELECT k, n_buckets, med,
        |        CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_above,
        |        CAST(sum(CASE WHEN above THEN 0 ELSE 1 END) AS BIGINT)
        |          AS n_below,
        |        CAST(sum(brk) AS BIGINT) AS n_runs
        |      FROM r GROUP BY 1, 2, 3)
        |SELECT k AS user_id, n_buckets, med, n_above, n_below, n_runs,
        |  CAST(round((1.0 + CAST(2 * n_above * n_below AS DOUBLE)
        |      / CAST(n_above + n_below AS DOUBLE)) * 1000000) / 1000000
        |    AS DOUBLE) AS expected_runs,
        |  CAST(round((CASE WHEN n_above + n_below > 1
        |      AND 2 * n_above * n_below > n_above + n_below THEN
        |      (CAST(n_runs AS DOUBLE) - (1.0
        |        + CAST(2 * n_above * n_below AS DOUBLE)
        |          / CAST(n_above + n_below AS DOUBLE)))
        |      / sqrt(CAST(2 * n_above * n_below AS DOUBLE)
        |        * CAST(2 * n_above * n_below - (n_above + n_below)
        |            AS DOUBLE)
        |        / (CAST(n_above + n_below AS DOUBLE)
        |          * CAST(n_above + n_below AS DOUBLE)
        |          * CAST(n_above + n_below - 1 AS DOUBLE)))
        |    ELSE NULL END) * 1000000) / 1000000 AS DOUBLE) AS z
        |FROM a ORDER BY user_id""".stripMargin),

    // Hurst exponent per user via rescaled-range analysis over dyadic
    // windows {4,8,16,32}: exact scaled-deviation prefix sums, log2
    // R/S slope — long-memory persistence vs mean reversion.
    Q("ts_hurst", (s, dir) =>
      TimeSeries.hurstExponent(
          T(s, dir, "events"), "user_id", "ts", "value",
          windows = Seq(4, 8, 16, 32))
        .orderBy("user_id"),
      // Hurst R/S: scaled deviations w·v − Σv keep prefix sums exact in
      // DECIMAL; per-window variance 9-dp-routed before the S > 0 gate;
      // R/S, per-size means and log2 points 6-dp-routed; OLS over exact
      // DECIMAL sums with exact-integer x = log2(w).
      s"""WITH ${indexedCtes(512)},
         |nb AS (SELECT k, count(*) AS n_buckets FROM ii GROUP BY 1),
         |rep AS (SELECT k, t, v, w,
         |        CAST(floor(CAST(t AS DOUBLE) / CAST(w AS DOUBLE))
         |          AS BIGINT) AS chunk
         |      FROM ii CROSS JOIN (SELECT unnest([4, 8, 16, 32]) AS w)),
         |wc AS (SELECT k, w, chunk, t, v,
         |        count(*) OVER (PARTITION BY k, w, chunk) AS cnt,
         |        sum(v) OVER (PARTITION BY k, w, chunk) AS sv
         |      FROM rep),
         |fc AS (SELECT * FROM wc WHERE cnt = w),
         |dv AS (SELECT k, w, chunk, t, v, sv, w * v - sv AS dev FROM fc),
         |px AS (SELECT k, w, chunk, sv, v,
         |        sum(dev) OVER (PARTITION BY k, w, chunk ORDER BY t) AS pfx
         |      FROM dv),
         |ch AS (SELECT k, w, chunk, sv,
         |        max(pfx) - min(pfx) AS r_scaled,
         |        CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DECIMAL(38,12))
         |          AS svv
         |      FROM px GROUP BY 1, 2, 3, 4),
         |r1 AS (SELECT k, w, r_scaled,
         |        CAST(round((CAST(svv AS DOUBLE) / CAST(w AS DOUBLE)
         |          - (CAST(sv AS DOUBLE) / CAST(w AS DOUBLE))
         |            * (CAST(sv AS DOUBLE) / CAST(w AS DOUBLE))
         |         ) * 1000000000) / 1000000000 AS DOUBLE) AS var9
         |      FROM ch),
         |r2 AS (SELECT k, w,
         |        CAST(round((CAST(r_scaled AS DOUBLE)
         |          / CAST(w AS DOUBLE) / sqrt(var9)
         |         ) * 1000000) / 1000000 AS DECIMAL(18,6)) AS rs6
         |      FROM r1 WHERE var9 > 0),
         |pw AS (SELECT k, w, count(*) AS n_chunks,
         |        CAST(sum(rs6) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |          AS mrs_raw
         |      FROM r2 GROUP BY 1, 2),
         |p2 AS (SELECT k, w, n_chunks,
         |        CAST(round((mrs_raw) * 1000000) / 1000000
         |          AS DECIMAL(18,6)) AS mrs
         |      FROM pw),
         |pt AS (SELECT k, n_chunks,
         |        CASE w WHEN 4 THEN 2.0 WHEN 8 THEN 3.0 WHEN 16 THEN 4.0
         |          WHEN 32 THEN 5.0 WHEN 64 THEN 6.0 END AS x,
         |        CAST(round((ln(CAST(mrs AS DOUBLE)) / ln(2.0)
         |         ) * 1000000) / 1000000 AS DECIMAL(18,6)) AS y
         |      FROM p2 WHERE mrs > 0),
         |o AS (SELECT k, count(*) AS n_sizes,
         |        CAST(sum(n_chunks) AS BIGINT) AS n_windows,
         |        sum(CAST(x AS DECIMAL(18,6))) AS sx,
         |        sum(y) AS sy,
         |        sum(CAST(CAST(x AS DECIMAL(18,6)) * y AS DECIMAL(38,12)))
         |          AS sxy,
         |        sum(CAST(x * x AS DECIMAL(18,6))) AS sxx
         |      FROM pt GROUP BY 1 HAVING count(*) >= 2)
         |SELECT o.k AS user_id, nb.n_buckets, n_sizes, n_windows,
         |  CAST(round(((CAST(n_sizes AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / (CAST(n_sizes AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |   ) * 1000000) / 1000000 AS DOUBLE) AS hurst
         |FROM o JOIN nb ON o.k = nb.k ORDER BY user_id""".stripMargin),

    // Turning-point test per user: strict local-extrema count vs the
    // i.i.d. expectation 2(n-2)/3 — the oscillation-rate member of the
    // randomness panel (runs = levels, ACF = linear memory).
    Q("ts_turning_points", (s, dir) =>
      TimeSeries.turningPoints(
          T(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("user_id"),
      // Turning points: strict comparisons on exact DECIMAL bucket values
      // (ties break nothing), expectation/z DECIMAL-routed doubles.
      s"""WITH ${hourlyCte("user_id AS k")},
         |bb AS (SELECT * FROM b WHERE v IS NOT NULL),
         |t AS (SELECT k, v,
         |        lag(v) OVER (PARTITION BY k ORDER BY bucket) AS pv,
         |        lead(v) OVER (PARTITION BY k ORDER BY bucket) AS nv
         |      FROM bb),
         |a AS (SELECT k, count(*) AS n_buckets,
         |        CAST(sum(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL
         |            AND ((v > pv AND v > nv) OR (v < pv AND v < nv))
         |          THEN 1 ELSE 0 END) AS BIGINT) AS n_turning
         |      FROM t GROUP BY 1 HAVING count(*) >= 3)
         |SELECT k AS user_id, n_buckets, n_turning,
         |  CAST(round((2.0 * CAST(n_buckets - 2 AS DOUBLE) / 3.0
         |   ) * 1000000) / 1000000 AS DOUBLE) AS expected,
         |  CAST(round(((CAST(n_turning AS DOUBLE)
         |      - 2.0 * CAST(n_buckets - 2 AS DOUBLE) / 3.0)
         |    / sqrt((16.0 * CAST(n_buckets AS DOUBLE) - 29.0) / 90.0)
         |   ) * 1000000) / 1000000 AS DOUBLE) AS z
         |FROM a ORDER BY user_id""".stripMargin),

    // Lag-1 Granger screen: does last hour's click volume improve the
    // AR(1) forecast of purchase volume?
    Q("ts_granger", (s, dir) =>
      TimeSeries.grangerLite(
        T(s, dir, "events"), "purchase", "click"),
      // Granger screen: n-scaled centered moments stay exact 128-bit
      // integers (HUGEINT mirrors Spark's DECIMAL(38,0)); both engines
      // then evaluate the identical double ratio.
      """WITH b AS (SELECT event_type AS t,
        |        CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bk,
        |        CAST(count(*) AS BIGINT) AS c
        |      FROM events WHERE event_type IN ('purchase', 'click')
        |      GROUP BY 1, 2),
        |span AS (SELECT min(bk) AS lo, max(bk) AS hi FROM b),
        |spine AS (SELECT unnest(generate_series(lo, hi)) AS bk FROM span),
        |grid AS (SELECT spine.bk, CAST(coalesce(a.c, 0) AS BIGINT) AS y,
        |        CAST(coalesce(xx.c, 0) AS BIGINT) AS x
        |      FROM spine
        |      LEFT JOIN b a ON a.t = 'purchase' AND a.bk = spine.bk
        |      LEFT JOIN b xx ON xx.t = 'click' AND xx.bk = spine.bk),
        |l AS (SELECT y, lag(y) OVER (ORDER BY bk) AS u,
        |        lag(x) OVER (ORDER BY bk) AS v FROM grid),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        sum(CAST(y AS HUGEINT)) AS sy, sum(CAST(u AS HUGEINT)) AS su,
        |        sum(CAST(v AS HUGEINT)) AS sv,
        |        sum(CAST(y * y AS HUGEINT)) AS syy,
        |        sum(CAST(u * u AS HUGEINT)) AS suu,
        |        sum(CAST(v * v AS HUGEINT)) AS svv,
        |        sum(CAST(u * y AS HUGEINT)) AS suy,
        |        sum(CAST(v * y AS HUGEINT)) AS svy,
        |        sum(CAST(u * v AS HUGEINT)) AS suv
        |      FROM l WHERE u IS NOT NULL),
        |s AS (SELECT n,
        |        CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) AS cyy,
        |        CAST(CAST(n AS HUGEINT) * suu - su * su AS DOUBLE) AS cuu,
        |        CAST(CAST(n AS HUGEINT) * svv - sv * sv AS DOUBLE) AS cvv,
        |        CAST(CAST(n AS HUGEINT) * suy - su * sy AS DOUBLE) AS cuy,
        |        CAST(CAST(n AS HUGEINT) * svy - sv * sy AS DOUBLE) AS cvy,
        |        CAST(CAST(n AS HUGEINT) * suv - su * sv AS DOUBLE) AS cuv
        |      FROM m),
        |r AS (SELECT n AS n_lags,
        |        CAST(round(((cuy * cuy) / nullif(cuu * cyy, 0.0)
        |         ) * 1000000) / 1000000 AS DOUBLE) AS r2_ar1,
        |        CAST(round((
        |          ((cuy * cvv - cvy * cuv) * cuy +
        |           (cvy * cuu - cuy * cuv) * cvy)
        |          / nullif((cuu * cvv - cuv * cuv) * cyy, 0.0)
        |         ) * 1000000) / 1000000 AS DOUBLE) AS r2_full
        |      FROM s)
        |SELECT n_lags, r2_ar1, r2_full,
        |  CAST(round((r2_full - r2_ar1) * 1000000) / 1000000
        |    AS DOUBLE) AS r2_gain
        |FROM r""".stripMargin),

    // Hour-of-day seasonal strength per user: SSB/SST from per-phase
    // exact aggregates (no windows at all); peak phase ranked by the
    // 6-dp-rounded double mean so every engine agrees on ties.
    Q("ts_seasonal", (s, dir) =>
      TimeSeries.seasonalStrength(
          T(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("user_id"),
      s"""WITH per AS (SELECT user_id,
         |        CAST(floor((epoch(ts) % 86400) / 3600) AS BIGINT) AS phase,
         |        CAST(value AS DECIMAL(18,6)) AS x
         |      FROM events WHERE value IS NOT NULL),
         |$seasonalCtes
         |SELECT $strengthSelect
         |FROM c JOIN pk ON c.user_id = pk.user_id AND pk.rk = 1
         |ORDER BY c.user_id""".stripMargin),

    // SAX shape words (8 segments, 4-letter alphabet): z-normalize on
    // exact key moments, PAA segment means over 6-dp DECIMAL z sums,
    // Gaussian-breakpoint letters — degenerate keys omitted.
    Q("ts_sax", (s, dir) =>
      TimeSeries.sax(
          T(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("user_id"),
      s"""WITH ${hourlyCte()},
         |${saxCtes("b")}
         |SELECT user_id, max(nk) AS n_buckets,
         |  string_agg(letter, '' ORDER BY seg) AS sax
         |FROM le GROUP BY user_id ORDER BY user_id""".stripMargin),

    // M4 downsampling (min/max/first/last per hour bucket): the
    // error-free chart/scan reduction as ONE map-side-combinable
    // aggregate — no window, no sort, values pass through untouched.
    Q("ts_m4", (s, dir) =>
      TimeSeries.m4Downsample(
          T(s, dir, "events").filter(col("user_id") < 100),
          "user_id", "ts", "value")
        .orderBy("user_id", "bucket"),
      // M4 mirror: min/max are plain aggregates; first/last resolve the
      // min_by/max_by (ts, event_id) order via row_number windows. Values
      // pass through with no arithmetic.
      """WITH e AS (SELECT user_id, date_trunc('hour', ts) AS bucket,
        |    ts, event_id, value
        |  FROM events WHERE user_id < 100),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY user_id, bucket
        |      ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY user_id, bucket
        |      ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM e)
        |SELECT user_id, bucket, count(*) AS n,
        |  min(value) AS v_min, max(value) AS v_max,
        |  max(CASE WHEN ra = 1 THEN value END) AS v_first,
        |  max(CASE WHEN rd = 1 THEN value END) AS v_last
        |FROM r GROUP BY 1, 2
        |ORDER BY user_id, bucket""".stripMargin),

    // LTTB-style visual downsample (mean-anchor parallel variant): per
    // event type, the 16 most shape-preserving points — the perceptual
    // counterpart of ts_m4's error-free min/max envelope.
    Q("ts_lttb", (s, dir) =>
      TimeSeries.lttbDownsample(T(s, dir, "events"),
          "event_type", "ts", "value", 16)
        .withColumnRenamed("k", "event_type")
        .orderBy("event_type", "bucket"),
      // LTTB mean-anchor variant: integer range bucketing on exact
      // micros-from-min, 6-dp anchor means, the doubled-area expression
      // transcribed operation-for-operation, argmax tie-broken
      // (area DESC, dt ASC, id ASC); endpoint buckets keep first/last.
      """WITH e AS (SELECT event_type AS k, epoch_us(ts) AS t,
        |        CAST(value AS DOUBLE) AS v, event_id AS id FROM events),
        |bd AS (SELECT k, min(t) AS tmin, max(t) AS tmax FROM e GROUP BY 1),
        |b AS (SELECT e.k, t, t - tmin AS dt, v, id,
        |        CAST(((t - tmin) * 16) // (tmax - tmin + 1) AS INT) AS bucket
        |      FROM e JOIN bd ON bd.k = e.k),
        |an AS (SELECT k, bucket,
        |        round((CAST(sum(dt) AS DOUBLE) / count(*)) * 1000000) / 1000000 AS mt,
        |        round((CAST(sum(CAST(round(v, 6) AS DECIMAL(28,6)))
        |          AS DOUBLE) / count(*)) * 1000000) / 1000000 AS mv
        |      FROM b GROUP BY 1, 2),
        |wa AS (SELECT b.k, b.bucket, b.t, CAST(b.dt AS DOUBLE) AS dtd,
        |        b.v, b.id,
        |        coalesce(l.mt, o.mt) AS lt, coalesce(l.mv, o.mv) AS lv,
        |        coalesce(r.mt, o.mt) AS rt, coalesce(r.mv, o.mv) AS rv
        |      FROM b JOIN an o ON o.k = b.k AND o.bucket = b.bucket
        |      LEFT JOIN an l ON l.k = b.k AND l.bucket = b.bucket - 1
        |      LEFT JOIN an r ON r.k = b.k AND r.bucket = b.bucket + 1),
        |ar AS (SELECT k, bucket, t, dtd, v, id,
        |        round(abs((lt - rt) * (v - rv) - (lt - dtd) * (rv - lv)), 6)
        |          AS area FROM wa),
        |firstb AS (SELECT k, bucket, t, v FROM (
        |      SELECT k, bucket, t, v, row_number() OVER (
        |        PARTITION BY k, bucket ORDER BY dt, id) AS rn
        |      FROM b WHERE bucket = 0) WHERE rn = 1),
        |lastb AS (SELECT k, bucket, t, v FROM (
        |      SELECT k, bucket, t, v, row_number() OVER (
        |        PARTITION BY k, bucket ORDER BY dt DESC, id DESC) AS rn
        |      FROM b WHERE bucket = 15) WHERE rn = 1),
        |midb AS (SELECT k, bucket, t, v FROM (
        |      SELECT k, bucket, t, v, row_number() OVER (
        |        PARTITION BY k, bucket ORDER BY area DESC, dtd, id) AS rn
        |      FROM ar WHERE bucket > 0 AND bucket < 15) WHERE rn = 1)
        |SELECT k AS event_type, bucket, make_timestamp(t) AS ts,
        |  v AS value
        |FROM (SELECT * FROM firstb UNION ALL SELECT * FROM midb
        |      UNION ALL SELECT * FROM lastb)
        |ORDER BY event_type, bucket""".stripMargin),

    // Seasonal-naive backtest: forecast each hour as 24h earlier, MAE
    // over the last 48 hours — the "can we just use last week" check.
    Q("ts_backtest_naive", (s, dir) =>
      TimeSeries.seasonalNaiveBacktest(T(s, dir, "events"),
          "event_type", "ts", "value", 24, 48)
        .withColumnRenamed("k", "event_type")
        .orderBy("event_type"),
      // Seasonal-naive backtest: the dft hour-index convention, a
      // (key, h−24) self-join, DECIMAL |error| sums.
      s"""WITH $hourMeanCtes,
         |hm AS (SELECT k, max(h) AS hmax FROM hr GROUP BY 1),
         |test AS (SELECT hr.k, h, vh FROM hr JOIN hm ON hm.k = hr.k
         |      WHERE h > hmax - 48),
         |fc AS (SELECT k, h + 24 AS h, vh AS pred FROM hr)
         |SELECT t2.k AS event_type, count(*) AS n_test,
         |  round((CAST(sum(CAST(round(abs(vh - pred), 6) AS DECIMAL(28,6)))
         |    AS DOUBLE) / count(*)) * 1000000) / 1000000 AS mae
         |FROM test t2 JOIN fc ON fc.k = t2.k AND fc.h = t2.h
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Spectral entropy of the 4-harmonic power spectrum: ~0 = periodic,
    // ~ln 4 = noise-like — the predictability gate before seasonal fits.
    Q("ts_spectral_entropy", (s, dir) =>
      TimeSeries.spectralEntropy(
          T(s, dir, "events"), "event_type", "ts", "value")
        .orderBy("event_type"),
      // Spectral entropy over the SAME dft chain: normalized 9-dp powers,
      // per-harmonic -p·ln p terms DECIMAL-summed.
      s"""WITH $dftCtes,
         |p2 AS (SELECT k, round((amplitude * amplitude) * 1000000000) / 1000000000 AS p2 FROM (
         |      SELECT k, round(sqrt(a * a + b * b)
         |        / CAST(n_hours AS DOUBLE) * 1000000) / 1000000
         |        AS amplitude FROM agg)),
         |t AS (SELECT k, count(*) AS n_harmonics,
         |        sum(CAST(p2 AS DECIMAL(28,9))) AS tot FROM p2 GROUP BY 1),
         |t2 AS (SELECT p2.k, n_harmonics,
         |        CASE WHEN tot > 0 AND p2 > 0
         |          THEN -(p2 / CAST(tot AS DOUBLE)
         |            * ln(p2 / CAST(tot AS DOUBLE)))
         |          ELSE 0.0 END AS term
         |      FROM p2 JOIN t ON t.k = p2.k),
         |h AS (SELECT k, n_harmonics,
         |        sum(CAST(round(term, 9) AS DECIMAL(28,9))) AS h
         |      FROM t2 GROUP BY 1, 2)
         |SELECT k AS event_type, n_harmonics,
         |  round(CAST(h AS DOUBLE) * 1000000) / 1000000 AS spectral_entropy,
         |  round(CAST(h AS DOUBLE) / ln(CAST(n_harmonics AS DOUBLE)), 6)
         |    AS norm_entropy
         |FROM h ORDER BY event_type""".stripMargin),

    // Bandt–Pompe permutation entropy (order 3) per user — model-free
    // trend-vs-noise complexity from ordinal patterns of hourly triples.
    Q("ts_perm_entropy", (s, dir) =>
      TimeSeries.permutationEntropy(
          T(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("user_id"),
      // Permutation entropy: lead-built triples, Bandt–Pompe positional
      // tie ranks, corpus-entropy recipe per key.
      s"""WITH ${indexedCtes(4096, "v AS v0")},
         |tr AS (SELECT k, v0, lead(v0, 1) OVER w AS v1,
         |        lead(v0, 2) OVER w AS v2
         |      FROM ii WINDOW w AS (PARTITION BY k ORDER BY t)),
         |t3 AS (SELECT * FROM tr WHERE v1 IS NOT NULL AND v2 IS NOT NULL),
         |cd AS (SELECT k,
         |        ((CASE WHEN v1 < v0 THEN 1 ELSE 0 END)
         |          + (CASE WHEN v2 < v0 THEN 1 ELSE 0 END)) * 9
         |        + ((CASE WHEN v0 <= v1 THEN 1 ELSE 0 END)
         |          + (CASE WHEN v2 < v1 THEN 1 ELSE 0 END)) * 3
         |        + (CASE WHEN v0 <= v2 THEN 1 ELSE 0 END)
         |        + (CASE WHEN v1 <= v2 THEN 1 ELSE 0 END) AS code
         |      FROM t3),
         |c AS (SELECT k, code, count(*) AS c FROM cd GROUP BY 1, 2),
         |a AS (SELECT k, CAST(sum(c) AS BIGINT) AS n_triples,
         |        count(*) AS n_patterns,
         |        sum(CAST(round(c * ln(c), 6) AS DECIMAL(18,6))) AS sclogc
         |      FROM c GROUP BY 1)
         |SELECT k AS user_id, n_triples, n_patterns,
         |  round(ln(CAST(n_triples AS DOUBLE))
         |    - CAST(sclogc AS DOUBLE) / n_triples, 6) AS perm_entropy,
         |  round((ln(CAST(n_triples AS DOUBLE))
         |    - CAST(sclogc AS DOUBLE) / n_triples) / ln(6.0), 6)
         |    AS norm_entropy
         |FROM a ORDER BY user_id""".stripMargin),

    // Page's one-sided CUSUM drift scan per user (h = 4σ): sustained
    // small shifts fire here long before any per-point z-score.
    Q("ts_cusum", (s, dir) =>
      TimeSeries.cusumScan(
          T(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("user_id"),
      // CUSUM: exact DECIMAL prefix sums, running extrema as nested
      // windows, alarm from 6-dp-rounded excursions vs rounded sigma.
      s"""WITH ${hourlyCte("user_id AS k")},
         |bb AS (SELECT * FROM b WHERE v IS NOT NULL),
         |st AS (SELECT k, count(*) AS n_buckets,
         |        CAST(sum(v) AS DECIMAL(38,6)) AS sv,
         |        CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) AS svv
         |      FROM bb GROUP BY 1),
         |wm AS (SELECT bb.k, bucket, n_buckets, sv, svv,
         |        CAST(round((CAST(v AS DOUBLE) - CAST(sv AS DOUBLE)
         |          / CAST(n_buckets AS DOUBLE)) * 1000000) / 1000000
         |          AS DECIMAL(18,6)) AS dev
         |      FROM bb JOIN st ON st.k = bb.k),
         |p1 AS (SELECT k, n_buckets, sv, svv, bucket,
         |        sum(dev) OVER (PARTITION BY k ORDER BY bucket) AS pfx
         |      FROM wm),
         |p2 AS (SELECT k, n_buckets, sv, svv, pfx,
         |        min(pfx) OVER (PARTITION BY k ORDER BY bucket) AS runmin,
         |        max(pfx) OVER (PARTITION BY k ORDER BY bucket) AS runmax
         |      FROM p1),
         |a AS (SELECT k, n_buckets, sv, svv,
         |        max(CAST(pfx - runmin AS DOUBLE)) AS up,
         |        max(CAST(runmax - pfx AS DOUBLE)) AS down
         |      FROM p2 GROUP BY 1, 2, 3, 4),
         |f AS (SELECT k, n_buckets,
         |        round(up, 6) AS cusum_up, round(down, 6) AS cusum_down,
         |        round(sqrt(greatest(svv / CAST(n_buckets AS DOUBLE)
         |          - (CAST(sv AS DOUBLE) / CAST(n_buckets AS DOUBLE))
         |          * (CAST(sv AS DOUBLE) / CAST(n_buckets AS DOUBLE)),
         |          0.0)) * 1000000) / 1000000 AS sigma
         |      FROM a)
         |SELECT k AS user_id, n_buckets, cusum_up, cusum_down, sigma,
         |  greatest(cusum_up, cusum_down) > 4.0 * sigma AS alarm
         |FROM f ORDER BY user_id""".stripMargin),

    // DFT amplitudes at harmonics 1-4 over each event type's hourly
    // mean series — the period-free spectral periodicity profile beside
    // ts_seasonal's fixed-period strength test.
    Q("ts_dft", (s, dir) =>
      TimeSeries.dftSpectrum(T(s, dir, "events"),
          "event_type", "ts", "value", 4)
        .withColumnRenamed("k", "event_type")
        .orderBy("event_type", "harmonic"),
      // DFT: exact integer hour index ((t−tmin) − remainder, exact
      // division), per-term round(6) on the cos/sin products (libm ulps
      // die in the rounding), DECIMAL sums, one rounded sqrt.
      s"""WITH $dftCtes
         |SELECT k AS event_type, harmonic, n_hours,
         |  round(sqrt(a * a + b * b) / CAST(n_hours AS DOUBLE) * 1000000)
         |    / 1000000 AS amplitude
         |FROM agg ORDER BY event_type, harmonic""".stripMargin),

    // CHAINED time-series pipeline — the composition the family is
    // actually consumed as (every solo oracle checks one link; this one
    // checks the chain contract): raw events → hourly linear-interpolated
    // grid (resampleInterpolate) → hour-of-day seasonal strength AND SAX
    // shape word, both computed over the FILLED series (tsCol = the grid
    // bucket, valueCol = the 6-dp-quantized interpolated value, so the
    // downstream operators see a gapless signal, which is the entire
    // point of the fill). Inner join on the key: SAX omits degenerate
    // (<2-bucket / zero-variance) keys and the chain output follows that
    // convention. One output row per user. The oracle replays the SAME
    // three stages as one CTE chain — cross-operator contract drift
    // (e.g. a fill output rename or requantization) breaks this row even
    // when all ten solo ts oracles stay green.
    Q("ts_pipeline_e2e", (s, dir) => {
      // materialize-once (r20): seasonalStrength AND sax both read the
      // interpolated frame; lazily composed, the whole per-user
      // resample+interpolation window chain executed once under EACH
      // consumer (ReuseExchange shares the shuffle, not the window
      // compute above it) — the checkpoint halves the serial window
      // work. Deterministic frame; oracle output unchanged.
      val filled = TimeSeries.resampleInterpolate(
        T(s, dir, "events").filter(col("user_id") < 50), "user_id", "ts", "value")
        .localCheckpoint()
      val seas = TimeSeries.seasonalStrength(
        filled, "user_id", "bucket", "v_interp")
      val shapes = TimeSeries.sax(
        filled, "user_id", "bucket", "v_interp")
      seas.join(shapes, Seq("user_id"))
        .select(col("user_id"), col("n_rows"), col("n_phases"),
          col("peak_phase"), col("strength"), col("n_buckets"), col("sax"))
        .orderBy("user_id")
    },
      // One CTE chain replaying the full pipeline: the ts_gapfill fill
      // stage, then the ts_seasonal and ts_sax stages consuming the
      // FILLED series (phase from the grid bucket, x from v_interp).
      s"""WITH ${gridCtes("bounds")},
         |${fillCtes(counted = false)},
         |filled AS (SELECT user_id, bucket,
         |$interpCol
         |  FROM w),
         |per AS (SELECT user_id,
         |        CAST(floor((epoch(bucket) % 86400) / 3600) AS BIGINT) AS phase,
         |        CAST(v_interp AS DECIMAL(18,6)) AS x
         |      FROM filled WHERE v_interp IS NOT NULL),
         |$seasonalCtes,
         |seas AS (SELECT $strengthSelect
         |  FROM c JOIN pk ON c.user_id = pk.user_id AND pk.rk = 1),
         |sb AS (SELECT user_id, bucket,
         |        CAST(sum(CAST(v_interp AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS v
         |      FROM filled GROUP BY 1, 2),
         |${saxCtes("sb")},
         |shapes AS (SELECT user_id, max(nk) AS n_buckets,
         |         string_agg(letter, '' ORDER BY seg) AS sax
         |       FROM le GROUP BY user_id)
         |SELECT seas.user_id, seas.n_rows, seas.n_phases, seas.peak_phase,
         |  seas.strength, shapes.n_buckets, shapes.sax
         |FROM seas JOIN shapes ON seas.user_id = shapes.user_id
         |ORDER BY seas.user_id""".stripMargin)
  )
}
