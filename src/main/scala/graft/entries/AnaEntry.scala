package graft
package entries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.analytics.Analytics
import graft.etl.Transforms
import GraphEntry.{transitionCtes, transitionEdges, transitionNodesCte}
import SparkEntry.{T, eventTransitions}

/** The 40 `ana_*` queries: the analytic reads the star schema exists to
  * serve (funnels, cohorts, sessions, baskets, outliers, Markov chains
  * and PageRank over event-type transitions), each declared once with
  * its Spark frame beside the DuckDB oracle it must equal. The session
  * gap rule ([[sessionCtes]]), the basket tail ([[basketOracle]]), the
  * Markov chain ([[markovCtes]]) and the PageRank rounds
  * ([[pagerankFlowCtes]]) are written once below. The determinism rules
  * of [[SparkEntry]] apply to every entry.
  */
object AnaEntry {

  /** Each event as the interval [ts, ts + 60·value] in epoch seconds,
    * `start_s` and `end_s`, after the `keys` columns. Long arithmetic;
    * floor() (not cast) because Spark truncates and DuckDB rounds on
    * double->bigint casts.
    */
  private def eventIntervals(events: DataFrame, keys: Column*): DataFrame = {
    val start = unix_timestamp(col("ts"))
    events.select(keys ++ Seq(start.as("start_s"),
      (start + floor(col("value") * 60).cast("long")).as("end_s")): _*)
  }

  /** The gap-rule sessions of [[Analytics.sessionEntropy]] in SQL: `o`
    * flags each event that opens a session (no predecessor, or more than
    * 30 minutes after it, in (ts, event_id) order per user), and `s`
    * numbers each user's sessions `sid` by the running sum of the flags.
    */
  private val sessionCtes: String =
    """o AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM o)""".stripMargin

  /** The market-basket oracle over the (basket `b`, item `i`) rows `it`,
    * which `itCtes` define: the basket count `nb`, item frequencies `f`,
    * the pairs `p` in at least 3 baskets, and their support, confidence
    * and lift, top 50 by lift.
    */
  private def basketOracle(itCtes: String): String =
    s"""WITH $itCtes,
       |nb AS (SELECT count(DISTINCT b) AS n_baskets FROM it),
       |f AS (SELECT i, count(*) AS c FROM it GROUP BY 1),
       |p AS (SELECT l.i AS i1, r.i AS i2, count(*) AS c12
       |      FROM it l JOIN it r ON l.b = r.b AND l.i < r.i
       |      GROUP BY 1, 2 HAVING count(*) >= 3)
       |SELECT p.i1, p.i2, p.c12, f1.c AS c1, f2.c AS c2,
       |  round((CAST(p.c12 AS DOUBLE) / n_baskets) * 1000000) / 1000000 AS support,
       |  round((CAST(p.c12 AS DOUBLE) / f1.c) * 1000000) / 1000000 AS confidence,
       |  round((CAST(p.c12 AS DOUBLE) * n_baskets / (f1.c * f2.c)) * 1000000) / 1000000 AS lift
       |FROM p
       |JOIN f f1 ON f1.i = p.i1
       |JOIN f f2 ON f2.i = p.i2
       |CROSS JOIN nb
       |ORDER BY lift DESC, i1, i2 LIMIT 50""".stripMargin

  /** PageRank round k's in-flow `c$k`, the 12-dp DECIMAL sums of
    * rank / out-degree along `e` from round k − 1, and its dangling mass
    * `d$k`: shared by ana_pagerank and ana_pagerank_pers, whose update
    * `r$k` differs only in the teleport vector.
    */
  private def pagerankFlowCtes(k: Int): String = {
    val prev = s"r${k - 1}"
    s"""c$k AS (SELECT e.dst AS node,
       |        sum(CAST(round(($prev.rank / deg.outdeg) * 1e12) / 1e12
       |          AS DECIMAL(18,12))) AS s
       |      FROM e JOIN $prev ON $prev.node = e.src
       |      JOIN deg ON deg.src = e.src GROUP BY 1),
       |d$k AS (SELECT coalesce(sum(CAST(round(rank * 1e12) / 1e12
       |            AS DECIMAL(18,12))),
       |          CAST(0 AS DECIMAL(18,12))) AS dm
       |      FROM $prev WHERE node NOT IN (SELECT src FROM deg))""".stripMargin
  }

  /** The Markov chain of ana_markov_stationary and ana_markov_entropy:
    * `tr`, the per-user (ts, event_id)-successor counts with self-loops;
    * `t`, their 12-dp row-normalized probabilities; `states` and their
    * count `nn`; the uniform `p0`; and 5 rounds of pi' = pi·P, each
    * `f$k` in-flow plus `d$k` dangling mass spread uniformly, to `p5`.
    */
  private val markovCtes: String = {
    val rounds = (1 to 5).map { k =>
      val prev = s"p${k - 1}"
      s"""f$k AS (SELECT t.to_type AS state,
         |        sum(CAST(round(($prev.pi * t.p) * 1e12) / 1e12
         |          AS DECIMAL(18,12))) AS s
         |      FROM t JOIN $prev ON $prev.state = t.from_type GROUP BY 1),
         |d$k AS (SELECT coalesce(sum(CAST(round(pi * 1e12) / 1e12
         |            AS DECIMAL(18,12))),
         |          CAST(0 AS DECIMAL(18,12))) AS dm
         |      FROM $prev WHERE state NOT IN (SELECT from_type FROM t)),
         |p$k AS (SELECT st.state,
         |        coalesce(CAST(f$k.s AS DOUBLE), 0e0)
         |          + CAST(d$k.dm AS DOUBLE) / nn.k AS pi
         |      FROM states st CROSS JOIN nn CROSS JOIN d$k
         |      LEFT JOIN f$k ON f$k.state = st.state)""".stripMargin
    }.mkString(",\n")
    s"""tr AS (SELECT from_type, to_type, count(*) AS n FROM (
       |      SELECT event_type AS from_type,
       |        lead(event_type) OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id) AS to_type
       |      FROM events)
       |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |tot AS (SELECT from_type, sum(n) AS tot FROM tr GROUP BY 1),
       |t AS (SELECT tr.from_type, tr.to_type,
       |        round((CAST(tr.n AS DOUBLE) / tot.tot) * 1e12) / 1e12 AS p
       |      FROM tr JOIN tot USING (from_type)),
       |states AS (SELECT from_type AS state FROM tr
       |           UNION SELECT to_type FROM tr),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
       |p0 AS (SELECT state, 1e0 / nn.k AS pi FROM states CROSS JOIN nn),
       |$rounds""".stripMargin
  }

  val queries: Seq[Q] = Seq(

    // First-touch attribution: every purchase credited to the user's
    // earliest click/view at-or-before it (min-struct aggregate + one
    // keyed join — no window; "first ever" is an associative min).
    Q("ana_attribution", (s, dir) =>
      Analytics.firstTouchAttribution(T(s, dir, "events"),
          Seq("click", "view"), "purchase")
        .orderBy("conversion_id"),
      """WITH ft AS (SELECT user_id, ts AS touch_ts, event_id AS touch_id,
        |    event_type AS touch_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id, event_type) AS rn
        |  FROM events WHERE event_type IN ('click', 'view')),
        |t AS (SELECT user_id, touch_ts, touch_id, touch_type
        |      FROM ft WHERE rn = 1)
        |SELECT c.event_id AS conversion_id, c.user_id,
        |  CASE WHEN t.touch_ts <= c.ts THEN t.touch_id END AS touch_id,
        |  CASE WHEN t.touch_ts <= c.ts THEN t.touch_type END AS touch_type,
        |  CASE WHEN t.touch_ts <= c.ts THEN t.touch_ts END AS touch_ts
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') c
        |LEFT JOIN t ON t.user_id = c.user_id
        |ORDER BY conversion_id""".stripMargin),

    // Interval-union coverage: each event spans [ts, ts + 60·value] s;
    // overlapping-or-touching spans merge per user (busy periods).
    Q("ana_interval_union", (s, dir) =>
      Analytics.intervalUnion(eventIntervals(T(s, dir, "events"), col("user_id")))
        .orderBy("user_id", "covered_from"),
      // CAST(floor(epoch)) — events carry fractional seconds; Spark's
      // unix_timestamp floors while a plain BIGINT cast would round.
      """WITH iv AS (SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS start_s,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      + CAST(floor(value * 60) AS BIGINT) AS end_s
        |  FROM events),
        |m AS (SELECT user_id, start_s, end_s,
        |    max(end_s) OVER (PARTITION BY user_id ORDER BY start_s, end_s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM iv),
        |k AS (SELECT user_id, start_s, end_s,
        |    CASE WHEN prev_max IS NULL OR start_s > prev_max
        |         THEN 1 ELSE 0 END AS newi
        |  FROM m),
        |g AS (SELECT user_id, start_s, end_s,
        |    sum(newi) OVER (PARTITION BY user_id ORDER BY start_s, end_s
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM k)
        |SELECT user_id, min(start_s) AS covered_from, max(end_s) AS covered_to,
        |  max(end_s) - min(start_s) AS covered_seconds,
        |  count(*) AS n_intervals
        |FROM g GROUP BY user_id, island
        |ORDER BY user_id, covered_from""".stripMargin),

    Q("ana_top_parts", (s, dir) => {
      val plays = T(s, dir, "lineitem").select(col("l_partkey").as("song_id"))
      val songs = T(s, dir, "part")
        .select(col("p_partkey").as("song_id"), col("p_name").as("title"))
      Analytics.topSongs(plays, songs, 10)
    },
      """SELECT l_partkey AS song_id, p_name AS title, count(*) AS n_plays
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2 ORDER BY n_plays DESC, song_id LIMIT 10""".stripMargin),

    Q("ana_plays_by_time", (s, dir) => {
      val plays = T(s, dir, "events").select(col("ts").as("start_time"))
      val time = Transforms.buildTime(T(s, dir, "events"))
      Analytics.playsByTime(plays, time)
        .select(col("hour").cast("long").as("hour"),
          col("weekday").cast("long").as("weekday"), col("n_plays"))
        .orderBy("hour", "weekday")
    },
      """SELECT EXTRACT(hour FROM ts) AS hour, dayofweek(ts) AS weekday,
        |  count(*) AS n_plays
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Q("ana_user_activity", (s, dir) => {
      val plays = T(s, dir, "events").select(col("user_id"),
        col("event_type").as("level"),
        get_json_object(col("props"), "$.k").cast("int").as("session_id"))
      Analytics.userActivity(plays).orderBy("user_id", "level")
    },
      """SELECT user_id, event_type AS level, count(*) AS n_plays,
        |  count(DISTINCT CAST(json_extract(props, '$.k') AS INTEGER)) AS n_sessions
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Q("ana_favorite_type", (s, dir) => {
      val e = T(s, dir, "events")
      val plays = e.select(col("user_id"), col("event_type").as("artist_id"))
      val artists = T(s, dir, "events")
        .select(col("event_type").as("artist_id"), upper(col("event_type")).as("name"))
        .distinct()
      Analytics.favoriteArtist(plays, artists).orderBy("user_id")
    },
      """SELECT user_id, artist_id, name, n_plays FROM (
        |  SELECT user_id, event_type AS artist_id, upper(event_type) AS name,
        |         count(*) AS n_plays
        |  FROM events GROUP BY 1, 2, 3) t
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY n_plays DESC, artist_id) = 1
        |ORDER BY user_id""".stripMargin),

    // Ordered conversion funnel signup → click → purchase: stage k+1
    // must happen strictly after the user's earliest in-order completion
    // of stage k. One keyed join per stage, both sides pre-collapsed to
    // a row per user.
    Q("ana_funnel", (s, dir) =>
      Analytics.funnel(T(s, dir, "events"), Seq("signup", "click", "purchase"))
        .orderBy("stage_idx"),
      """WITH r1 AS (SELECT user_id, min(ts) AS reached FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |r2 AS (SELECT e.user_id, min(e.ts) AS reached FROM events e
        |       JOIN r1 ON e.user_id = r1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > r1.reached GROUP BY 1),
        |r3 AS (SELECT e.user_id, min(e.ts) AS reached FROM events e
        |       JOIN r2 ON e.user_id = r2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > r2.reached GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'signup' AS stage,
        |         count(*) AS n_users FROM r1
        |  UNION ALL SELECT 2, 'click', count(*) FROM r2
        |  UNION ALL SELECT 3, 'purchase', count(*) FROM r3)
        |ORDER BY stage_idx""".stripMargin),

    // Time-bounded funnel (ClickHouse windowFunnel semantics): the chain
    // must complete within 24h of its anchoring signup — the conversion
    // window the unbounded funnel overcounts.
    Q("ana_window_funnel", (s, dir) =>
      Analytics.windowFunnel(T(s, dir, "events"),
        Seq("signup", "click", "purchase"), 86400L)
        .orderBy("stage_idx"),
      // Anchored 24h window funnel: every signup starts a chain, each step
      // takes the earliest qualifying event inside the anchor's window.
      """WITH s0 AS (SELECT DISTINCT user_id AS u, epoch_us(ts) AS t0
        |      FROM events WHERE event_type = 'signup'),
        |h1 AS (SELECT user_id AS u, epoch_us(ts) AS ti FROM events
        |      WHERE event_type = 'click'),
        |c1 AS (SELECT u, t0, min(ti) AS tp FROM s0 JOIN h1 USING (u)
        |      WHERE ti > t0 AND ti <= t0 + 86400000000 GROUP BY 1, 2),
        |h2 AS (SELECT user_id AS u, epoch_us(ts) AS ti FROM events
        |      WHERE event_type = 'purchase'),
        |c2 AS (SELECT c1.u, c1.t0, min(ti) AS tp FROM c1 JOIN h2 USING (u)
        |      WHERE ti > c1.tp AND ti <= c1.t0 + 86400000000 GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'signup' AS stage,
        |         (SELECT count(DISTINCT u) FROM s0) AS n_users
        |  UNION ALL SELECT 2, 'click', (SELECT count(DISTINCT u) FROM c1)
        |  UNION ALL SELECT 3, 'purchase', (SELECT count(DISTINCT u) FROM c2))
        |ORDER BY stage_idx""".stripMargin),

    // Weekly cohort retention: (first-activity week, week offset) →
    // distinct active users from that cohort.
    Q("ana_retention", (s, dir) =>
      Analytics.retention(T(s, dir, "events"))
        .orderBy("cohort_week", "week_offset"),
      """WITH weeks AS (SELECT user_id, date_trunc('week', ts) AS week FROM events),
        |cohort AS (SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY 1),
        |uw AS (SELECT DISTINCT user_id, week FROM weeks)
        |SELECT cohort_week,
        |  CAST(date_diff('day', cohort_week, week) // 7 AS BIGINT) AS week_offset,
        |  count(*) AS n_users
        |FROM uw JOIN cohort USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Cohort lifetime value: weekly + cumulative summed value per
    // (cohort week, offset) — retention's value-weighted sibling.
    Q("ana_cohort_ltv", (s, dir) =>
      Analytics.cohortLtv(T(s, dir, "events"))
        .orderBy("cohort_week", "week_offset"),
      // LTV: weekly DECIMAL value sums + a per-cohort exact running total.
      """WITH weeks AS (SELECT user_id, date_trunc('week', ts) AS week,
        |        CAST(value AS DECIMAL(18,6)) AS v FROM events),
        |cohort AS (SELECT user_id, min(week) AS cohort_week
        |      FROM weeks GROUP BY 1),
        |wk AS (SELECT cohort_week,
        |        CAST(floor(date_diff('day', cohort_week, week) / 7.0)
        |          AS BIGINT) AS week_offset,
        |        count(*) AS n_events,
        |        CAST(sum(v) AS DECIMAL(38,6)) AS wv
        |      FROM weeks JOIN cohort USING (user_id) GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, n_events,
        |  round(CAST(wv AS DOUBLE), 6) AS week_value,
        |  round(CAST(sum(wv) OVER (PARTITION BY cohort_week
        |    ORDER BY week_offset) AS DOUBLE), 6) AS cum_value
        |FROM wk ORDER BY 1, 2""".stripMargin),

    // Activity concentration ("do 1% of users carry 50% of events?"):
    // user/event shares above an activity-threshold ladder, from the
    // frequency table — no global ranking.
    Q("ana_concentration", (s, dir) =>
      Analytics.activityConcentration(T(s, dir, "events"))
        .orderBy("threshold"),
      // Concentration ladder: one frequency table, per-threshold shares.
      {
        def one(k: Long) =
          s"""SELECT CAST($k AS BIGINT) AS threshold,
             |  count(*) AS users_ge,
             |  CAST(coalesce(sum(n), 0) AS BIGINT) AS events_ge
             |FROM ua WHERE n >= $k""".stripMargin
        s"""WITH ua AS (SELECT user_id AS u, count(*) AS n
           |      FROM events GROUP BY 1),
           |tot AS (SELECT count(*) AS n_users,
           |        CAST(sum(n) AS BIGINT) AS n_events FROM ua),
           |l AS (${Seq(1L, 2L, 4L, 8L, 16L).map(one).mkString("\nUNION ALL ")})
           |SELECT threshold, users_ge, events_ge,
           |  round((CAST(users_ge AS DOUBLE) / CAST(n_users AS DOUBLE)) * 1000000) / 1000000
           |    AS frac_users,
           |  round((CAST(events_ge AS DOUBLE) / CAST(n_events AS DOUBLE)) * 1000000) / 1000000
           |    AS frac_events
           |FROM l CROSS JOIN tot ORDER BY threshold""".stripMargin
      }),

    // Gini coefficient of per-user activity by event type — the
    // inequality summary behind the concentration ladder.
    Q("ana_gini", (s, dir) =>
      Analytics.giniIndex(T(s, dir, "events")).orderBy("event_type"),
      // Gini by exact rank formula; rank×count sums ride DECIMAL(38,0).
      """WITH c AS (SELECT event_type, user_id, count(*) AS x
        |      FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, user_id, x,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY x, user_id) AS i FROM c),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
        |        CAST(sum(x) AS BIGINT) AS n_events,
        |        sum(CAST(i * x AS DECIMAL(38,0))) AS six
        |      FROM r GROUP BY 1)
        |SELECT event_type, n_users, n_events,
        |  CAST(round((
        |    (2.0 * CAST(six AS DOUBLE) -
        |      CAST(n_users + 1 AS DOUBLE) * CAST(n_events AS DOUBLE)) /
        |    (CAST(n_users AS DOUBLE) * CAST(n_events AS DOUBLE))
        |   ) * 1000000) / 1000000 AS DOUBLE) AS gini
        |FROM a ORDER BY event_type""".stripMargin),

    // DAU + trailing-7-day distinct users per day (the WAU series) via
    // membership explode — no distinct-over-window.
    Q("ana_rolling_distinct", (s, dir) =>
      Analytics.rollingDistinct(T(s, dir, "events")).orderBy("day"),
      // Rolling distinct via the same membership explode (0..6 day
      // offsets), exact distinct per target day, observed days only.
      """WITH ud AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
        |      FROM events),
        |days AS (SELECT DISTINCT d AS day FROM ud),
        |spread AS (SELECT u, d + CAST(off AS INTEGER) AS day
        |      FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 6))
        |        AS off)),
        |rolling AS (SELECT day, CAST(count(DISTINCT u) AS BIGINT)
        |        AS rolling_users FROM spread GROUP BY 1),
        |dau AS (SELECT d AS day, CAST(count(DISTINCT u) AS BIGINT)
        |        AS dau FROM ud GROUP BY 1)
        |SELECT day, dau, rolling_users
        |FROM days JOIN dau USING (day) JOIN rolling USING (day)
        |ORDER BY day""".stripMargin),

    // Log-log price elasticity of demand per brand, with R² beside it.
    Q("ana_elasticity", (s, dir) =>
      Analytics.priceElasticity(T(s, dir, "lineitem"), T(s, dir, "part"))
        .orderBy("p_brand"),
      // Elasticity: 6-dp-quantized lns scaled to exact ×10⁶ integers
      // (HUGEINT mirrors Spark's DECIMAL(38,0)); centered moments are
      // exact, so zero variance is exactly NULL on both engines.
      """WITH r AS (SELECT p_brand AS grp,
        |        CAST(CAST(round(ln(CAST(l_extendedprice AS DOUBLE)
        |            / CAST(l_quantity AS DOUBLE)), 6)
        |          AS DECIMAL(18,6)) * 1000000 AS HUGEINT) AS x,
        |        CAST(CAST(round(ln(CAST(l_quantity AS DOUBLE)), 6)
        |          AS DECIMAL(18,6)) * 1000000 AS HUGEINT) AS y
        |      FROM lineitem JOIN part ON p_partkey = l_partkey
        |      WHERE CAST(l_quantity AS DOUBLE) > 0
        |        AND CAST(l_extendedprice AS DOUBLE)
        |          / CAST(l_quantity AS DOUBLE) > 0),
        |m AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |        sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
        |        sum(x * y) AS sxy, sum(y * y) AS syy
        |      FROM r GROUP BY 1),
        |c AS (SELECT grp AS p_brand, n,
        |        CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS cxx,
        |        CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS cxy,
        |        CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) AS cyy
        |      FROM m)
        |SELECT p_brand, n,
        |  CAST(round((cxy / nullif(cxx, 0.0)) * 1000000) / 1000000
        |    AS DOUBLE) AS elasticity,
        |  CAST(round(((cxy * cxy) / nullif(cxx * cyy, 0.0)
        |   ) * 1000000) / 1000000 AS DOUBLE) AS r2
        |FROM c ORDER BY p_brand""".stripMargin),

    // Stage-to-stage funnel latency: median/p90 seconds from first
    // signup to first click to first purchase — the funnel as an SLA.
    Q("ana_stage_latency", (s, dir) =>
      Analytics.stageLatency(T(s, dir, "events"),
        Seq("signup", "click", "purchase"))
        .orderBy("stage_idx"),
      // Stage latency: first-to-first pairs, exact integer gap seconds,
      // quantile_cont for Spark's interpolated percentile.
      {
        def step(i: Int, from: String, to: String) =
          s"""p$i AS (SELECT $i AS stage_idx, '$from' AS from_stage,
             |        '$to' AS to_stage, count(*) AS n_users,
             |        round(quantile_cont(dt_s, 0.5) * 1000000) / 1000000 AS median_s,
             |        round(quantile_cont(dt_s, 0.9) * 1000000) / 1000000 AS p90_s
             |      FROM (SELECT ((b.t - a.t) - (b.t - a.t) % 1000000)
             |              // 1000000 AS dt_s
             |            FROM f a JOIN f b ON a.u = b.u
             |              AND a.stage = '$from' AND b.stage = '$to'
             |            WHERE b.t > a.t))""".stripMargin
        s"""WITH f AS (SELECT user_id AS u, event_type AS stage,
           |        min(epoch_us(ts)) AS t FROM events
           |      WHERE event_type IN ('signup', 'click', 'purchase')
           |      GROUP BY 1, 2),
           |${step(0, "signup", "click")},
           |${step(1, "click", "purchase")}
           |SELECT * FROM p0 UNION ALL SELECT * FROM p1
           |ORDER BY stage_idx""".stripMargin
      }),

    // Inter-arrival-time histogram (log2-second buckets, exact integer
    // arithmetic end-to-end) — the burstiness profile behind session-gap
    // and watermark choices.
    Q("ana_interarrival", (s, dir) =>
      Analytics.interarrivalHistogram(T(s, dir, "events"))
        .orderBy("bucket"),
      // Inter-arrival histogram: per-user lag on (t, id) order, exact
      // integer gap seconds (remainder-subtracted division), the
      // power-of-two CASE chain (rhoCase convention) — nothing floats.
      {
        val whens = (1 to 40).map(b =>
          s"WHEN gap_s < ${1L << b} THEN $b").mkString(" ")
        s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id AS id
           |      FROM events),
           |g AS (SELECT t - lag(t) OVER (PARTITION BY user_id
           |        ORDER BY t, id) AS gap_us FROM e),
           |gs AS (SELECT (gap_us - gap_us % 1000000) // 1000000 AS gap_s
           |      FROM g WHERE gap_us IS NOT NULL),
           |b AS (SELECT CASE WHEN gap_s = 0 THEN 0 $whens END AS bucket,
           |        gap_s FROM gs)
           |SELECT bucket, count(*) AS n_gaps, min(gap_s) AS min_gap_s,
           |  max(gap_s) AS max_gap_s
           |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // Peak concurrency over ana_interval_union's [start, end) session
    // intervals — ±1 sweep netted per second, two-level prefix sum, the
    // capacity-planning scalar.
    Q("ana_peak_concurrency", (s, dir) =>
      Analytics.peakConcurrency(eventIntervals(T(s, dir, "events"))),
      // Peak concurrency: ana_interval_union's interval arithmetic, ±1
      // deltas netted per second, ONE global running-sum window (sf-scale
      // stand-in for the two-level prefix), earliest peak second.
      """WITH iv AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS start_s,
        |        CAST(floor(epoch(ts)) AS BIGINT)
        |          + CAST(floor(value * 60) AS BIGINT) AS end_s FROM events),
        |d AS (SELECT t, CAST(sum(d) AS BIGINT) AS d FROM (
        |      SELECT start_s AS t, 1 AS d FROM iv
        |      UNION ALL SELECT end_s, -1 FROM iv) GROUP BY 1),
        |r AS (SELECT t, sum(d) OVER (ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |      FROM d),
        |p AS (SELECT CAST(max(conc) AS BIGINT) AS peak FROM r),
        |n AS (SELECT count(*) AS n_intervals FROM iv)
        |SELECT n_intervals, p.peak, min(t) AS peak_at_s
        |FROM r CROSS JOIN p CROSS JOIN n WHERE conc = p.peak
        |GROUP BY 1, 2""".stripMargin),

    // Monthly DAU/MAU stickiness over observed active days — the
    // engagement ratio (1.0 = daily habit, ~0.05 = drive-by).
    Q("ana_stickiness", (s, dir) =>
      Analytics.stickiness(T(s, dir, "events"))
        .orderBy("month"),
      // DAU/MAU: observed-active-day average over the monthly distinct.
      """WITH d AS (SELECT CAST(ts AS DATE) AS day, user_id AS u
        |      FROM events),
        |dau AS (SELECT day, count(DISTINCT u) AS dau FROM d GROUP BY 1),
        |mau AS (SELECT date_trunc('month', day) AS month,
        |        count(DISTINCT u) AS mau FROM d GROUP BY 1),
        |md AS (SELECT date_trunc('month', day) AS month,
        |        count(*) AS n_active_days,
        |        CAST(sum(dau) AS BIGINT) AS sdau FROM dau GROUP BY 1)
        |SELECT md.month AS month, n_active_days, mau,
        |  round((CAST(sdau AS DOUBLE) / CAST(n_active_days AS DOUBLE)) * 1000000) / 1000000
        |    AS avg_dau,
        |  round((CAST(sdau AS DOUBLE) / CAST(n_active_days AS DOUBLE)
        |    / CAST(mau AS DOUBLE)) * 1000000) / 1000000 AS stickiness
        |FROM md JOIN mau ON md.month = mau.month
        |ORDER BY month""".stripMargin),

    // Exact distinct-user overlap matrix between event types —
    // the small-k exact face of sketch_hll_setops.
    Q("ana_type_overlap", (s, dir) =>
      Analytics.typeOverlapMatrix(T(s, dir, "events"))
        .orderBy("type_a", "type_b"),
      // Type-overlap matrix: distinct (type, user) self-join, exact
      // BIGINT counts, one rounded division per pair.
      """WITH tu AS (SELECT DISTINCT event_type AS et, user_id AS u
        |      FROM events),
        |tot AS (SELECT et, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY 1),
        |i AS (SELECT a.et AS type_a, b.et AS type_b,
        |        CAST(count(*) AS BIGINT) AS n_both
        |      FROM tu a JOIN tu b ON a.u = b.u AND a.et < b.et
        |      GROUP BY 1, 2)
        |SELECT type_a, type_b, ta.n AS n_a, tb.n AS n_b, n_both,
        |  round((CAST(n_both AS DOUBLE)
        |    / CAST(ta.n + tb.n - n_both AS DOUBLE)) * 1000000) / 1000000 AS jaccard
        |FROM i JOIN tot ta ON ta.et = type_a JOIN tot tb ON tb.et = type_b
        |ORDER BY type_a, type_b""".stripMargin),

    // Event-type transition matrix in per-user event-time order (the
    // Markov-chain behavior profile).
    Q("ana_transitions", (s, dir) =>
      eventTransitions(s, dir)
        .orderBy("from_type", "to_type"),
      """WITH s AS (SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS to_type
        |  FROM events)
        |SELECT from_type, to_type, count(*) AS n FROM s
        |WHERE to_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Long-run occupancy of the event-type Markov chain: 5 unrolled
    // power-iteration rounds of pi' = pi*P (dangling mass uniform, 12-dp
    // DECIMAL per-round sums) — the chain-level summary raw transition
    // counts can't give.
    Q("ana_markov_stationary", (s, dir) =>
      Analytics.markovStationary(T(s, dir, "events"), 5,
          precomputedTransitions = Some(eventTransitions(s, dir)))
        .orderBy("event_type"),
      // Markov stationary distribution: 5 unrolled pi' = pi*P rounds on the
      // row-normalized transition counts (self-loops kept — transitions()
      // keeps them), dangling mass redistributed uniformly, 12-dp DECIMAL
      // per-round sums — the pagerank CTE algebra minus damping.
      s"""WITH $markovCtes
         |SELECT state AS event_type, round(pi * 1000000) / 1000000 AS pi
         |FROM p5 ORDER BY event_type""".stripMargin),

    // Entropy rate of the event-type chain: how predictable the next
    // event is in the long run, normalized by ln k.
    Q("ana_markov_entropy", (s, dir) =>
      Analytics.markovEntropyRate(T(s, dir, "events"), 5,
        precomputedTransitions = Some(eventTransitions(s, dir))),
      // Entropy rate: the stationary chain above, then
      // −Σ π·p·ln p over observed transitions (12-dp DECIMAL terms).
      s"""WITH $markovCtes,
         |pif AS (SELECT state, round(pi * 1000000) / 1000000 AS pi FROM p5),
         |h AS (SELECT sum(CAST(round(pif.pi * t.p * ln(t.p), 12)
         |          AS DECIMAL(18,12))) AS sh,
         |        CAST(count(*) AS BIGINT) AS n_transitions
         |      FROM t JOIN pif ON pif.state = t.from_type)
         |SELECT nn.k AS n_states, h.n_transitions,
         |  CAST(round((-CAST(sh AS DOUBLE)) * 1000000) / 1000000
         |    AS DOUBLE) AS entropy_rate,
         |  CAST(round((-CAST(sh AS DOUBLE)
         |    / nullif(ln(CAST(nn.k AS DOUBLE)), 0.0)) * 1000000) / 1000000
         |    AS DOUBLE) AS normalized
         |FROM h CROSS JOIN nn""".stripMargin),

    // Difference-in-differences over the odd/even user split at the
    // mid-corpus cutoff — removes group gap AND common trend.
    Q("ana_did", (s, dir) =>
      Analytics.diffInDiff(T(s, dir, "events"),
        col("user_id") % 2 === 1,
        col("ts") >= lit("2024-01-16").cast("timestamp")),
      // DiD: four 6-dp cell means, then the double difference of the
      // published values.
      {
        def cell(cond: String, name: String) =
          s"""(SELECT n AS n_$name, mean AS mean_$name FROM cells
             | WHERE $cond) $name""".stripMargin
        s"""WITH cells AS (SELECT (user_id % 2 = 1) AS treated,
           |      (ts >= TIMESTAMP '2024-01-16 00:00:00') AS post,
           |      CAST(count(*) AS BIGINT) AS n,
           |      CAST(round((CAST(sum(CAST(value AS DECIMAL(24,6)))
           |        AS DOUBLE) / count(*)) * 1000000) / 1000000 AS DOUBLE)
           |        AS mean
           |    FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
           |SELECT n_t_pre, mean_t_pre, n_t_post, mean_t_post,
           |  n_c_pre, mean_c_pre, n_c_post, mean_c_post,
           |  CAST(round(((mean_t_post - mean_t_pre)
           |    - (mean_c_post - mean_c_pre)) * 1000000) / 1000000
           |    AS DOUBLE) AS did
           |FROM ${cell("treated AND NOT post", "t_pre")}
           |CROSS JOIN ${cell("treated AND post", "t_post")}
           |CROSS JOIN ${cell("NOT treated AND NOT post", "c_pre")}
           |CROSS JOIN ${cell("NOT treated AND post", "c_post")}""".stripMargin
      }),

    // Kaplan–Meier survival over user lifetimes: per daily step, the
    // at-risk / churned / censored counts and the product-limit survival
    // estimate (churn = 7 days dark before corpus end, horizon-clamped).
    Q("ana_survival", (s, dir) =>
      Analytics.kaplanMeier(T(s, dir, "events"))
        .orderBy("step"),
      // Kaplan–Meier mirror: per-user spans → daily step + churn flag, then
      // the product-limit curve via running windows instead of the Spark
      // side's triangular join (same arithmetic: 6-dp-rounded ln factors
      // into a DECIMAL running sum, exp at the end).
      """WITH spans AS (SELECT user_id,
        |    CAST(floor(epoch(min(ts))) AS BIGINT) AS t0,
        |    CAST(floor(epoch(max(ts))) AS BIGINT) AS t1
        |  FROM events GROUP BY 1),
        |endt AS (SELECT CAST(floor(epoch(max(ts))) AS BIGINT) AS t_end FROM events),
        |pu AS (SELECT least(CAST(floor((t1 - t0) / 86400.0) AS BIGINT), 90) AS step,
        |         ((t_end - t1) > 604800
        |           AND floor((t1 - t0) / 86400.0) <= 90) AS event
        |       FROM spans CROSS JOIN endt),
        |ps AS (SELECT step,
        |         CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |         CAST(sum(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS c
        |       FROM pu GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM pu),
        |pr AS (SELECT step, d, c,
        |         CAST(coalesce(sum(d + c) OVER (ORDER BY step
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS prior
        |       FROM ps),
        |lf AS (SELECT step, d, c, n_total - prior AS n_risk,
        |         CASE WHEN d > 0 THEN CAST(round(
        |             ln(1.0 - CAST(d AS DOUBLE) / (n_total - prior)), 6)
        |           AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END AS f
        |       FROM pr CROSS JOIN tot)
        |SELECT step, n_risk, d AS n_events, c AS n_censored,
        |  round(exp(CAST(sum(f) OVER (ORDER BY step
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 6) AS survival
        |FROM lf ORDER BY step""".stripMargin),

    // Two-proportion z-test on a deterministic arm split (user_id parity),
    // conversion = ever purchased. One summary row.
    Q("ana_ab_test", (s, dir) =>
      Analytics.abTest(T(s, dir, "events"), "purchase")
        .orderBy("n_a"),
      // A/B z-test mirror: identical exact integer inputs, the same
      // DECIMAL(24,12)-routed 6-dp rounding on every emitted float.
      """WITH pu AS (SELECT user_id % 2 AS arm,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id),
        |agg AS (SELECT
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_a,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS x_b
        |  FROM pu),
        |m AS (SELECT n_a, x_a, n_b, x_b,
        |    CAST(x_a AS DOUBLE) / n_a AS pa, CAST(x_b AS DOUBLE) / n_b AS pb,
        |    CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) AS pool
        |  FROM agg),
        |z AS (SELECT *, CASE WHEN sqrt(pool * (1.0 - pool)
        |      * (1.0 / n_a + 1.0 / n_b)) > 0
        |    THEN (pa - pb) / sqrt(pool * (1.0 - pool)
        |      * (1.0 / n_a + 1.0 / n_b)) END AS zv
        |  FROM m)
        |SELECT n_a, x_a, n_b, x_b,
        |  CAST(round((pa) * 1000000) / 1000000 AS DOUBLE) AS rate_a,
        |  CAST(round((pb) * 1000000) / 1000000 AS DOUBLE) AS rate_b,
        |  CAST(round((pa - pb) * 1000000) / 1000000 AS DOUBLE) AS lift,
        |  CAST(round((zv) * 1000000) / 1000000 AS DOUBLE) AS z,
        |  coalesce(abs(zv) > 1.96, false) AS significant
        |FROM z ORDER BY n_a""".stripMargin),

    // Exponential time-decay multi-touch attribution: per channel, total
    // conversion credit under 0.5^(Δt/1d) weighting within a 7-day
    // lookback.
    Q("ana_attribution_decay", (s, dir) =>
      Analytics.timeDecayAttribution(T(s, dir, "events"),
          Seq("click", "view"), "purchase")
        .orderBy("channel"),
      // Time-decay attribution mirror: 6-dp weights into DECIMAL(18,6),
      // double÷double credit shares (both operands exactly shared), 6-dp
      // credit into the per-channel DECIMAL total.
      """WITH convs AS (SELECT user_id AS u, event_id AS conv_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS conv_s
        |  FROM events WHERE event_type = 'purchase'),
        |touches AS (SELECT user_id AS u, event_type AS channel,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS touch_s
        |  FROM events WHERE event_type IN ('click', 'view')),
        |pairs AS (SELECT conv_id, channel,
        |    CAST(round(pow(0.5,
        |      CAST(conv_s - touch_s AS DOUBLE) / 86400), 6)
        |      AS DECIMAL(18,6)) AS w
        |  FROM convs JOIN touches USING (u)
        |  WHERE touch_s <= conv_s AND conv_s - touch_s <= 604800),
        |tot AS (SELECT conv_id, sum(w) AS wsum FROM pairs GROUP BY 1),
        |cr AS (SELECT channel,
        |    CAST(round((CAST(w AS DOUBLE) / CAST(wsum AS DOUBLE)) * 1000000) / 1000000
        |      AS DECIMAL(18,6)) AS credit
        |  FROM pairs JOIN tot USING (conv_id))
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
        |  round(CAST(sum(credit) AS DOUBLE), 6) AS credit
        |FROM cr GROUP BY 1 ORDER BY channel""".stripMargin),

    // Daily new-vs-returning user split (growth vs retention
    // decomposition); first-seen day via an associative min, no windows.
    Q("ana_new_returning", (s, dir) =>
      Analytics.newVsReturning(T(s, dir, "events"))
        .orderBy("day"),
      """WITH ud AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
        |            FROM events),
        |fd AS (SELECT u, min(day) AS first_day FROM ud GROUP BY 1),
        |act AS (SELECT day, CAST(count(*) AS BIGINT) AS n_active
        |        FROM ud GROUP BY 1),
        |nw AS (SELECT first_day AS day, CAST(count(*) AS BIGINT) AS n_new
        |       FROM fd GROUP BY 1)
        |SELECT act.day, n_active, coalesce(n_new, 0) AS n_new,
        |  n_active - coalesce(n_new, 0) AS n_returning
        |FROM act LEFT JOIN nw USING (day) ORDER BY day""".stripMargin),

    // PageRank (3 power iterations, d=0.85) over the event-type
    // transition graph — DECIMAL in-sums + dangling mass each round, the
    // oracle unrolls the identical iterations CTE by CTE.
    Q("ana_pagerank", (s, dir) =>
      operators.Graph.pageRank(transitionEdges(s, dir), 3).orderBy("node"),
      // PageRank unrolled: each iteration = DECIMAL in-sums + dangling mass
      // + the identical double update expression ((1-d) and d as the same
      // IEEE doubles Spark computes — 1e0-0.85e0, not a decimal literal).
      {
        val d = 0.85
        val iterCtes = (1 to 3).map { k =>
          s"""${pagerankFlowCtes(k)},
             |r$k AS (SELECT n.node,
             |        (1e0 - ${d}e0) / nn.n + ${d}e0 *
             |          (coalesce(CAST(c$k.s AS DOUBLE), 0e0)
             |            + CAST(d$k.dm AS DOUBLE) / nn.n) AS rank
             |      FROM nodes n CROSS JOIN nn CROSS JOIN d$k
             |      LEFT JOIN c$k ON c$k.node = n.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH $transitionCtes,
           |$transitionNodesCte,
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
           |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
           |r0 AS (SELECT node, 1e0 / nn.n AS rank FROM nodes CROSS JOIN nn),
           |$iterCtes
           |SELECT node, round(rank * 1000000) / 1000000 AS rank
           |FROM r3 ORDER BY node""".stripMargin
      }),

    // Personalized PageRank: teleportation restricted to {click, view} —
    // relevance-to-the-seed-set scoring over the same transition graph.
    Q("ana_pagerank_pers", (s, dir) => {
      import s.implicits._
      val edges = transitionEdges(s, dir)
      val seeds = Seq("click", "view").toDF("node")
      operators.Graph.pageRankPersonalized(edges, seeds, 3).orderBy("node")
    },
      // Same iteration algebra as ana_pagerank with the teleport vector
      // restricted to {click, view}: r' = (1-d)·p + d·(in-sum + dm·p).
      {
        val d = 0.85
        val iterCtes = (1 to 3).map { k =>
          s"""${pagerankFlowCtes(k)},
             |r$k AS (SELECT n.node,
             |        (1e0 - ${d}e0) * pe.p + ${d}e0 *
             |          (coalesce(CAST(c$k.s AS DOUBLE), 0e0)
             |            + CAST(d$k.dm AS DOUBLE) * pe.p) AS rank
             |      FROM nodes n JOIN pers pe ON pe.node = n.node
             |      CROSS JOIN d$k
             |      LEFT JOIN c$k ON c$k.node = n.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH $transitionCtes,
           |$transitionNodesCte,
           |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_s FROM nodes
           |       WHERE node IN ('click', 'view')),
           |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
           |pers AS (SELECT node, CASE WHEN node IN ('click', 'view')
           |           THEN 1e0 / ns.n_s ELSE 0e0 END AS p
           |         FROM nodes CROSS JOIN ns),
           |r0 AS (SELECT node, p AS rank FROM pers),
           |$iterCtes
           |SELECT node, round(rank * 1000000) / 1000000 AS rank
           |FROM r3 ORDER BY node""".stripMargin
      }),

    // Per-session ordered event-type sequences (sequence-model training
    // export) — session_window groups, array_sort-restored order.
    Q("ana_session_sequences", (s, dir) =>
      Analytics.sessionSequences(T(s, dir, "events"), "30 minutes")
        .orderBy("user_id", "session_start"),
      // stream_session's gap rule tie-broken by event_id, plus the
      // ordered event-type string_agg (ties broken by event_id on both
      // sides).
      s"""WITH $sessionCtes
         |SELECT user_id, min(ts) AS session_start,
         |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events,
         |  string_agg(event_type, ' ' ORDER BY ts, event_id) AS sequence
         |FROM s GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin),

    // Funnel discovery: the 10 most common exact session paths with
    // session counts and mean length — sequence-keyed count + top-k heap.
    Q("ana_top_paths", (s, dir) =>
      Analytics.topPaths(T(s, dir, "events"), "30 minutes", 10)
        .orderBy(col("n_sessions").desc, col("sequence").asc),
      // Same session CTE chain grouped by the path string; top-10 with the
      // (count desc, sequence asc) total order mirrored.
      s"""WITH $sessionCtes,
         |seq AS (
         |  SELECT user_id, sid, count(*) AS n_events,
         |    string_agg(event_type, ' ' ORDER BY ts, event_id) AS sequence
         |  FROM s GROUP BY user_id, sid)
         |SELECT sequence, count(*) AS n_sessions,
         |  round(avg(n_events) * 1000000) / 1000000 AS avg_len
         |FROM seq GROUP BY 1
         |ORDER BY n_sessions DESC, sequence LIMIT 10""".stripMargin),

    // Per-user session behavioural entropy (mean/max over sessions) —
    // behavioural-diversity feature and bot signal (scripted sessions
    // cluster at H = 0); ln n - (sum c ln c)/n, no p division.
    Q("ana_session_entropy", (s, dir) =>
      Analytics.sessionEntropy(T(s, dir, "events"))
        .orderBy("user_id"),
      // Session entropy: the session CTE chain, then H = ln n −
      // (Σ c·ln c)/n per session (6-dp DECIMAL terms), per-user mean
      // routed and max taken on the quantized per-session values.
      s"""WITH $sessionCtes,
         |cells AS (SELECT user_id, sid, event_type, count(*) AS c
         |      FROM s GROUP BY 1, 2, 3),
         |se AS (SELECT user_id, sid, CAST(sum(c) AS BIGINT) AS n,
         |        CAST(sum(CAST(round(c * ln(c), 6) AS DECIMAL(18,6)))
         |          AS DECIMAL(38,6)) AS sclogc
         |      FROM cells GROUP BY 1, 2),
         |h AS (SELECT user_id, n,
         |        CAST(round((ln(n) - CAST(sclogc AS DOUBLE)
         |          / CAST(n AS DOUBLE)) * 1000000) / 1000000
         |          AS DECIMAL(18,6)) AS h6
         |      FROM se)
         |SELECT user_id, count(*) AS n_sessions,
         |  CAST(sum(n) AS BIGINT) AS n_events,
         |  CAST(round((CAST(sum(h6) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE)) * 1000000) / 1000000 AS DOUBLE)
         |    AS mean_entropy,
         |  CAST(max(h6) AS DOUBLE) AS max_entropy
         |FROM h GROUP BY 1 ORDER BY user_id""".stripMargin),

    // RFM segmentation WITHOUT the textbook global-ntile window: exact
    // quantile boundaries from one tiny agg, broadcast back, scores as a
    // flat projection. monetary rides an exact DECIMAL sum; the double
    // cast happens only at the output edge.
    Q("ana_rfm", (s, dir) =>
      Analytics.rfm(T(s, dir, "orders"), lit("1999-12-31").cast("date"))
        .withColumn("monetary", col("monetary").cast("double"))
        .orderBy("custkey"),
      // Same quantile definition on both sides (R-7 linear interpolation:
      // Spark `percentile` ≡ DuckDB `quantile_cont`); the boundary
      // comparisons are stable because the metrics are integer/2-dp valued
      // (see Analytics.rfm).
      """WITH base AS (
        |  SELECT o_custkey AS custkey,
        |    date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '1999-12-31') AS recency_days,
        |    count(*) AS frequency,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        |  FROM orders GROUP BY 1),
        |b AS (SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rb,
        |        quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fb,
        |        quantile_cont(CAST(monetary AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS mb
        |      FROM base)
        |SELECT custkey, CAST(recency_days AS BIGINT) AS recency_days, frequency,
        |  CAST(monetary AS DOUBLE) AS monetary,
        |  CAST(1 + len(list_filter(rb, x -> CAST(recency_days AS DOUBLE) > x)) AS BIGINT) AS r_score,
        |  CAST(1 + len(list_filter(fb, x -> CAST(frequency AS DOUBLE) < x)) AS BIGINT) AS f_score,
        |  CAST(1 + len(list_filter(mb, x -> CAST(monetary AS DOUBLE) < x)) AS BIGINT) AS m_score
        |FROM base CROSS JOIN b ORDER BY custkey""".stripMargin),

    // Gaps-and-islands: maximal consecutive-day activity runs per user —
    // one per-user window over DISTINCT (user, day), no self-join.
    Q("ana_islands", (s, dir) =>
      Analytics.activityIslands(T(s, dir, "events"))
        .orderBy("user_id", "island_start"),
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |r AS (SELECT user_id, day,
        |        row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
        |      FROM days)
        |SELECT user_id, min(day) AS island_start, max(day) AS island_end,
        |  count(*) AS n_days
        |FROM r GROUP BY user_id, day - CAST(rn AS INT)
        |ORDER BY user_id, island_start""".stripMargin),

    // Per-group z-score outliers (|z| > 2 vs the event_type mean) — the
    // telemetry anomaly sweep; both moments from exact DECIMAL sums.
    Q("ana_outliers", (s, dir) =>
      Analytics.outliers(T(s, dir, "events"))
        .orderBy("event_id"),
      // Two-pass moments from exact DECIMAL sums (mean from Σv, variance
      // from Σround(dev², 6)) — order-free in both engines; z in double.
      """WITH m AS (SELECT event_type, count(*) AS n,
        |        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)
        |          AS mean
        |      FROM events GROUP BY 1),
        |s AS (SELECT e.event_type, any_value(m.n) AS n,
        |        any_value(m.mean) AS mean,
        |        sum(CAST(round((e.value - m.mean) * (e.value - m.mean), 6)
        |          AS DECIMAL(18,6))) AS ss
        |      FROM events e JOIN m USING (event_type) GROUP BY 1),
        |st AS (SELECT event_type, mean,
        |        sqrt(CAST(ss AS DOUBLE) / (n - 1)) AS sd FROM s)
        |SELECT e.event_id, e.event_type, e.value,
        |  round(st.mean, 6) AS group_mean, round(st.sd, 6) AS group_sd,
        |  round(((e.value - st.mean) / st.sd) * 1000000) / 1000000 AS zscore
        |FROM events e JOIN st USING (event_type)
        |WHERE abs((e.value - st.mean) / st.sd) > 2.0
        |ORDER BY e.event_id""".stripMargin),

    // Robust MAD outliers (|v − median| / MAD > 3, 6-dp-quantized
    // percentile boundaries) — catches what sd-based z masks in heavy
    // tails.
    Q("ana_outliers_mad", (s, dir) =>
      Analytics.outliersMad(T(s, dir, "events"))
        .orderBy("event_id"),
      // MAD boundaries quantized to 6 dp BEFORE the division on both
      // engines (quantile_cont ≡ percentile at 6 dp — ana_group_quantiles
      // precedent); membership compares the ROUNDED score; MAD-0 groups
      // score NULL and never flag.
      """WITH med AS (SELECT event_type,
        |        round(quantile_cont(value, 0.5) * 1000000) / 1000000 AS med
        |      FROM events GROUP BY 1),
        |mad AS (SELECT e.event_type, any_value(m.med) AS med,
        |        round(quantile_cont(abs(e.value - m.med), 0.5) * 1000000) / 1000000 AS mad
        |      FROM events e JOIN med m USING (event_type)
        |      GROUP BY e.event_type),
        |s AS (SELECT e.event_id, e.event_type, e.value,
        |        m.med AS group_median, m.mad AS group_mad,
        |        round((CASE WHEN m.mad = 0 THEN NULL
        |          ELSE abs(e.value - m.med) / m.mad END) * 1000000)
        |          / 1000000 AS mad_score
        |      FROM events e JOIN mad m USING (event_type))
        |SELECT * FROM s WHERE mad_score > 3.0
        |ORDER BY event_id""".stripMargin),

    // Percentile winsorization at [p01, p99] — robust clipping before
    // training on heavy-tailed metrics; broadcast boundaries, flat clip.
    Q("ana_winsorize", (s, dir) =>
      Analytics.winsorize(T(s, dir, "events"))
        .orderBy("event_id"),
      """WITH b AS (SELECT quantile_cont(value, 0.01) AS lo,
        |        quantile_cont(value, 0.99) AS hi FROM events)
        |SELECT event_id, value,
        |  round(least(greatest(value, lo), hi), 6) AS clipped,
        |  (value < lo OR value > hi) AS was_clipped
        |FROM events CROSS JOIN b ORDER BY event_id""".stripMargin),

    // Market-basket pairs over order baskets of parts: support /
    // confidence / lift, top 50 by lift — the co-purchase miner
    // (minSupport 3 ~ 63 qualifying pairs at sf0.01).
    Q("ana_basket", (s, dir) =>
      Analytics.basketPairs(T(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minSupport = 3L),
      basketOracle(
        """it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
          |            FROM lineitem)""".stripMargin)),

    // Mega-basket guard exercised: baskets with > 5 distinct parts are
    // excluded whole (the regenerated testdata's orders run 1–17 distinct
    // parts, avg ~4, so the cap really filters), denominator and
    // frequencies recomputed over the capped universe — the skew-safety
    // path for bot/default baskets at scale.
    Q("ana_basket_capped", (s, dir) =>
      Analytics.basketPairs(T(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minSupport = 3L, maxBasketSize = 5L),
      basketOracle(
        """it0 AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
          |             FROM lineitem),
          |keep AS (SELECT b FROM it0 GROUP BY b HAVING count(*) <= 5),
          |it AS (SELECT it0.b, it0.i FROM it0 JOIN keep USING (b))""".stripMargin)),

    // Per-group exact interpolated quantiles (p25/p50/p95 of value per
    // event_type) — the grouped distribution profile; one tiny aggregate,
    // no window. 2-dp values make the interpolation engine-stable (the
    // ana_rfm boundary argument); outputs rounded to 6 dp.
    Q("ana_group_quantiles", (s, dir) =>
      T(s, dir, "events").groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(percentile(col("value"), lit(0.25)), 6).as("p25"),
          round(percentile(col("value"), lit(0.5)), 6).as("p50"),
          round(percentile(col("value"), lit(0.95)), 6).as("p95"))
        .orderBy("event_type"),
      """SELECT event_type, count(*) AS n,
        |  round(quantile_cont(value, 0.25), 6) AS p25,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
  )
}
