package graft.perfbench

import java.io.File
import java.time.{Instant, ZoneOffset}
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions.col
import graft.analytics.Analytics

/** `star_reads`: interactive reads over the written warehouse. One
  * operation is one read, fully collected, drawn from a seeded mix.
  */
object Reads {
  val kinds = Seq("top_songs", "plays_by_time", "user_activity", "favorite_artist", "month_range")

  /** One read and its parameters: `k` for top_songs, a (year*100+month)
    * range for month_range.
    */
  final case class Read(kind: String, k: Int = 0, from: Int = 0, to: Int = 0)

  /** A read of `kind` with seeded parameters. */
  def draw(rnd: SplittableRandom, spec: CorpusSpec, kind: String): Read = kind match {
    case "top_songs" => Read("top_songs", k = Seq(5, 10, 20, 50)(rnd.nextInt(4)))
    case "month_range" =>
      val a = rnd.nextInt(spec.months)
      val b = math.min(spec.months - 1, a + rnd.nextInt(6))
      def ym(i: Int) = (spec.startYear + i / 12) * 100 + i % 12 + 1
      Read("month_range", from = ym(a), to = ym(b))
    case other => Read(other)
  }

  /** The seeded mix: rounds of all five kinds, each round in a seeded
    * order, so every run issues the kinds in equal shares.
    */
  def mix(rnd: SplittableRandom, spec: CorpusSpec): Iterator[Read] =
    Iterator.continually {
      val order = new scala.util.Random(rnd.nextLong()).shuffle(kinds)
      order.map(draw(rnd, spec, _))
    }.flatten

  private def ts(ms: Long) = Instant.ofEpochMilli(ms).atZone(ZoneOffset.UTC)

  /** The answer to `r`, computed from the generator's records alone. Rows
    * are tab-joined fields; only top_songs' order is part of its answer.
    */
  def oracle(c: Corpus, r: Read): Seq[String] = r.kind match {
    case "top_songs" =>
      c.plays.groupBy(_.songId).toSeq.map { case (s, ps) => (s, ps.size.toLong) }
        .sortBy { case (s, n) => (-n, s) }.take(r.k)
        .map { case (s, n) => s"$s\t${c.songTitle(s)}\t$n" }
    case "plays_by_time" =>
      c.plays.groupBy(p => (ts(p.tsMs).getHour, ts(p.tsMs).getDayOfWeek.getValue % 7))
        .toSeq.map { case ((h, w), ps) => s"$h\t$w\t${ps.size}" }.sorted
    case "user_activity" =>
      c.plays.groupBy(p => (p.userId, p.level)).toSeq.map { case ((u, l), ps) =>
        s"$u\t$l\t${ps.size}\t${ps.map(_.sessionId).distinct.size}"
      }.sorted
    case "favorite_artist" =>
      c.plays.groupBy(p => (p.userId, p.artistId)).toSeq
        .map { case ((u, a), ps) => (u, a, ps.size * c.artistFanout.getOrElse(a, 0L)) }
        .filter(_._3 > 0).groupBy(_._1).toSeq.map { case (u, xs) =>
          val (_, a, n) = xs.minBy { case (_, a, n) => (-n, a) }
          s"$u\t$a\t${c.artistName(a)}\t$n"
        }.sorted
    case "month_range" =>
      c.plays.filter { p =>
        val d = ts(p.tsMs); val ym = d.getYear * 100 + d.getMonthValue
        ym >= r.from && ym <= r.to
      }.map(p => Seq(p.tsMs, p.userId, p.level, p.songId, p.artistId, p.sessionId,
        p.location, p.userAgent).mkString("\t")).sorted
  }

  /** What the scans of one traced read did, against what it returned. */
  final case class ScanRec(kind: String, rowsScanned: Long, filesRead: Long,
                           rowsReturned: Long, filesPresent: Long)
  private val scanLog = collection.mutable.ArrayBuffer.empty[ScanRec]

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case _: ReusedExchangeExec => Nil
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** The four tables the reads use, resolved once from the warehouse's
    * parquet, as a catalog would hold them: each read then pays planning,
    * codegen and execution, not schema inference and file listing.
    */
  final class Tables(ctx: Ctx, val wh: String) {
    private val byName = Seq("songplays", "songs", "time", "artists")
      .map(n => n -> ctx.spark.read.parquet(s"$wh/$n")).toMap
    def apply(name: String): DataFrame = byName(name)
  }

  /** Runs `r` over the warehouse tables and fully collects the result. */
  def query(ctx: Ctx, t: Tables, r: Read): (DataFrame, Seq[Row]) = {
    val wh = t.wh
    val df: DataFrame = r.kind match {
      case "top_songs" => Analytics.topSongs(t("songplays"), t("songs"), r.k)
      case "plays_by_time" => Analytics.playsByTime(t("songplays"), t("time"))
      case "user_activity" => Analytics.userActivity(t("songplays"))
      case "favorite_artist" => Analytics.favoriteArtist(t("songplays"), t("artists"))
      case "month_range" =>
        t("songplays").filter(col("year") * 100 + col("month") >= r.from &&
            col("year") * 100 + col("month") <= r.to)
          .select("start_time", "user_id", "level", "song_id", "artist_id", "session_id",
            "location", "user_agent")
    }
    val rows = df.collect().toSeq
    if (ctx.tracer.enabled) {
      val ss = scans(df.queryExecution.executedPlan)
      def m(k: String) = ss.map(_.metrics.get(k).map(_.value).getOrElse(0L)).sum
      val present = if (r.kind == "month_range") Etl.dataFiles(new File(s"$wh/songplays")).size else 0
      scanLog += ScanRec(r.kind, m("numOutputRows"), m("numFiles"), rows.size, present)
    }
    (df, rows)
  }

  /** A result in the oracle's form. */
  def canonical(r: Read, rows: Seq[Row]): Seq[String] = {
    def s(row: Row, f: String): String = String.valueOf(row.getAs[Any](f))
    def fields(fs: String*) = rows.map(x => fs.map(s(x, _)).mkString("\t"))
    r.kind match {
      case "top_songs" => fields("song_id", "title", "n_plays")
      case "plays_by_time" => fields("hour", "weekday", "n_plays").sorted
      case "user_activity" => fields("user_id", "level", "n_plays", "n_sessions").sorted
      case "favorite_artist" => fields("user_id", "artist_id", "name", "n_plays").sorted
      case "month_range" => rows.map { x =>
        (x.getAs[java.sql.Timestamp]("start_time").getTime +:
          Seq("user_id", "level", "song_id", "artist_id", "session_id", "location", "user_agent")
            .map(s(x, _))).mkString("\t")
      }.sorted
    }
  }

  /** Generates the corpus, then builds the warehouse from it `setupReps` times
    * (the set-up repetitions: `Pipeline.run` into a fresh directory) and
    * keeps the first.
    */
  private def setup(ctx: Ctx, problems: collection.mutable.Buffer[String]): (Corpus, String, Seq[Double]) = {
    val dir = s"${ctx.work}/corpus"
    Main.deleteTree(new File(dir))
    val c = Corpus.generate(CorpusSpec.standard, ctx.seed, dir)
    val reps = (0 until ctx.setupReps).map { k =>
      val wh = s"${ctx.work}/warehouse-$k"
      Main.deleteTree(new File(wh))
      val t0 = System.nanoTime()
      val r = Etl.once(ctx, c, wh)
      val s = (System.nanoTime() - t0) / 1e9
      problems ++= Etl.check(ctx, c, wh, r)
      (wh, s)
    }
    reps.tail.foreach(r => Main.deleteTree(new File(r._1)))
    (c, reps.head._1, reps.map(_._2))
  }

  private val answers = collection.mutable.HashMap.empty[(String, Read), Seq[String]]

  /** What is wrong with `rows` as the answer to `r` over `c`: nothing, or
    * how it differs from the oracle's answer (computed once per read).
    */
  def check(c: Corpus, r: Read, rows: Seq[Row]): Seq[String] = {
    val want = answers.getOrElseUpdate((c.dir, r), oracle(c, r))
    if (canonical(r, rows) == want) Nil
    else Seq(s"$r: ${rows.size} rows differ from the oracle's ${want.size}")
  }

  /** One checked read: traced, it runs in an `analytics.<kind>` span. */
  private def op(ctx: Ctx, tally: Tally, t: Tables, c: Corpus, r: Read): ClosedLoop.Op = traced =>
    ClosedLoop.timed(ctx, tally, traced)(
      if (traced) ctx.tracer.span(s"analytics.${r.kind}")(query(ctx, t, r)._2) else query(ctx, t, r)._2)(
      check(c, r, _))

  def workload(ctx: Ctx): Outcome = {
    val tally = new Tally
    val (corpus, wh, setupS) = setup(ctx, tally.problems)
    val tables = new Tables(ctx, wh)
    val reads = mix(new SplittableRandom(ctx.seed), corpus.spec)
    val next = () => op(ctx, tally, tables, corpus, reads.next())
    warmup(ctx, tally, tables, corpus)
    val summary = (m: Seq[Double]) => {
      val (tail, pct) = Stats.tail(m)
      Seq(Metric("read_p50_ms", Stats.median(m), "ms"), Metric("read_p90_ms", tail, "ms"),
        Metric("read_tail_percentile", pct, "%"), Metric("read_samples", m.size.toDouble, "count"),
        Metric("reads_per_s", m.size / (m.sum / 1000), "1/s")) ++
        corpus.properties.toSeq.sorted.map { case (k, v) => Metric(s"input.$k", v, "") }
    }
    val result = if (!ctx.trace) {
      val ms = ClosedLoop.run(ctx.seconds, tally)(next)
      Outcome(setupS, ms, ms.size.toDouble, tally, summary(ms))
    } else {
      val (traced, layers) = Layers.traced(ctx, "star_reads", tally)(next)(
        () => layerMetrics(ctx),
        () => Etl.companion(ctx, tally, corpus, s"${ctx.work}/etl-trace"),
        () => Registry.companion(ctx, tally))
      Main.deleteTree(new File(s"${ctx.work}/etl-trace"))
      Outcome(setupS, traced, traced.size.toDouble, tally, summary(traced), layers)
    }
    Main.deleteTree(new File(wh)); Main.deleteTree(new File(corpus.dir))
    answers.clear()
    result
  }

  /** Three rounds of the mix, untimed and untraced: JIT and codegen
    * warm-up, every kind three times (checked and counted like the rest).
    */
  private def warmup(ctx: Ctx, tally: Tally, t: Tables, c: Corpus): Unit = ctx.tracer.untraced {
    mix(new SplittableRandom(-1L), c.spec).take(3 * kinds.size).foreach(r => op(ctx, tally, t, c, r)(false))
  }

  /** The read layers for a traced run of another workload, over the tables
    * the companion ETL left in `wh`: three checked, traced reads of each
    * kind, counted in `tally`.
    */
  def companion(ctx: Ctx, tally: Tally, corpus: Corpus, wh: String): () => Seq[Metric] = {
    val t = new Tables(ctx, wh)
    warmup(ctx, tally, t, corpus)
    mix(new SplittableRandom(ctx.seed), corpus.spec).take(3 * kinds.size).foreach { r =>
      val rows = scala.util.Try(ctx.tracer.span(s"analytics.${r.kind}")(query(ctx, t, r)._2))
      tally.count(rows.fold(e => Seq(s"$r threw ${e.getMessage}"), check(corpus, r, _)))
    }
    layerMetrics(ctx)
  }

  /** `analytics.Analytics` layer metrics from the traced `analytics.*`
    * spans; files are counted under the warehouse the reads ran on.
    */
  def layerMetrics(ctx: Ctx): () => Seq[Metric] = () => {
    val t = ctx.tracer
    kinds.flatMap { kind =>
      val ss = t.named(s"analytics.$kind")
      val inc = ss.map(s => t.inclusive(s.id))
      val plan = inc.map(_.planMs.toDouble)
      val cg = inc.map(_.codegenMs)
      val exec = ss.zip(inc).map { case (s, c) => s.durNs / 1e6 - c.planMs - c.codegenMs }
      Seq(Metric(s"analytics.$kind.plan_ms", Stats.median(plan), "ms"),
        Metric(s"analytics.$kind.codegen_ms", Stats.median(cg), "ms"),
        Metric(s"analytics.$kind.exec_ms", Stats.median(exec), "ms"),
        Metric(s"analytics.$kind.jobs", Stats.median(inc.map(_.jobs.toDouble)), "count"))
    } ++ Seq(
      Metric("analytics.month_range.files_read_ratio", scanShare(), "ratio"),
      Metric("analytics.rows_scanned_per_row_returned", scanRatio(), "ratio"))
  }

  private def scanShare(): Double = {
    val mr = scanLog.filter(_.kind == "month_range")
    mr.map(_.filesRead).sum.toDouble / math.max(1L, mr.map(_.filesPresent).sum)
  }
  private def scanRatio(): Double =
    scanLog.map(_.rowsScanned).sum.toDouble / math.max(1L, scanLog.map(_.rowsReturned).sum)
}
