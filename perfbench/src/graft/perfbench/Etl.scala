package graft.perfbench

import java.io.File
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.{DataFrame, Observation}
import graft.etl.{Ingest, Pipeline, Transforms}

/** `sparkify_etl`: the paper's load. One operation reads the two JSON
  * corpora through `Ingest` and runs `Pipeline.run` into a fresh directory.
  */
object Etl {
  val tables = Seq("songplays", "artists", "time", "users", "songs")

  /** Generates the seeded corpus `setupReps` times and keeps the first
    * copy; the copies must be byte-identical. Returns the corpus and each
    * repetition's time (benchmark code only: generation is not the program's work).
    */
  def setupCorpus(ctx: Ctx, problems: collection.mutable.Buffer[String]): (Corpus, Seq[Double]) = {
    val reps = (0 until ctx.setupReps).map { k =>
      val dir = s"${ctx.work}/corpus-$k"
      Main.deleteTree(new File(dir))
      val t0 = System.nanoTime()
      val c = Corpus.generate(CorpusSpec.standard, ctx.seed, dir)
      (c, (System.nanoTime() - t0) / 1e9)
    }
    if (reps.map(_._1.digest).distinct.size != 1)
      problems += "the same seed generated different corpus bytes"
    reps.tail.foreach(r => Main.deleteTree(new File(r._1.dir)))
    (reps.head._1, reps.map(_._2))
  }

  /** One ETL operation: JSON paths in, five written tables out. */
  def once(ctx: Ctx, corpus: Corpus, out: String): Pipeline.Result = {
    val t = ctx.tracer
    t.span("etl.iteration") {
      val (events, songs) = t.span("ingest.read") {
        (Ingest.readLogEvents(ctx.spark, corpus.logGlob), Ingest.readSongs(ctx.spark, corpus.songGlob))
      }
      t.span("pipeline.run")(Pipeline.run(ctx.spark, events, songs, out))
    }
  }

  def dataFiles(dir: File): Seq[File] =
    if (dir.isDirectory) Option(dir.listFiles).getOrElse(Array.empty[File]).toSeq.flatMap(dataFiles)
    else if (dir.getName.startsWith("part-")) Seq(dir) else Nil

  /** Checks one run's output against the generator's expected counts:
    * the counts `Pipeline.run` reports and the rows read back from disk.
    */
  def check(ctx: Ctx, corpus: Corpus, out: String, r: Pipeline.Result): Seq[String] = {
    val failures = r.failures.map { case (t, e) => s"Pipeline.run failed writing $t: ${e.getMessage}" }
    val counts = tables.flatMap { t =>
      val want = corpus.expected(t)
      val reported = r.counts.get(t)
      val onDisk = ctx.spark.read.parquet(s"$out/$t").count()
      (if (reported.contains(want)) Nil else Seq(s"$t: Pipeline.run reported $reported rows, expected $want")) ++
        (if (onDisk == want) Nil else Seq(s"$t: $onDisk rows on disk, expected $want"))
    }
    failures.toSeq ++ counts
  }

  def workload(ctx: Ctx): Outcome = {
    val tally = new Tally
    val (corpus, setupS) = setupCorpus(ctx, tally.problems)
    var iteration = 0
    var lastOut: Option[String] = None
    // one checked operation into a fresh directory; the previous one's
    // tables are deleted once this one's are checked
    val op: ClosedLoop.Op = traced => {
      val out = s"${ctx.work}/etl/out-$iteration"
      iteration += 1
      val ms = ClosedLoop.timed(ctx, tally, traced)(once(ctx, corpus, out))(check(ctx, corpus, out, _))
      lastOut.foreach(d => Main.deleteTree(new File(d)))
      lastOut = Some(out)
      ms
    }

    // warm-up, untimed: codegen, JIT and heap sizing settle over the first
    // operations (they are checked and counted like the rest)
    (0 until 2).foreach(_ => op(false))
    val summary = (m: Seq[Double]) => Seq(
      Metric("etl_s", Stats.median(m) / 1000, "s"),
      Metric("etl_events_per_s", corpus.spec.events * m.size / (m.sum / 1000), "1/s"),
      Metric("warehouse_bytes_ratio", warehouseBytes(lastOut.get).values.sum.toDouble / corpus.inputBytes, "ratio")) ++
      corpus.properties.toSeq.sorted.map { case (k, v) => Metric(s"input.$k", v, "") }

    val result = if (!ctx.trace) {
      val ms = ClosedLoop.run(ctx.seconds, tally)(() => op)
      Outcome(setupS, ms, corpus.spec.events.toDouble * ms.size, tally, summary(ms))
    } else {
      val (traced, layers) = Layers.traced(ctx, "sparkify_etl", tally)(() => op)(
        () => layerMetrics(ctx, corpus, lastOut.get),
        () => Reads.companion(ctx, tally, corpus, lastOut.get),
        () => Registry.companion(ctx, tally))
      Outcome(setupS, traced, corpus.spec.events.toDouble * traced.size, tally, summary(traced), layers)
    }
    lastOut.foreach(d => Main.deleteTree(new File(d)))
    Main.deleteTree(new File(corpus.dir))
    result
  }

  def warehouseBytes(out: String): Map[String, Long] =
    tables.map(t => t -> dataFiles(new File(s"$out/$t")).map(_.length).sum).toMap

  /** Traced probes of the layers inside one ETL operation, then the layer
    * metrics of `etl.Ingest`, `etl.Transforms` and `etl.Pipeline`. Span
    * arithmetic waits for [[Tracer.finish]], hence the returned thunk.
    * `out` holds the last traced `Pipeline.run`'s tables.
    */
  def layerMetrics(ctx: Ctx, corpus: Corpus, out: String): () => Seq[Metric] = {
    val t = ctx.tracer
    val spark = ctx.spark
    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()
    // Ingest: parse every field of both corpora, nothing else
    val events = Ingest.readLogEvents(spark, corpus.logGlob)
    val songs = Ingest.readSongs(spark, corpus.songGlob)
    t.span("ingest.parse") { noop(events); noop(songs) }
    // Transforms: each table over cached staging, into a noop sink. The
    // staging cache is the one Pipeline.run holds: the same two frames.
    val se = events.cache()
    val ss = songs.cache()
    val cacheBytes = t.cacheGrowth { se.count(); ss.count() }
    val nextSong = se.filter(col("page") === "NextSong").count()
    val builds = Seq(
      "songplays" -> (() => Transforms.buildSongplays(se, ss)),
      "artists" -> (() => Transforms.buildArtists(se, ss)),
      "time" -> (() => Transforms.buildTime(se)),
      "users" -> (() => Transforms.buildUsers(se)),
      "songs" -> (() => Transforms.buildSongs(ss)))
    val rows = builds.map { case (name, build) =>
      val obs = Observation(s"perfbench_rows_$name")
      t.span(s"transforms.$name")(noop(build().observe(obs, count(lit(1)).as("n"))))
      name -> obs.get("n").asInstanceOf[Long]
    }.toMap
    se.unpersist(); ss.unpersist()
    val written = warehouseBytes(out)
    val files = tables.map(tb => dataFiles(new File(s"$out/$tb")).size).sum

    () => {
      val parse = t.named("ingest.parse").map(_.durNs / 1e9)
      val runs = t.named("pipeline.run")
      val runInc = runs.map(s => t.inclusive(s.id))
      val parseS = Stats.median(parse)
      Seq(
        Metric("ingest.parse_s", parseS, "s"),
        Metric("ingest.input_bytes", corpus.inputBytes.toDouble, "bytes"),
        Metric("ingest.rows", (corpus.spec.events + corpus.spec.songs).toDouble, "count"),
        Metric("ingest.mb_per_s", corpus.inputBytes / 1e6 / parseS, "MB/s")) ++
        builds.map { case (name, _) =>
          Metric(s"transforms.${name}_s", Stats.median(t.named(s"transforms.$name").map(_.durNs / 1e9)), "s")
        } ++ Seq(
        Metric("transforms.songplays_hit_ratio", rows("songplays").toDouble / math.max(1L, nextSong), "ratio"),
        Metric("transforms.shuffle_bytes",
          builds.map(b => t.byName(s"transforms.${b._1}").shuffleWrite).sum.toDouble, "bytes"),
        Metric("pipeline.run_s", Stats.median(runs.map(_.durNs / 1e9)), "s"),
        Metric("pipeline.cache_bytes", cacheBytes.toDouble, "bytes"),
        Metric("pipeline.write_files", files.toDouble, "count")) ++
        tables.map(tb => Metric(s"pipeline.write_bytes.$tb", written(tb).toDouble, "bytes")) ++ Seq(
        Metric("pipeline.warehouse_bytes_ratio", written.values.sum.toDouble / corpus.inputBytes, "ratio"),
        Metric("pipeline.jobs", Stats.median(runInc.map(_.jobs.toDouble)), "count"),
        Metric("pipeline.tasks", Stats.median(runInc.map(_.tasks.toDouble)), "count"),
        Metric("pipeline.core_busy_ratio",
          runInc.map(_.runNs).sum.toDouble / (runs.map(_.durNs).sum.toDouble * ctx.cores), "ratio"))
    }
  }

  /** The ETL layers for a traced run of another workload: one untraced
    * warm-up operation, one traced operation over `corpus`, both checked
    * and counted in `tally`, then the probes. Leaves its tables in `out`.
    */
  def companion(ctx: Ctx, tally: Tally, corpus: Corpus, out: String): () => Seq[Metric] = {
    val t = ctx.tracer
    Seq((s"$out-warm", false), (out, true)).foreach { case (dir, traced) =>
      val r = scala.util.Try(if (traced) once(ctx, corpus, dir) else t.untraced(once(ctx, corpus, dir)))
      tally.count(r.fold(e => Seq(s"ETL operation threw ${e.getMessage}"), x => t.untraced(check(ctx, corpus, dir, x))))
    }
    Main.deleteTree(new File(s"$out-warm"))
    layerMetrics(ctx, corpus, out)
  }
}
