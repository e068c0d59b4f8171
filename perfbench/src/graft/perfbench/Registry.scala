package graft.perfbench

import java.io.File
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkEntry

/** `registry_loops`: nine registered queries bound by job count and by the
  * memoised `_derive_*` derivations. One operation is one pass over all
  * nine, in a seeded order, after `SparkEntry.clearMemos()`; each query's
  * frame, the one `graft.Verify` dumps, is materialised with a `noop` write.
  */
object Registry {
  val queries = Seq("graph_fiedler", "graph_cc_stars", "ana_markov_stationary", "ana_pagerank",
    "graph_label_prop", "graph_modularity", "graph_conductance", "dedup_lsh_curve",
    "dedup_minhash_est")
  /** The memoised derivations the nine queries share. */
  val derivations = Seq("_derive_copurchase_edges", "_derive_event_transitions", "_derive_lpa_labels")

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case t: java.sql.Timestamp => s"${t.getTime}:${t.getNanos}"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case o => o.toString
  }

  /** SHA-256 of a frame's schema and its rows in sorted order: the same
    * for a live frame and for its parquet dump.
    */
  def contentHash(df: DataFrame): String = {
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val rows = df.collect().map(r => r.toSeq.map(canon).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update((schema + "\n" + rows.mkString("\n")).getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The `"query": "hash"` pairs of `registry_expected.json`. */
  def expected(benchDir: String): Map[String, String] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$benchDir/registry_expected.json")), "UTF-8")
    "\"([a-z_]+)\"\\s*:\\s*\"([0-9a-f]{64})\"".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  private def writeFixture(ctx: Ctx, dir: String): Double = {
    Main.deleteTree(new File(dir))
    val t0 = System.nanoTime()
    Fixture.write(ctx.spark, dir)
    (System.nanoTime() - t0) / 1e9
  }

  /** One pass: clears the memos, then builds each query in `order` and
    * materialises its frame with a `noop` write. Returns the frames, which
    * [[check]] hashes outside the timed region.
    */
  def pass(ctx: Ctx, dir: String, order: Seq[String]): Seq[(String, DataFrame)] = {
    val t = ctx.tracer
    t.span("registry.pass") {
      SparkEntry.clearMemos()
      if (t.enabled) {
        val all = SparkEntry.derivations.toMap
        derivations.foreach(d => t.span("registry.derive")(all(d)(ctx.spark, dir)))
      }
      order.map { q =>
        q -> t.span(s"registry.q.$q") {
          val df = t.span("registry.build")(SparkEntry.queries(q)(ctx.spark, dir))
          t.span("registry.action")(df.write.format("noop").mode("overwrite").save())
          df
        }
      }
    }
  }

  /** The queries of a pass whose content hash is not the expected one. */
  def check(ctx: Ctx, frames: Seq[(String, DataFrame)], want: Map[String, String]): Seq[String] =
    ctx.tracer.untraced(frames.flatMap { case (q, df) =>
      val h = contentHash(df)
      if (want.get(q).contains(h)) None else Some(s"$q: content hash $h, expected ${want.getOrElse(q, "none")}")
    })

  private def op(ctx: Ctx, tally: Tally, dir: String, want: Map[String, String],
                 order: Seq[String]): ClosedLoop.Op = traced =>
    ClosedLoop.timed(ctx, tally, traced)(pass(ctx, dir, order))(check(ctx, _, want))

  def workload(ctx: Ctx): Outcome = {
    val tally = new Tally
    val want = expected(ctx.benchDir)
    if (want.keySet != queries.toSet) tally.problems += s"registry_expected.json lists ${want.keySet.toSeq.sorted}"
    val setupS = (0 until ctx.setupReps).map(k => writeFixture(ctx, s"${ctx.work}/fixture-$k"))
    (1 until ctx.setupReps).foreach(k => Main.deleteTree(new File(s"${ctx.work}/fixture-$k")))
    val dir = s"${ctx.work}/fixture-0"
    val rnd = new SplittableRandom(ctx.seed)
    val next = () => op(ctx, tally, dir, want, new scala.util.Random(rnd.nextLong()).shuffle(queries))
    val summary = (m: Seq[Double]) => Seq(
      Metric("registry_pass_s", Stats.median(m) / 1000, "s"),
      Metric("registry_passes", m.size.toDouble, "count"))

    // One operation per run: the first pass in a fresh JVM, which pays
    // codegen and JIT warm-up as graft.Verify and graft.Bench do. It takes
    // longer than run_seconds, and a second pass would be a warm one.
    val result = if (!ctx.trace) {
      val ms = ClosedLoop.run(0, tally)(next)
      Outcome(setupS, ms, queries.size.toDouble * ms.size, tally, summary(ms))
    } else {
      // the tracing overhead compares warm passes, after one cold pass
      next()(false)
      val corpus = Corpus.generate(CorpusSpec.standard, ctx.seed, s"${ctx.work}/corpus-trace")
      val wh = s"${ctx.work}/etl-trace"
      val (traced, layers) = Layers.traced(ctx, "registry_loops", tally)(next)(
        () => layerMetrics(ctx),
        () => Etl.companion(ctx, tally, corpus, wh),
        () => Reads.companion(ctx, tally, corpus, wh))
      Main.deleteTree(new File(wh)); Main.deleteTree(new File(corpus.dir))
      Outcome(setupS, traced, queries.size.toDouble * traced.size, tally, summary(traced), layers)
    }
    Main.deleteTree(new File(dir))
    result
  }

  /** The registry layers for a traced run of another workload: one traced
    * pass, the first in the JVM as `registry_pass_s` times it, checked
    * against `registry_expected.json` and counted in `tally`.
    */
  def companion(ctx: Ctx, tally: Tally): () => Seq[Metric] = {
    val dir = s"${ctx.work}/fixture-trace"
    ctx.tracer.untraced(writeFixture(ctx, dir))
    val frames = scala.util.Try(pass(ctx, dir, queries))
    tally.count(frames.fold(e => Seq(s"registry pass threw ${e.getMessage}"), check(ctx, _, expected(ctx.benchDir))))
    val m = layerMetrics(ctx)
    () => { val r = m(); Main.deleteTree(new File(dir)); r }
  }

  /** `SparkEntry` + `operators.*` layer metrics, per traced pass. */
  def layerMetrics(ctx: Ctx): () => Seq[Metric] = () => {
    val t = ctx.tracer
    val passes = math.max(1, t.named("registry.pass").size).toDouble
    val all = t.byName("registry.pass")
    def dur(name: String) = t.named(name).map(_.durNs).sum / 1e9 / passes
    Seq(
      Metric("registry.build_s", dur("registry.build"), "s"),
      Metric("registry.build_jobs", t.byName("registry.build").jobs / passes, "count"),
      Metric("registry.action_jobs", t.byName("registry.action").jobs / passes, "count"),
      Metric("registry.plan_s", all.planMs / 1000.0 / passes, "s"),
      Metric("registry.codegen_s", all.codegenMs / 1000.0 / passes, "s"),
      Metric("registry.exec_task_s", all.runNs / 1e9 / passes, "s"),
      Metric("registry.shuffle_bytes", all.shuffleWrite / passes, "bytes"),
      Metric("registry.derive_s", dur("registry.derive"), "s")) ++
      queries.flatMap { q =>
        val ss = t.named(s"registry.q.$q")
        Seq(Metric(s"registry.$q.wall_s", Stats.median(ss.map(_.durNs / 1e9)), "s"),
          Metric(s"registry.$q.jobs", Stats.median(ss.map(s => t.inclusive(s.id).jobs.toDouble)), "count"))
      }
  }

  /** Writes the fixture to `<work>/registry-fixture` and prints each
    * query's content hash; with `verifyDump`, also the hash of the frame
    * `graft.Verify` dumped there, which must be the same.
    */
  def printHashes(ctx: Ctx, verifyDump: Option[String]): Unit = {
    val dir = s"${ctx.work}/registry-fixture"
    writeFixture(ctx, dir)
    println(s"[perfbench] fixture $dir")
    queries.foreach { q =>
      SparkEntry.clearMemos()
      val live = contentHash(SparkEntry.queries(q)(ctx.spark, dir))
      val dumped = verifyDump.map(d => contentHash(ctx.spark.read.parquet(s"$d/$q")))
      println(s"""    "$q": "$live",""" + dumped.map(h => s"  dump ${if (h == live) "same" else h}").getOrElse(""))
    }
  }
}
