package graft.perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  /** Full precision, and never NaN/Infinity (which JSON cannot carry). */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}

object Stats {
  /** NaN for no samples (printed as 0; only a failed run has none). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail percentile as (value, percentile): the highest one with at
    * least ten samples above it, but never below p90. A sample under 100
    * cannot hold ten above p90, so it keeps n/10 above (at least one), the
    * most the sample supports at p90 or beyond; one sample is its own tail.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    val above = if (n < 2) 0 else math.max(1, math.min(10, n / 10))
    if (n == 0) (Double.NaN, Double.NaN) else (s(n - 1 - above), 100.0 * (n - above) / n)
  }
}

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** The correctness tally of one run: checked operations attempted and
  * failed, and everything a check found wrong (set-up checks included).
  */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val problems = collection.mutable.ArrayBuffer.empty[String]

  /** Counts one operation whose checks found `bad`; true when it passed. */
  def count(bad: Seq[String]): Boolean = {
    attempted += 1
    if (bad.nonEmpty) { failed += 1; problems ++= bad }
    bad.isEmpty
  }
}

/** The closed loop every workload runs: one client thread issues the next
  * operation only after the previous one returned. An operation is a
  * function of `traced` that returns its timed wall in ms, or None when it
  * failed its check (checks run outside the timed region and are tallied).
  */
object ClosedLoop {
  type Op = Boolean => Option[Double]

  /** A loop that has not completed one operation stops after this many failures. */
  val giveUpAfter = 3

  /** Times `body` and checks its result with `check` outside the timed
    * region; traced operations run inside an `op` span.
    */
  def timed[R](ctx: Ctx, tally: Tally, traced: Boolean)(body: => R)(check: R => Seq[String]): Option[Double] = {
    val t0 = System.nanoTime()
    val r = scala.util.Try(if (traced) ctx.tracer.span("op")(body) else body)
    val ms = (System.nanoTime() - t0) / 1e6
    val bad = r.fold(e => Seq(s"operation threw ${e.getMessage}"), check)
    if (tally.count(bad)) Some(ms) else None
  }

  /** Runs `step` until `seconds` have passed and it has yielded at least
    * `least` results, or gives up short of them after [[giveUpAfter]]
    * failures.
    */
  private def loop[A](seconds: Double, tally: Tally, least: Int)(step: () => Seq[A]): Seq[A] = {
    val t0 = System.nanoTime()
    val out = collection.mutable.ArrayBuffer.empty[A]
    val failed0 = tally.failed
    while (out.size < least || (System.nanoTime() - t0) / 1e9 < seconds) {
      out ++= step()
      if (out.size < least && tally.failed - failed0 >= giveUpAfter) return out.toSeq
    }
    out.toSeq
  }

  /** Untraced operations back to back for `seconds` (at least one); `next`
    * gives each operation. Returns the times of those that passed.
    */
  def run(seconds: Double, tally: Tally)(next: () => Op): Seq[Double] =
    loop(seconds, tally, least = 1)(() => next()(false).toSeq)

  /** Pairs of the same operation, untraced and traced, back to back for
    * `seconds` and at least two pairs; odd pairs run the traced one first,
    * so warm-up and drift of the machine's speed fall on both sides alike.
    * Returns (untraced ms, traced ms) of each pair whose two halves passed.
    */
  def paired(seconds: Double, tally: Tally)(next: () => Op): Seq[(Double, Double)] = {
    var k = 0
    loop(seconds, tally, least = 2) { () =>
      val op = next()
      val tracedFirst = k % 2 == 1
      k += 1
      val first = op(tracedFirst)
      val second = op(!tracedFirst)
      val (plain, traced) = if (tracedFirst) (second, first) else (first, second)
      (for (p <- plain; t <- traced) yield (p, t)).toSeq
    }
  }
}

/** The memory the program keeps alive between operations: heap in use
  * after a full collection once the measured operations are done, plus
  * the non-heap pools in use (metaspace, code cache). The heap is fixed
  * (`-Xms` = `-Xmx`, so the timings do not move with heap resizing), which
  * makes the resident set read back the heap size; this follows what the
  * program retains instead. It does not see memory an operation holds only
  * while it runs.
  */
object Memory {
  def retainedMb(): Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    def heap() = { System.gc(); m.getHeapMemoryUsage.getUsed }
    // Spark's cleaner thread frees the blocks of frames a collection found
    // dead only after it, so collect until the heap stops shrinking
    var prev = Long.MaxValue
    var used = heap()
    var rounds = 1
    while (rounds < 8 && prev - used > (1L << 20)) {
      Thread.sleep(300)
      prev = used
      used = heap()
      rounds += 1
    }
    (used + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }
}

/** What a workload hands back: every set-up repetition, every timed
  * operation, the work items those operations completed (for throughput
  * over the operations' own wall time), and their correctness tally.
  */
final case class Outcome(
    setupS: Seq[Double], opsMs: Seq[Double], workItems: Double, tally: Tally,
    summary: Seq[Metric], layers: Seq[Metric] = Nil)

final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String,
                val benchDir: String, val seed: Long, val seconds: Double,
                val trace: Boolean, val cores: Int, val sessionStartS: Double) {
  /** Set-up repetitions: `setup_s` takes their median. A traced run reports
    * no `setup_s`, so it sets up once and stays well inside its time limit.
    */
  val setupReps: Int = if (trace) 1 else 3
}

/** Entry point; `perfbench/run.py` builds the classes and starts this.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --work DIR
  * --bench-dir DIR`; the session runs at `local[N]`, N = the core count. The last line printed is the result JSON. `--workload
  * selftest` runs the benchmark's self-tests, and `--workload
  * registry_hashes` prints the content hashes `registry_expected.json` holds.
  */
object Main {
  val workloads = Seq("sparkify_etl", "star_reads", "registry_loops")

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.expressions.GraftFunctions.register(spark)
    spark
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts.getOrElse("work", ".bench_work")).getAbsolutePath
    val benchDir = new File(opts.getOrElse("bench-dir", "perfbench")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    require(workloads.contains(workload) || workload == "selftest" ||
      workload == "registry_hashes", s"unknown workload $workload")
    new File(work).mkdirs()

    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, tracer, work, benchDir, seed, seconds, trace, cores, sessionStartS)

    val code =
      try workload match {
        case "selftest" => SelfTest.run(ctx)
        case "registry_hashes" => Registry.printHashes(ctx, opts.get("verify-dump")); 0
        case w => report(ctx, w, run(ctx, w))
      } finally spark.stop()
    sys.exit(code)
  }

  private def run(ctx: Ctx, workload: String): Outcome = workload match {
    case "sparkify_etl" => Etl.workload(ctx)
    case "star_reads" => Reads.workload(ctx)
    case "registry_loops" => Registry.workload(ctx)
  }

  /** Prints the human summary, then the result JSON as the last line. */
  private def report(ctx: Ctx, workload: String, o: Outcome): Int = {
    val setupS = ctx.sessionStartS + Stats.median(o.setupS)
    val retainedMb = Memory.retainedMb()
    val (tailMs, tailPct) = Stats.tail(o.opsMs)
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_ms", Stats.median(o.opsMs), "ms"),
      Metric("throughput_per_s", o.workItems / (o.opsMs.sum / 1000), "1/s"),
      Metric("retained_mb", retainedMb, "MB"))
    val t = o.tally
    val errorRate = t.failed.toDouble / math.max(1L, t.attempted)
    val correct = t.failed == 0 && t.problems.isEmpty
    t.problems.foreach(p => System.err.println(s"[perfbench] INCORRECT: $p"))
    val summary = Seq(Metric("error_rate", errorRate, "ratio"),
      Metric("setup_s", setupS, "s"), Metric("retained_mb", retainedMb, "MB"),
      Metric("ops", o.opsMs.size.toDouble, "count"),
      Metric("op_tail_ms", tailMs, "ms"),
      Metric("op_tail_percentile", tailPct, "%")) ++ o.summary
    summary.foreach(m => println(f"[perfbench] $workload%-15s ${m.name}%-28s ${Json.num(m.value)} ${m.unit}"))
    println(f"[perfbench] $workload%-15s session_s ${ctx.sessionStartS}%.2f setup_reps_s ${o.setupS.map(x => f"$x%.2f").mkString(" ")}")
    println(f"[perfbench] $workload%-15s op_ms ${o.opsMs.map(x => f"$x%.1f").mkString(" ")}")
    val metrics = if (ctx.trace) o.layers else endToEnd
    val body = metrics.map(m =>
      s"${Json.str(m.name)}: {\"value\": ${Json.num(m.value)}, \"unit\": ${Json.str(m.unit)}}")
      .mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${t.attempted}, "failed": ${t.failed}, "metrics": {$body}}""")
    0
  }
}
