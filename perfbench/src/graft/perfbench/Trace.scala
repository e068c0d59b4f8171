package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer: `[startNs, endNs)` on the monotonic clock, plus the
  * wall-clock millis Spark's planning tracker stamps its phases with.
  * `parent` is -1 for a root span.
  */
final case class Span(id: Int, parent: Int, name: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def durNs: Long = endNs - startNs
}

/** What Spark did on behalf of one span (jobs it launched while the span
  * was innermost on the calling thread, or on threads that thread started).
  */
final class Counters {
  var jobs, stages, tasks = 0L
  var runNs, delayMs, shuffleWrite = 0L
  var planMs = 0L
  var codegenMs = 0.0
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runNs += o.runNs
    delayMs += o.delayMs; shuffleWrite += o.shuffleWrite; planMs += o.planMs
    codegenMs += o.codegenMs
  }
}

object Spans {
  /** A span's self time: its duration minus the part of it that its direct
    * children cover. Children may overlap each other (parallel writes), so
    * their intervals are clipped to the parent and merged before subtracting.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Each span's own share of a value measured inclusively at span edges:
    * its inclusive value minus its direct children's inclusive values.
    */
  def exclusive(spans: Seq[Span], inclusive: Map[Int, Double]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> (inclusive(s.id) - kids.getOrElse(s.id, Nil).map(k => inclusive(k.id)).sum)).toMap
  }

  /** Ids of `root` and every span below it. */
  def subtree(spans: Seq[Span], root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(c => go(c.id))
    go(root).toSet
  }

  def toJson(spans: Seq[Span], self: Map[Int, Long], counters: Int => Counters): String =
    spans.map { s =>
      val c = counters(s.id)
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)},"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"executor_run_ns":${c.runNs},"shuffle_write_bytes":${c.shuffleWrite},"plan_ms":${c.planMs},"codegen_ms":${Json.num(c.codegenMs)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
}

/** Records spans around the benchmark's calls into the program and counts
  * Spark's work per span, all from outside the program:
  *  - a job group set around each span attributes jobs, stages and tasks;
  *  - a `QueryExecutionListener` reads each executed query's
  *    `QueryPlanningTracker` phases, attributed to a span by their time;
  *  - `CodegenMetrics`' compile-time histogram is read at span edges.
  * Nothing is installed until [[start]], so untimed work before it, and the
  * untraced runs, pay nothing.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile private var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  // (startMs, endMs, durationMs) of every analysis/optimization/planning phase
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
  private val cachedBlocks = new ConcurrentHashMap[String, Long]()
  private val cacheNow = new AtomicLong(0)

  def enabled: Boolean = on

  /** Runs `body` with spans and job attribution off (warm-ups inside a
    * traced run).
    */
  def untraced[T](body: => T): T = {
    val was = on
    on = false
    try body finally on = was
  }

  /** Bytes of RDD blocks that `body` leaves cached. */
  def cacheGrowth(body: => Unit): Long = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val base = cacheNow.get
    body
    org.apache.spark.PerfbenchBus.drain(sc)
    cacheNow.get - base
  }

  private def c(id: Int): Counters = counters.computeIfAbsent(id, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.filter(_.startsWith("perfbench-")).foreach { g =>
        val id = g.stripPrefix("perfbench-").toInt
        e.stageIds.foreach(s => stageSpan.putIfAbsent(s, id))
        val k = c(id)
        k.synchronized { k.jobs += 1 }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
        val k = c(id); k.synchronized { k.stages += 1 }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val k = c(id)
        val tm = e.taskMetrics
        k.synchronized {
          k.tasks += 1
          val sub = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
          k.delayMs += math.max(0L, e.taskInfo.launchTime - sub)
          if (tm != null) {
            k.runNs += tm.executorRunTime * 1000000L
            k.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
          }
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        val old = Option(cachedBlocks.put(b.blockId.name, size)).getOrElse(0L)
        cacheNow.addAndGet(size - old)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        if (name != "parsing") phases.add((p.startTimeMs, p.endTimeMs, p.durationMs))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Installs the listeners; spans recorded before this are no-ops. */
  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Total Janino compile time so far, in ms. The histogram keeps a sample
    * of at most 1028 values, so past that the total is its mean times the
    * count: exact for short runs, an estimate for long ones.
    */
  private def codegenTotalMs(): Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val v = h.getSnapshot.getValues
    if (v.isEmpty) 0.0
    else if (h.getCount <= v.length) v.sum.toDouble
    else v.sum.toDouble / v.length * h.getCount
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val cg0 = codegenTotalMs()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      sc.setJobGroup(s"perfbench-$id", name, interruptOnCancel = false)
      try body
      finally {
        val t1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"perfbench-$p", "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        val k = c(id)
        k.synchronized { k.codegenMs += codegenTotalMs() - cg0 }
        spans += Span(id, parent, name, t0, t1, ms0, ms1)
      }
    }

  /** Waits for the listener bus, then hands each planning phase to the
    * innermost span whose wall-clock interval holds it. Codegen is counted
    * per span inclusively at its edges, so it is made exclusive here.
    */
  def finish(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val parentOf = spans.map(s => s.id -> s.parent).toMap
    def depth(id: Int): Int = if (id < 0) 0 else 1 + depth(parentOf(id))
    val byDepthDesc = spans.sortBy(s => -depth(s.id))
    phases.asScala.foreach { case (a, b, d) =>
      val mid = (a + b) / 2
      byDepthDesc.find(s => s.startMs <= mid && mid <= s.endMs)
        .foreach(s => c(s.id).planMs += d)
    }
    phases.clear()
    val inclusiveCodegen = spans.map(s => s.id -> c(s.id).codegenMs).toMap
    Spans.exclusive(spans.toSeq, inclusiveCodegen).foreach { case (id, v) => c(id).codegenMs = v }
  }

  /** Counters of the span and everything below it. */
  def inclusive(id: Int): Counters = {
    val t = new Counters
    Spans.subtree(spans.toSeq, id).foreach(i => t.add(c(i)))
    t
  }

  /** Sum of inclusive counters over every span with this name. */
  def byName(name: String): Counters = {
    val t = new Counters
    spans.filter(_.name == name).foreach(s => t.add(inclusive(s.id)))
    t
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def writeJson(path: String): Unit = {
    val self = Spans.selfTimes(spans.toSeq)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      Spans.toJson(spans.toSeq, self, c))
  }
}
