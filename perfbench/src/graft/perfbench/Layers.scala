package graft.perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** The per-layer metrics every traced run reports, whatever its workload:
  * session start, Spark's scheduler counts over the workload's own traced
  * operations, JVM garbage collection, and the tracing overhead.
  */
object Layers {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** The shape of every traced run: pairs of the workload's operation,
    * untraced and traced (see [[ClosedLoop.paired]]), then each section's
    * traced probes of its layers; returns the traced operation times and
    * every per-layer metric. A section returns a thunk because span
    * arithmetic waits for [[Tracer.finish]].
    */
  def traced(ctx: Ctx, workload: String, tally: Tally)(next: () => ClosedLoop.Op)
            (sections: (() => () => Seq[Metric])*): (Seq[Double], Seq[Metric]) = {
    val t = ctx.tracer
    t.start()
    val gc0 = gcMs()
    val pairs = ClosedLoop.paired(ctx.seconds, tally) { () =>
      val op = next()
      traced => if (traced) op(true) else t.untraced(op(false))
    }
    val gcS = (gcMs() - gc0) / 1000.0
    val traced = pairs.map(_._2)
    val thunks = sections.map(_())
    t.finish()
    t.writeJson(s"${ctx.work}/spans-$workload-${ctx.seed}.json")
    (traced, common(ctx, pairs, gcS) ++ thunks.flatMap(_()))
  }

  /** `pairs` are the workload's (untraced, traced) operation times in ms;
    * `gcS` is GC time over all of them.
    */
  private def common(ctx: Ctx, pairs: Seq[(Double, Double)], gcS: Double): Seq[Metric] = {
    val ops = ctx.tracer.byName("op")
    val n = pairs.size.toDouble
    Seq(
      Metric("session.start_s", ctx.sessionStartS, "s"),
      Metric("scheduler.jobs", ops.jobs / n, "count"),
      Metric("scheduler.stages", ops.stages / n, "count"),
      Metric("scheduler.tasks", ops.tasks / n, "count"),
      Metric("scheduler.delay_s", ops.delayMs / 1000.0 / n, "s"),
      Metric("jvm.gc_s", gcS / (2 * n), "s"),
      Metric("trace.overhead_s", overheadS(pairs), "s"))
  }

  /** Tracing overhead: the median over pairs of traced minus untraced. */
  def overheadS(pairs: Seq[(Double, Double)]): Double =
    Stats.median(pairs.map { case (plain, traced) => traced - plain }) / 1000.0
}
