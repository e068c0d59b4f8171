package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints formatted physical plans for the scale-critical
  * queries so pushdown / pruning / broadcast / codegen posture can be
  * inspected (dev tool, not harness contract).
  *
  * Usage: `runMain graft.tools.Plans <sfDir> [outDir|-] [query ...]`
  *  - outDir `-` (or absent): print to stdout (the historical behavior);
  *  - otherwise one `<outDir>/<query>_<suffix>.txt` per query, suffix
  *    from SPARK_GRAFT_PLAN_SUFFIX (default "plan") — how the r19
  *    optimization round captures `plans/r19/<q>_{before,after}.txt`.
  * It runs on graft.Sessions, graft.Bench's session, so the captured
  * plans are the benched plans, not a differently-sized session's.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outDir = args.lift(1).filter(_ != "-")
    val names = if (args.length > 2) args.drop(2).toSeq
      else Seq("op07_filter", "op06_join3", "ana_top_parts", "q1_pricing", "q3_top_orders")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "plan")
    val spark = graft.Sessions.local("ERROR")
    outDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    graft.expressions.GraftFunctions.register(spark)
    // `_derive_*` names resolve to their FRESH builders: the memoized
    // lookups eagerly localCheckpoint, which both runs the job and
    // collapses the interesting plan to an ExistingRDD scan.
    val all: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      graft.SparkEntry.queries ++ graft.SparkEntry.sharedDerivations.map(d => d.name -> d.build)
    names.foreach { name =>
      val plan = all(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      outDir match {
        case Some(d) =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, s"${name}_$suffix.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[plans] wrote $d/${name}_$suffix.txt")
        case None =>
          println(s"\n===================== $name =====================")
          println(plan)
      }
    }
    spark.stop()
  }
}
