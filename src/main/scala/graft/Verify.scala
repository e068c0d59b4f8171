package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal of `s`: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in the oracle SQL would otherwise make
    * the parity check's json.load fail and silently zero the round's
    * correctness. The one JSON escaper of the harness mains. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dumps each frame of `queries` whose name passes `keep` to
    * `outDir/<name>` as one parquet file and writes the manifest of
    * attempted and failed names, `outDir/manifest.json`. A query that
    * throws must not silently vanish from the sweep's denominator (its
    * dump dir simply wouldn't exist and parity.py would count what's left
    * — ADVICE r17 medium): parity.py fails when failed is non-empty or a
    * swept name has no dump directory. A non-fatal error is recorded and
    * the sweep goes on; a fatal one (an OutOfMemoryError, say) propagates
    * and aborts the run, and the manifest written on the way out leaves
    * every name not yet dumped as a missing dump. Returns the failed
    * names.
    */
  def sweep(spark: SparkSession, sfDir: String, outDir: String,
            queries: Map[String, (SparkSession, String) => DataFrame],
            keep: String => Boolean = _ => true): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val swept = queries.keys.filter(keep).toSeq.sorted
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    def arr(ss: Seq[String]) = ss.map(q).mkString("[", ",", "]")
    try swept.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    } finally Files.writeString(Paths.get(s"$outDir/manifest.json"),
      s"""{"swept": ${arr(swept)}, "failed": ${arr(failed.toSeq)}}""")
    failed.toSeq
  }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [keyRegex] — the optional regex restricts the
    // dump to matching query names (local iteration; the driver passes 2).
    val sfDir = args(0); val outDir = args(1)
    val keep: String => Boolean =
      if (args.length > 2) s => s.matches(args(2)) else _ => true
    val spark = Sessions.local()
    sweep(spark, sfDir, outDir, SparkEntry.queries, keep)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
