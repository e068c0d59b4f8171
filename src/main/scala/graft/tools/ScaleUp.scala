package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-test fixture generator (tooling, not harness contract): writes a
  * `factor`-times-larger copy of an sf-dir by unioning `factor` id-shifted
  * copies of every table, preserving referential integrity WITHIN each
  * copy (all int64 key columns of a logical entity shift by the same
  * `copy * 1e9`) and keeping the tiny dims (region/nation and the int32
  * FK columns that point at them) shared.
  *
  * Document text is the one column where a verbatim copy would be wrong:
  * 10 identical copies of every doc would make every cross-copy pair an
  * exact near-dup, growing pair-mining output C(factor,2)-fold — a
  * super-linear blowup BY CONSTRUCTION, not a property of the operators
  * under test. Instead every token in copy c > 0 gets a copy-specific
  * suffix: token/shingle/vocabulary spaces are disjoint across copies, so
  * each copy mines exactly its own near-dup structure and the honest
  * expectation for the whole fixture is ~linear growth. n_chars is
  * recomputed to stay consistent with the perturbed text.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> <factor>
  */
object ScaleUp {

  private val Shift = 1000000000L

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args.take(3)
    val factor = factorS.toInt
    require(factor >= 1, s"need factor >= 1, got $factor")
    val spark = graft.Sessions.local()
    generate(spark, src, out, factor)
    spark.stop()
  }

  /** The generation body, callable from other tools (ScaleGate). */
  def generate(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    // table -> int64 key columns that shift per copy
    val shifted: Map[String, Seq[String]] = Map(
      "customer" -> Seq("c_custkey"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"),
      "events" -> Seq("event_id", "user_id"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "part" -> Seq("p_partkey"),
      "supplier" -> Seq("s_suppkey"))
    val copied = Seq("region", "nation")

    def copyOf(table: String, base: DataFrame, c: Int): DataFrame = {
      val keyed = shifted(table).foldLeft(base)((df, k) =>
        df.withColumn(k, col(k) + lit(c * Shift)))
      if (table == "documents" && c > 0)
        keyed
          .withColumn("text",
            array_join(transform(split(col("text"), " "),
              t => concat(t, lit(s"x$c"))), " "))
          .withColumn("n_chars", length(col("text")).cast("long"))
      else keyed
    }

    copied.foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t: copied")
    }
    shifted.keys.toSeq.sorted.foreach { t =>
      val base = spark.read.parquet(s"$src/$t.parquet")
      val scaled = (0 until factor).map(copyOf(t, base, _)).reduce(_ union _)
      scaled.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t: x$factor")
    }
  }
}
