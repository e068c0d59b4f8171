package graft.perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The registry workload's input: the three harness tables its nine queries
  * read (`events`, `lineitem`, `documents`), with the harness fixtures'
  * column names and types (lineitem only the columns the queries read),
  * written as `<dir>/<table>.parquet` so `SparkEntry.queries` and
  * `graft.Verify` read it unchanged.
  *
  * Its shape is the harness sf0.1 fixture's, measured on those tables
  * (perfbench/README.md lists each figure), at one fifth of its row
  * counts. The content is fixed (one constant seed), because the expected
  * output hashes in `registry_expected.json` were taken from a
  * DuckDB-oracle-checked dump of exactly this content; the workload seed
  * only orders the queries. Rows are generated on the driver in one
  * thread; Spark only writes them.
  */
object Fixture {
  final case class Spec(orders: Int, parts: Int, users: Int, events: Int, docs: Int)

  /** One fifth of the sf0.1 row counts: 147,236 orders, 20,000 parts,
    * 1,500 users, 100,000 events, 5,000 documents.
    */
  val standard: Spec = Spec(orders = 29447, parts = 4000, users = 300, events = 20000, docs = 1000)
  val seed = 20240101L

  /** Orders with 1, 2, ... 17 lines in sf0.1's lineitem (mean 4.08). */
  private val linesPerOrder = Vector[Long](11016, 21814, 29500, 29097, 23631, 15625, 8941, 4407,
    1959, 818, 292, 93, 29, 10, 1, 2, 1)
  private val eventTypes = Vector("click", "error", "purchase", "signup", "view")
  /** The 30 words of sf0.1's documents, besides the "dup" marker. */
  private val vocab = Vector(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  /** sf0.1's languages: en 41%, de, es, fr and zh about 15% each. */
  private val langs = Vector("en", "en", "en", "en", "en", "en", "en", "en",
    "de", "de", "de", "es", "es", "es", "fr", "fr", "fr", "zh", "zh", "zh")

  private def draw(rnd: SplittableRandom, weights: Vector[Long]): Int = {
    var x = rnd.nextLong(weights.sum)
    var i = 0
    while (x >= weights(i)) { x -= weights(i); i += 1 }
    i
  }

  def write(spark: SparkSession, dir: String): Unit = {
    val spec = standard
    val rnd = new SplittableRandom(seed)
    val base = LocalDateTime.of(2024, 1, 1, 0, 0)
    def df(rows: java.util.List[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(rows, schema).coalesce(1)
        .write.parquet(s"$dir/$name.parquet")

    // only the columns the queries read: the co-purchase graph is built
    // from (l_orderkey, l_partkey); parts are uniform, as in sf0.1
    val li = new java.util.ArrayList[Row]()
    var o = 0
    while (o < spec.orders) {
      val lines = 1 + draw(rnd, linesPerOrder)
      var l = 1
      while (l <= lines) {
        li.add(Row(o.toLong + 1, 1L + rnd.nextInt(spec.parts), l))
        l += 1
      }
      o += 1
    }
    df(li, StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_linenumber", IntegerType))), "lineitem")

    // uniform users, event types and times over 30 days, as in sf0.1;
    // values exponential with mean 50 (sf0.1: median 34.7, p90 114)
    val ev = new java.util.ArrayList[Row]()
    var e = 0
    while (e < spec.events) {
      val ts = base.plusNanos((rnd.nextLong(30L * 86400L * 1000000L)) * 1000L)
      val value = math.round(-50.0 * math.log(1.0 - rnd.nextDouble()) * 100) / 100.0
      ev.add(Row(e.toLong, ts, rnd.nextInt(spec.users).toLong,
        eventTypes(rnd.nextInt(eventTypes.size)), value, s"""{"k": ${rnd.nextInt(100)}}"""))
      e += 1
    }
    df(ev, StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))), "events")

    // 10-99 words each; one document in twenty is an earlier one's text
    // plus " dup", sf0.1's near duplicates (250 of 5,000)
    val texts = new Array[String](spec.docs)
    val docs = new java.util.ArrayList[Row]()
    var d = 0
    while (d < spec.docs) {
      val text =
        if (d > 0 && rnd.nextInt(20) == 0) texts(rnd.nextInt(d)) + " dup"
        else Array.fill(10 + rnd.nextInt(90))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      texts(d) = text
      docs.add(Row(d.toLong, text, langs(rnd.nextInt(langs.size)), s"src${d % 20}",
        text.length.toLong))
      d += 1
    }
    df(docs, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))), "documents")
  }
}
