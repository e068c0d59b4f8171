package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Schemas

/** Schema-declared ingestion (reference ops 1, 2, 14, 16 — SURVEY.md §2).
  *
  * The reference bulk-loads two S3 JSON corpora with Redshift COPY:
  *   - log events via a JSONPaths file (positional mapping + camelCase→
  *     snake_case rename, sql_queries.py:102–107, dwh.cfg:13),
  *   - songs via `JSON 'auto'` (name mapping, sql_queries.py:109–114),
  * both with `TIMEFORMAT 'epochmillisecs'` for timestamp columns.
  *
  * Spark-first mapping: `spark.read.schema(...).json(path)` name-matches
  * fields exactly like `JSON 'auto'`; the JSONPaths positional contract
  * becomes the explicit rename list below (single source of truth, in the
  * JSONPaths order). Epoch millis → `timestamp_millis`. At cluster scale
  * the JSON reader splits files across tasks natively — the COPY fan-out
  * (reference manage_cluster.py:34–36) needs no code here.
  */
object Ingest {

  /** JSONPaths-ordered (jsonField -> stagingColumn) rename list. */
  val logRenames: Seq[(String, String)] = Seq(
    "artist" -> "artist", "auth" -> "auth", "firstName" -> "first_name",
    "gender" -> "gender", "itemInSession" -> "item_in_session",
    "lastName" -> "last_name", "length" -> "length", "level" -> "level",
    "location" -> "location", "method" -> "method", "page" -> "page",
    "registration" -> "registration", "sessionId" -> "session_id",
    "song" -> "song", "status" -> "status", "ts" -> "ts",
    "userAgent" -> "user_agent", "userId" -> "user_id")

  private val epochMillisCols = Set("registration", "ts")

  /** Raw JSON log events → staging_events layout (op 1 + 14 + 16). */
  def readLogEvents(spark: SparkSession, path: String): DataFrame =
    stageLogEvents(spark.read.schema(Schemas.logEventJson).json(path))

  /** The staging transform alone, for testing and for non-JSON inputs:
    * rename camelCase→snake_case in JSONPaths order, convert epoch millis.
    */
  def stageLogEvents(raw: DataFrame): DataFrame = {
    val cols = logRenames.map { case (from, to) =>
      if (epochMillisCols.contains(from)) timestamp_millis(col(from)).as(to)
      else col(from).as(to)
    }
    raw.select(cols: _*)
  }

  /** Song metadata, name-matched like `JSON 'auto'` (op 2). */
  def readSongs(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.songJson).json(path)
      .select(Schemas.songJson.fieldNames.map(col).toSeq: _*)

  /** Schema-declared CSV source — same no-inference rule as the JSON
    * readers (SURVEY §1.1: schemas are always explicit; `inferSchema`
    * would add a full extra pass over a 100 TB input AND make types
    * data-dependent). PERMISSIVE mode with an explicit schema means a
    * malformed line yields nulls instead of killing the job — the
    * log-and-continue posture of the reference's COPY loads.
    */
  def readCsv(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType,
              header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read.format("csv")
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .schema(schema)
      .load(path)

  /** Corrupt-tolerant JSON read: PERMISSIVE mode with the rejected raw
    * line captured in `_corrupt_record` — the quarantine pattern for
    * dirty 100 TB log feeds (a FAILFAST load dies on the first bad line
    * of file 80,000; DROPMALFORMED silently changes row counts). Valid
    * rows parse as usual; a malformed line (or a line whose field
    * violates the declared type) yields nulls plus the raw text, so the
    * caller can split the frame into load + quarantine sinks and count
    * both. Note Spark refuses to SELECT only the corrupt column from a
    * raw file scan (internal-column restriction) — keep at least one
    * data column in downstream projections, as the registered query does.
    */
  def readJsonQuarantine(spark: SparkSession, path: String,
                         schema: org.apache.spark.sql.types.StructType): DataFrame = {
    require(!schema.fieldNames.contains("_corrupt_record"),
      "schema already declares _corrupt_record")
    val withCorrupt = schema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType)
    spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  /** Columnar ORC source (Spark-native reader — vectorized, predicate
    * pushdown and column pruning like parquet). ORC files are
    * self-describing, but an explicit schema is still accepted and
    * enforced (same SURVEY §1.1 no-inference posture: a reader should
    * fail loudly on drifted files, not adapt silently).
    */
  def readOrc(spark: SparkSession, path: String,
              schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read.format("orc")
    schema.fold(r)(r.schema).load(path)
  }

  /** Plain-text source: one line per record (the rawest corpus format a
    * crawl delivers). Write + read-back proves the round trip; the reader
    * splits files across tasks natively like any Spark file source.
    */
  def textRoundTrip(docs: DataFrame, path: String,
                    textCol: String = "text"): DataFrame = {
    docs.select(col(textCol)).write.mode("overwrite").text(path)
    docs.sparkSession.read.text(path)
  }

  /** Whole-file binary source (`binaryFile`) — the ingestion shape for
    * raw image/audio/document files at a 100 TB multimodal corpus: each
    * file arrives as (path, modificationTime, length, content BINARY),
    * exactly the opaque-bytes + metadata model `Multimodal` processes.
    * Here the bytes are UTF-8 text parts, decoded and re-split to lines
    * so the content (not the path layout) is what gets verified. Only
    * the directory's `part-*` files are read: a filter, not a `part-*`
    * glob path, which Spark would first probe as a literal directory.
    */
  def binaryFileLines(spark: SparkSession, path: String): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", "part-*").load(path)
      .select(explode(split(decode(col("content"), "UTF-8"), "\n")).as("text"))
      .filter(col("text") =!= "")

  /** Parquet-backed variant so the same transforms run on harness testdata. */
  def readTable(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") readEvents(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** The harness `events` table has shipped `ts` in several parquet physical
    * types across testdata generations; normalize all of them to a plain
    * (UTC-instant) TimestampType so downstream `unix_millis`/`unix_micros`
    * and the ORC/CSV round-trips see one stable type:
    *
    *  - timestamp[ns] → Spark reads as LongType nanos (with
    *    `spark.sql.legacy.parquet.nanosAsLong=true`). Truncate to micros —
    *    integer `div`, NOT `/`, because 2024-epoch nanos ≈ 1.7e18 exceed
    *    double's 53-bit mantissa — matching DuckDB's ns→us truncation so
    *    oracle hashes align.
    *  - timestamp[µs] with isAdjustedToUTC=false (pyarrow/pandas naive
    *    default) → Spark 4.x reads as TIMESTAMP_NTZ. Cast to TimestampType:
    *    the session timezone is pinned UTC, so the NTZ→instant
    *    reinterpretation is the identity — the same reading DuckDB applies
    *    to naive parquet timestamps.
    *  - timestamp[µs] UTC-adjusted → already TimestampType, pass through.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw
    }
  }
}
