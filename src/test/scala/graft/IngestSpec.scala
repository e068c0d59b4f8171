package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import graft.etl.Ingest

/** JSON ingestion — both reference mapping modes (SURVEY §2 ops 1, 2, 14, 16). */
class IngestSpec extends SparkSpec {

  private lazy val dir = Files.createTempDirectory("graft-ingest").toString

  private lazy val logPath = {
    val p = s"$dir/log.json"
    Files.writeString(java.nio.file.Paths.get(p),
      """{"artist":"A","auth":"Logged In","firstName":"Ada","gender":"F","itemInSession":0,"lastName":"L","length":233.40363,"level":"paid","location":"X","method":"PUT","page":"NextSong","registration":1541016707796,"sessionId":100,"song":"S","status":200,"ts":1541105830796,"userAgent":"UA","userId":"10"}
        |{"artist":null,"auth":"Logged Out","firstName":null,"gender":null,"itemInSession":1,"lastName":null,"length":null,"level":"free","location":null,"method":"GET","page":"Home","registration":null,"sessionId":101,"song":null,"status":307,"ts":1541105830900,"userAgent":null,"userId":""}""".stripMargin)
    p
  }

  private lazy val songPath = {
    val p = s"$dir/songs.json"
    Files.writeString(java.nio.file.Paths.get(p),
      """{"num_songs":1,"artist_id":"AR1","artist_latitude":51.5,"artist_longitude":-0.1,"artist_location":"L","artist_name":"N","song_id":"SO1","title":"T","duration":233.40363,"year":0}""")
    p
  }

  test("readLogEvents: JSONPaths-ordered rename + epoch-millis conversion") {
    val df = Ingest.readLogEvents(spark, logPath)
    assert(df.columns.toSeq == Ingest.logRenames.map(_._2))
    val rows = df.orderBy("ts").collect()
    assert(rows(0).getAs[java.sql.Timestamp]("ts").toInstant.toEpochMilli == 1541105830796L)
    assert(rows(0).getAs[java.sql.Timestamp]("registration").toInstant.toEpochMilli == 1541016707796L)
    assert(rows(0).getAs[String]("first_name") == "Ada")
    // nulls and empty user_id survive verbatim (op 16 NOT NULL is a
    // test-level assertion in the reference, not a silent drop)
    assert(rows(1).isNullAt(rows(1).fieldIndex("registration")))
    assert(rows(1).getAs[String]("user_id") == "")
  }

  test("readSongs: name-matched load (`JSON 'auto'` semantics)") {
    val df = Ingest.readSongs(spark, songPath)
    val r = df.collect()(0)
    assert(r.getAs[String]("song_id") == "SO1")
    assert(r.getAs[Double]("duration") == 233.40363)
    assert(r.getAs[Int]("year") == 0)
    assert(df.schema("artist_latitude").dataType.typeName == "double")
  }

  test("readJsonQuarantine: bad lines captured with raw text, valid rows parse") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-json-quar-test")
    java.nio.file.Files.write(dir.resolve("a.json"),
      ("""{"id": 1, "name": "alpha"}""" + "\n" +
        """{broken""" + "\n" +
        """{"id": "xyz", "name": "typo"}""" + "\n" +
        """{"id": 3}""" + "\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val out = Ingest.readJsonQuarantine(spark, dir.toString, schema).cache()
    val quarantined = out.filter(col("_corrupt_record").isNotNull)
      .collect().map(_.getAs[String]("_corrupt_record")).sorted
    assert(quarantined.toSeq == Seq("""{"id": "xyz", "name": "typo"}""", "{broken"))
    val valid = out.filter(col("_corrupt_record").isNull)
      .orderBy("id").collect()
    assert(valid.map(_.getAs[Long]("id")).toSeq == Seq(1L, 3L))
    assert(valid(1).isNullAt(valid(1).fieldIndex("name"))) // missing field ≠ corrupt
    out.unpersist()
    // declaring the reserved column yourself is refused loudly
    intercept[IllegalArgumentException] {
      Ingest.readJsonQuarantine(spark, dir.toString,
        schema.add("_corrupt_record", StringType))
    }
  }

  test("readCsv: declared schema, malformed cells become nulls (log-and-continue)") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-csv-test")
    java.nio.file.Files.write(dir.resolve("a.csv"),
      "id,name,score\n1,alpha,2.5\n2,beta,not_a_number\n3,gamma,4.0\n"
        .getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("score", DoubleType)))
    val out = Ingest.readCsv(spark, dir.toString, schema)
      .orderBy("id").collect()
    assert(out.length == 3) // malformed line survives (PERMISSIVE), not dropped
    assert(out(0).getDouble(2) == 2.5)
    assert(out(1).isNullAt(2)) // unparseable double -> null, row kept
    assert(out(2).getString(1) == "gamma")
  }

  test("text and binaryFile sources reproduce the corpus byte-for-byte") {
    import spark.implicits._
    val docs = Seq((1L, "hello world"), (2L, "zweite zeile"), (3L, "third"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-textsrc-test").toString
    val back = Ingest.textRoundTrip(docs, dir)
      .select($"value").as[String].collect().sorted.toSeq
    assert(back == Seq("hello world", "third", "zweite zeile"))
    // the same part files ingested as raw binary (the multimodal shape);
    // the write's _SUCCESS marker and a non-part file stay out, each
    // given a line that would show if it were read
    import java.nio.file.Paths
    assert(Files.exists(Paths.get(dir, "_SUCCESS")))
    Files.writeString(Paths.get(dir, "_SUCCESS"), "marker\n")
    Files.writeString(Paths.get(dir, "notes.txt"), "not a part\n")
    val bin = Ingest.binaryFileLines(spark, dir)
      .select($"text").as[String].collect().sorted.toSeq
    assert(bin == back)
  }
}
