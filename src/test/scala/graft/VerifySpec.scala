package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Verify's per-query sweep under injected failures. */
class VerifySpec extends SparkSpec {

  private def withTmp(body: String => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-verify")
    try body(tmp.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  private val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF("id")

  private def manifest(out: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/manifest.json")), "UTF-8")

  test("a query that throws lands in manifest.json's failed list and the sweep goes on") {
    withTmp { out =>
      val failed = Verify.sweep(spark, "unused", out, Map(
        "a_ok" -> ok,
        "b_boom" -> ((_, _) => throw new RuntimeException("injected")),
        "c_ok" -> ok))
      assert(failed == Seq("b_boom"))
      assert(manifest(out) == """{"swept": ["a_ok","b_boom","c_ok"], "failed": ["b_boom"]}""")
      assert(spark.read.parquet(s"$out/c_ok").count() == 3,
        "the query after the failing one must still be dumped")
      assert(!new java.io.File(s"$out/b_boom").exists())
    }
  }

  test("a fatal error in a query propagates out of the sweep") {
    withTmp { out =>
      val e = intercept[OutOfMemoryError] {
        Verify.sweep(spark, "unused", out, Map(
          "a_ok" -> ok,
          "b_oom" -> ((_, _) => throw new OutOfMemoryError("injected"))))
      }
      assert(e.getMessage == "injected")
      assert(manifest(out) == """{"swept": ["a_ok","b_oom"], "failed": []}""",
        "the aborted sweep's manifest must list b_oom as swept, so parity.py sees its dump missing")
      assert(!new java.io.File(s"$out/b_oom").exists())
    }
  }
}
