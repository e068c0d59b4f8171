package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import scala.jdk.CollectionConverters._

/** The alternate-seed generator's manifest is valid JSON for any seed. */
class PerturbSpec extends SparkSpec {

  test("perturb_manifest.json parses for a seed with a tab and a quote") {
    val src = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("graft-perturb")
    val seed = "s\t\"3"
    try {
      graft.tools.Perturb.generate(spark, src, out.toString, seed)
      val m = new ObjectMapper().readTree(
        Files.readString(out.resolve("perturb_manifest.json")))
      assert(m.path("generator").asText == "graft.tools.Perturb")
      assert(m.path("seed").asText == seed)
      assert(m.path("src").asText == src)
      val sizes = Files.list(Paths.get(src)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString -> Files.size(p)).toMap
      assert(m.path("src_files").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong).toMap == sizes)
    } finally {
      Files.walk(out).sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    }
  }
}
