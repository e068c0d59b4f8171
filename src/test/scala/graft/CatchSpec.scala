package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Fatal JVM errors propagate: no main source catches `Throwable`. */
class CatchSpec extends AnyFunSuite {

  test("no src/main catch clause matches Throwable") {
    val catchAll = """case\s+\w+\s*:\s*Throwable\s*=>""".r
    val sources = Files.walk(Paths.get("src/main"))
    val hits = try sources.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if catchAll.findFirstIn(line).nonEmpty => s"$p:${i + 1}: ${line.trim}"
        }
      } finally sources.close()
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
