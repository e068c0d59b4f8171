package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.Bench.{Gate, HostReadings, MinStealWindowJiffies, verdict}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Replays BENCH_HISTORY.jsonl through Bench's `clean` verdict. History
  * lines are full-registry runs, so [[Bench.HostReadings.of]] takes their
  * pass steal windows as reaching the jiffy floor. */
class BenchSpec extends AnyFunSuite {
  private val history = Bench.readJsonLines(Paths.get("BENCH_HISTORY.jsonl"))
  private val byEpoch = history.map(l => l.path("epoch").asLong -> l).toMap
  private def gates(epoch: Long): Set[Gate] =
    verdict(HostReadings.of(byEpoch(epoch))).map(_._1).toSet

  // The lines that record every gate's readings (schema 4 to 6).
  private val canaryEra = history.filter(_.has("canary_steal_pct"))
  private val stampedDirty = canaryEra.filterNot(_.path("clean").asBoolean)
    .map(_.path("epoch").asLong)
  private val quiet =
    Set(1786884637L, 1786887114L, 1786896209L, 1786913529L, 1787125312L)

  test("replay: every canary-era line stamped clean:false stays dirty") {
    assert(canaryEra.size == 21 && stampedDirty.size == 14)
    for (e <- stampedDirty) assert(gates(e).nonEmpty, s"$e came out clean")
  }

  test("replay: the five quiet canary-era lines stay clean") {
    assert(canaryEra.map(_.path("epoch").asLong).toSet --
      stampedDirty -- Set(1786891722L, 1787124232L) == quiet)
    for (e <- quiet) assert(gates(e).isEmpty, s"$e fired ${gates(e)}")
  }

  // Each gate marks at least one history line dirty on its own.
  Seq(
    Gate.Load -> Seq(1786793729L, 1786801522L),
    Gate.CanarySteal -> Seq(1786888882L, 1787135918L),
    Gate.PassSteal -> Seq(1787138613L, 1787158157L),
    Gate.Membw -> Seq(1786891722L, 1786916118L),
    Gate.MembwMid -> Seq(1787124232L)
  ).foreach { case (gate, epochs) =>
    test(s"replay: the $gate gate alone marks ${epochs.mkString(", ")} dirty") {
      for (e <- epochs) assert(gates(e) == Set(gate), s"$e")
    }
  }

  test("a pass steal window below the jiffy floor never gates") {
    val hot = HostReadings(0.1, 0.1, pass2StealPct = 5.0,
      pass2Jiffies = MinStealWindowJiffies - 1)
    assert(verdict(hot).isEmpty)
    assert(verdict(hot.copy(pass2Jiffies = MinStealWindowJiffies))
      .map(_._1) == Seq(Gate.PassSteal))
  }

  test("-1 readings never gate") {
    assert(verdict(HostReadings(-1, -1, membwMidSec = 9.0)).isEmpty)
  }

  test("the retry yardstick reads the last five lines clean under today's verdict") {
    // Lines appended by later full runs would move the window.
    val recorded = history.filter(_.path("epoch").asLong <= 1787188763L)
    val sf = byEpoch(1787125312L).path("sf").asText
    assert(Bench.yardstickLines(recorded, sf).map(_.path("epoch").asLong) ==
      Seq(1787125312L, 1786913529L, 1786896209L, 1786887114L, 1786884637L))
  }

  // The committed artifacts parse strictly: readJsonLines skips a line it
  // cannot parse, so the replays above would not notice a broken one.
  private val mapper = new ObjectMapper()
  private def read(path: String) = Files.readString(Paths.get(path))

  test("every BENCH_HISTORY.jsonl line parses") {
    val lines = read("BENCH_HISTORY.jsonl").split("\n").filter(_.trim.nonEmpty)
    lines.foreach(l => mapper.readTree(l))
    assert(lines.length == history.size)
  }

  test("BENCH_FULL.json parses and carries clean, queries, n_ok and value") {
    val full = mapper.readTree(read("BENCH_FULL.json"))
    for (k <- Seq("clean", "queries", "n_ok", "value")) assert(full.has(k), k)
  }

  test("SCALE_GATE.json parses and its agg_ratio is the last one SCALE.md quotes") {
    val gate = mapper.readTree(read("SCALE_GATE.json"))
    val quoted = "agg ratio \\*\\*([\\d.]+)×\\*\\*".r
      .findAllMatchIn(read("SCALE.md")).map(_.group(1).toDouble).toSeq
    assert(quoted.nonEmpty, "SCALE.md quotes no 'agg ratio **N×**'")
    assert(math.abs(quoted.last - gate.path("agg_ratio").asDouble(-1)) < 0.0005,
      s"SCALE.md quotes ${quoted.last}, SCALE_GATE.json says ${gate.path("agg_ratio")}")
  }
}
