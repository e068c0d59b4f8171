package graft

import graft.Bench.{Gate, HostReadings, MinStealWindowJiffies, verdict}
import java.nio.file.Paths
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
}
