package graft.perfbench

import java.io.File

/** Self-tests of the benchmark's own code: the generator is deterministic
  * and seed-sensitive, its expected counts and read answers match what a
  * small `Pipeline.run` writes, and the span arithmetic is right.
  * Returns the process exit code.
  */
object SelfTest {
  def run(ctx: Ctx): Int = {
    val fails = collection.mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: String): Unit = {
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) fails += what
    }
    val root = s"${ctx.work}/selftest"
    Main.deleteTree(new File(root))

    val a = Corpus.generate(CorpusSpec.tiny, 7, s"$root/a")
    val b = Corpus.generate(CorpusSpec.tiny, 7, s"$root/b")
    val c = Corpus.generate(CorpusSpec.tiny, 8, s"$root/c")
    expect(a.digest == b.digest && a.inputBytes == b.inputBytes, "same seed, byte-identical corpus")
    expect(a.digest != c.digest, "different seed, different corpus")
    expect(a.expected("songplays") > 0 && a.properties("songplays_hit_share") < 0.9,
      "songplays join hits, well below all of NextSong")

    val wh = s"$root/wh"
    val r = Etl.once(ctx, a, wh)
    val problems = Etl.check(ctx, a, wh, r)
    problems.foreach(p => println(s"[selftest]      $p"))
    expect(problems.isEmpty, s"expected counts ${a.expected.toSeq.sorted.mkString(" ")} match Pipeline.run")
    val tables = new Reads.Tables(ctx, wh)
    Seq(Reads.Read("top_songs", k = 5), Reads.Read("plays_by_time"), Reads.Read("user_activity"),
      Reads.Read("favorite_artist"), Reads.Read("month_range", from = 201802, to = 201803))
      .foreach { read =>
        val got = Reads.canonical(read, Reads.query(ctx, tables, read)._2)
        expect(got == Reads.oracle(a, read) && got.nonEmpty, s"oracle answers ${read.kind} (${got.size} rows)")
      }

    // parent [0,100) with children [10,30), [20,50) overlapping and [90,120)
    // past its end; a grandchild never counts against the grandparent
    val spans = Seq(Span(0, -1, "p", 0, 100, 0, 0), Span(1, 0, "a", 10, 30, 0, 0),
      Span(2, 0, "b", 20, 50, 0, 0), Span(3, 0, "c", 90, 120, 0, 0), Span(4, 1, "g", 12, 28, 0, 0))
    val self = Spans.selfTimes(spans)
    expect(self == Map(0 -> 50L, 1 -> 4L, 2 -> 30L, 3 -> 30L, 4 -> 16L), s"span self times $self")
    expect(Spans.subtree(spans, 1) == Set(1, 4), "span subtree")
    val own = Spans.exclusive(spans, Map(0 -> 10.0, 1 -> 6.0, 2 -> 3.0, 3 -> 0.5, 4 -> 2.0))
    expect(own == Map(0 -> 0.5, 1 -> 4.0, 2 -> 3.0, 3 -> 0.5, 4 -> 2.0), s"exclusive share of inclusive counts $own")
    expect(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5, "median")
    expect(Stats.tail((1 to 100).map(_.toDouble)) == (90.0, 90.0) &&
      Stats.tail((1 to 200).map(_.toDouble)) == (190.0, 95.0) &&
      Stats.tail((1 to 40).map(_.toDouble)) == (36.0, 90.0) &&
      Stats.tail(Seq(1.0, 2.0, 3.0, 4.0)) == (3.0, 75.0), "tail percentile")

    val tally = new Tally
    val pairs = ClosedLoop.paired(0, tally)(() => traced => Some(if (traced) 5.0 else 3.0))
    expect(pairs == Seq((3.0, 5.0), (3.0, 5.0)) && Layers.overheadS(Seq((3.0, 5.0), (4.0, 3.0), (2.0, 4.0))) == 0.002,
      "overhead pairs and their median difference")
    val failing = ClosedLoop.run(0, tally)(() => _ => { tally.count(Seq("failed")); None })
    expect(failing.isEmpty && tally.failed == ClosedLoop.giveUpAfter && tally.attempted == ClosedLoop.giveUpAfter,
      "a loop that only fails gives up and counts its failures")

    Main.deleteTree(new File(root))
    println(s"[selftest] ${if (fails.isEmpty) "all passed" else s"${fails.size} failed"}")
    if (fails.isEmpty) 0 else 1
  }
}
