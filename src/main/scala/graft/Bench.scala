package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Verify.{q => jq}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

object Bench {
  /** A profile whose START loadavg (1-min or 5-min) exceeds this is
    * CONTAMINATED by construction — r11 and r12 both committed dirty
    * round artifacts (start loadavg 8.63 in r12; `ana_funnel` 0.49→6.56 s
    * on unchanged code). The r13 guard refused outright (exit 2) and the
    * first victim was the driver's own round bench, which starts seconds
    * after the correctness sweep — round 13 produced NO profile at all.
    * Lesson: a dirty profile can be discounted via its provenance stamp;
    * a missing profile cannot. So the guard now WAITS for idle — polling
    * /proc/loadavg every 30 s for up to 10 min — then runs REGARDLESS,
    * stamping `"clean":false` if load never settled. Exit code is 0 in
    * all cases; `clean` is the machine-readable trust verdict. Since
    * round 15 BOTH the 1-min and 5-min averages gate the wait AND the
    * stamp: r14's driver profile started at 1-min 1.88 / 5-min 2.4 and
    * carried clean:true while four graph queries ran 5–8× their idle
    * times. A second defense, the history-aware retry (see
    * HistRetryFactor below), re-runs outliers vs the last clean profile
    * so one hot pass can't become the committed number.
    */
  val LoadavgMax = 2.0
  val WaitBudgetSec = 600
  val PollSec = 30
  /** Max per-pass hypervisor steal (percent of jiffies) for a
    * `clean:true` stamp. Round-15 recorded steal as provenance only and
    * its 398.5 s line carried clean:true with steal 1.94% on pass 1 —
    * vs 274.3 s on identical code in a quiet window — so steal now
    * GATES the stamp (r15 judge item 1). 0.5% is the calibration pair's
    * separator: every quiet-window pass measured ≤ 0.14%, the inflated
    * ones 1.9%+.
    */
  val StealMaxPct = 0.5
  /** Looser gate for the CPU canary's kept window: the canary is a pure
    * 32-thread spin, and pinning every vCPU at 100% induces ~0.5%
    * scheduling steal on this host even in quiet windows (measured
    * 0.51/0.52% on back-to-back runs whose pass windows read
    * 0.01–0.15%) — a systematic full-load artifact, not tenant noise.
    * The gate exists to catch bursts like r15's 1.9%, which would
    * corrupt the recorded host-speed provenance; 2% separates the two
    * regimes while min-of-3 already blunts sub-burst noise.
    */
  val CanaryStealMaxPct = 2.0
  /** Max PRE-RUN membw-canary seconds for a `clean:true` stamp — the
    * round-18 promotion of the r17 host-speed vector's one earned gate.
    * Calibration dataset (BENCH_HISTORY, 10 same-code r17 profiles +
    * r18's 4th clean profile): every quiet-window reading sits in
    * 0.666–0.692 s; mildly-contaminated (steal-dirty) profiles read
    * 0.74–1.09 s; the two contended events read 2.33 s (28% steal
    * burst) and 7.29 s — the driver's 352.6 s profile, which carried
    * clean:true under the steal gate while running +16% slower than
    * same-code quiet profiles (304/323 s) with the cpu canary flat.
    * That is memory-bandwidth contention the steal counter CANNOT see
    * (a neighbor saturating the memory controller steals no jiffies),
    * and the membw canary is the only component that tracked it. 2.0 s
    * = ~3× the quiet-band max, above every mildly-dirty reading, 3.6×
    * under the contended event — band-separated on 10 calibration
    * points, vs the normalize-the-total option which would need a
    * fitted slope that one contended point cannot give (SCALE.md
    * round-18 calibration table).
    */
  val MembwMaxSec = 2.0
  /** Max MID-RUN membw-canary reading as a RATIO of the same run's
    * pre-run reading, for a `clean:true` stamp (r20 — closes the r19
    * verdict's item 4: the r19 32-core driver profile carried
    * clean:true with a mid-run membw reading of 1.678 s against a
    * 0.864 s pre-run reading while its retry tail was demonstrably
    * contended, and the committed min-of-2 numbers for the 6 "suspect"
    * queries came from exactly that window).
    * Ratio-to-pre, not absolute: the canary's quiet reading scales
    * with the core count (min-of-3 at 8 cores reads 1.6–2.1 s where
    * 32 cores read 0.67–0.95 s), and pre/mid share JVM, cpus and host.
    * Calibration (SCALE.md round-20 table, 6 schema-v5 profiles):
    * quiet 32-core mid/pre = 0.97–0.98, the 8-core clean control 1.32;
    * contended profiles 1.74 / 1.77 / 1.94 / 2.74. 1.6 sits above the
    * quiet band's max with ~20% margin and under every contended
    * reading.
    */
  val MembwMidRatioMax = 1.6
  /** A steal window below ~5 s of aggregate jiffies (32 cpus × 100 Hz ×
    * ms) is quantization noise — a SINGLE stolen jiffy in a near-empty
    * pass-2 window would read as >1% and stamp a quiet subset run
    * dirty — so a pass window below this size never gates.
    */
  val MinStealWindowJiffies = 500L

  /** The host readings a bench line records that its `clean` verdict
    * reads: start loadavg (1-min, 5-min), the kept CPU-canary window's
    * steal, each pass's steal with its window size in aggregate jiffies,
    * and the pre-run and mid-run membw canary seconds. A reading that was
    * not taken is -1 (a subset run too small to reach the mid-run hook,
    * an unreadable /proc file) and never gates: an unmeasurable signal
    * downgrades the verdict rather than poisoning every profile.
    */
  final case class HostReadings(
      load1: Double, load5: Double,
      canaryStealPct: Double = -1,
      pass1StealPct: Double = -1, pass1Jiffies: Long = 0,
      pass2StealPct: Double = -1, pass2Jiffies: Long = 0,
      membwSec: Double = -1, membwMidSec: Double = -1)

  object HostReadings {
    /** The readings a recorded bench line carries. History lines are
      * full-registry runs, so their pass windows are taken to reach
      * [[MinStealWindowJiffies]]. `steal_pct` is [pass1, pass2] before
      * round 16 and [canary, pass1, pass2] since. */
    def of(line: JsonNode): HostReadings = {
      def num(n: JsonNode) = n.asDouble(-1)
      val steal = line.path("steal_pct")
      val Seq(canary, pass1, pass2) =
        Seq.fill(3 - steal.size)(-1.0) ++ (0 until steal.size).map(i => num(steal.get(i)))
      HostReadings(num(line.path("loadavg").path(0)), num(line.path("loadavg5").path(0)),
        canary, pass1, MinStealWindowJiffies, pass2, MinStealWindowJiffies,
        num(line.path("canary_membw_sec")), num(line.path("canary_membw_mid_sec")))
    }
  }

  /** The five `clean` gates; `field` names the JSON flag each one sets. */
  sealed abstract class Gate(val field: String)
  object Gate {
    case object Load extends Gate("contaminated")
    case object CanarySteal extends Gate("steal_high")
    case object PassSteal extends Gate("steal_high")
    case object Membw extends Gate("membw_high")
    case object MembwMid extends Gate("membw_mid_high")
  }

  /** The gates `r` fires, each with its reading against its own
    * threshold. A profile is clean when none fires. */
  def verdict(r: HostReadings): Seq[(Gate, String)] = {
    def pass(n: Int, pct: Double, jiffies: Long) =
      Option.when(jiffies >= MinStealWindowJiffies && pct > StealMaxPct)(
        Gate.PassSteal -> f"pass$n steal $pct%.2f%% > $StealMaxPct%.2f%%")
    Seq(
      Option.when(r.load1 > LoadavgMax || r.load5 > LoadavgMax)(Gate.Load ->
        f"start loadavg ${r.load1}%.2f/${r.load5}%.2f (1m/5m) > $LoadavgMax%.2f"),
      Option.when(r.canaryStealPct > CanaryStealMaxPct)(Gate.CanarySteal ->
        f"canary-cpu steal ${r.canaryStealPct}%.2f%% > $CanaryStealMaxPct%.2f%%"),
      pass(1, r.pass1StealPct, r.pass1Jiffies),
      pass(2, r.pass2StealPct, r.pass2Jiffies),
      // Memory-bandwidth contention the steal counter cannot see.
      Option.when(r.membwSec > MembwMaxSec)(Gate.Membw ->
        f"membw canary ${r.membwSec}%.2f s > $MembwMaxSec%.2f s"),
      // Contention that arrives mid-pass, after the pre-run reading.
      Option.when(r.membwSec > 0 && r.membwMidSec > MembwMidRatioMax * r.membwSec)(
        Gate.MembwMid -> (f"mid-run membw canary ${r.membwMidSec}%.2f s > " +
          f"$MembwMidRatioMax%.2f x pre-run ${r.membwSec}%.2f s"))
    ).flatten
  }

  /** (1-min, 5-min) system load from /proc/loadavg; (-1, -1) if unreadable. */
  def loadavg(): (Double, Double) =
    try {
      val f = scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")
      (f(0).toDouble, f(1).toDouble)
    } catch { case NonFatal(_) => (-1.0, -1.0) }

  /** Waits for idle BEFORE an expensive run: a profile started under
    * load is noise (r11/r12 incidents in BENCH_HISTORY.jsonl), but a
    * refused run is a lost round artifact (r13 incident). Polls BOTH
    * loadavg windows until the load gate passes or the budget runs out,
    * then returns regardless: the start readings and the seconds waited.
    * From ~2.5 an idle machine's 5-min average decays under 2.0 in
    * ~1–2 min (exponential, 300 s constant), well inside the budget.
    */
  def waitForIdle(tag: String): ((Double, Double), Int) = {
    var waited = 0
    var load = loadavg()
    while (verdict(HostReadings(load._1, load._2)).nonEmpty && waited < WaitBudgetSec) {
      System.err.println(f"$tag: loadavg ${load._1}%.2f/${load._2}%.2f (1m/5m) > " +
        f"$LoadavgMax%.2f — waiting for idle (${waited}s/${WaitBudgetSec}s)")
      Thread.sleep(PollSec * 1000L)
      waited += PollSec
      load = loadavg()
    }
    (load, waited)
  }

  private val json = new ObjectMapper()

  /** The JSON lines of `path`; a missing file or an unparseable line
    * yields nothing. */
  def readJsonLines(path: Path): Seq[JsonNode] =
    Try(Files.readAllLines(path).asScala.toSeq).getOrElse(Nil)
      .flatMap(l => Try(json.readTree(l)).toOption)

  private def queriesOf(line: JsonNode): Map[String, Double] =
    line.path("queries").properties().asScala
      .map(e => e.getKey -> e.getValue.asDouble).toMap

  /** A full-registry line at `sfDir` that times each shared derivation on
    * its own `_derive_*` line. A line at another scale factor would
    * poison the yardstick (10× times mask every real regression; 0.1×
    * times flag every healthy macro as an outlier), and lines from before
    * the r16 derivation split attribute `_derive_*` cost to whichever
    * consumer ran first, so their per-query times are not comparable.
    */
  private def comparable(line: JsonNode, sfDir: String): Boolean =
    !line.has("only") && line.path("sf").asText == sfDir &&
      queriesOf(line).keys.exists(_.startsWith("_derive_"))

  /** The history lines the retry yardstick reads: the last FIVE comparable
    * lines stamped clean that today's [[verdict]] also passes — so a rule
    * added after a line was written still keeps it out (the r14 round
    * profile, stamped clean with a hot 5-min average and 5–8× inflated
    * graph timings, is exactly such a line). Five, not one: round 15
    * measured clean-stamped profiles on identical code ranging
    * 274–398 s, so the per-query min over recent honest lines is the
    * right "is this pass contaminated" denominator.
    */
  def yardstickLines(history: Seq[JsonNode], sfDir: String): Seq[JsonNode] =
    history.reverse.filter(l => l.path("clean").asBoolean(false) &&
      comparable(l, sfDir) && verdict(HostReadings.of(l)).isEmpty).take(5)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    // (steal, total) jiffies from /proc/stat's aggregate cpu line. Steal
    // is the contention signal loadavg CANNOT see: cycles the hypervisor
    // gave to other tenants while our runnable threads waited. Round-15
    // forensics: two clean-stamped profiles on identical code measured
    // 274 s vs 343 s with a uniform ~1.25× per-query factor across
    // unrelated queries — invisible to both loadavg windows, exactly the
    // signature of cross-tenant steal. Total sums only the first 8
    // fields (user..steal): guest/guest_nice are already folded into
    // user/nice by the kernel, so including them would double-count
    // guest time and understate steal on guest-running hosts.
    def cpuTicks(): (Long, Long) =
      try {
        val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
          .trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } catch { case NonFatal(_) => (0L, 0L) }
    def stealPct(a: (Long, Long), b: (Long, Long)): Double =
      if (b._2 > a._2) 100.0 * (b._1 - a._1) / (b._2 - a._2) else -1.0
    val ((start1, start5), waited) = waitForIdle("bench")
    val spark = Sessions.local()
    // JVM/codegen warmup so the alphabetically-first query doesn't absorb
    // several seconds of one-time JIT + classloading cost. Runs on the
    // sf0.001 fixture (NOT the benched sfDir — no page-cache preloading
    // of timed data), covering the parquet reader, agg, window and
    // events-timestamp paths.
    Seq("q1_pricing", "op09_dedup_latest", "ana_favorite_type").foreach { q =>
      try SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").count()
      catch { case NonFatal(_) => () }
    }
    // Host-speed CANARIES, recorded as provenance and gating `clean`;
    // no one should divide the total by them (a pure-CPU spin doesn't
    // share the bench's sensitivity profile, so the r16 normalized value
    // ANTI-corrected):
    //  - cpu:   2048M xxhash64 folds (register-bound, zero I/O); its
    //    kept window's steal gates (CanaryStealMaxPct)
    //  - membw: 2 GiB of per-row long-array builds + reductions
    //    (allocation + stream bandwidth; sequence(id, ...) keeps it
    //    off the constant-folding path), read before the run and at the
    //    pass-1 midpoint (MembwMaxSec, MembwMidRatioMax)
    // Both are fixed-size, deterministic, and touch none of the benched
    // data (no page-cache preload). Min-of-3 each, with steal measured
    // around EACH run: a burst in a DISCARDED run is already absorbed by
    // the min (observed live — a 6.29% burst in run 1's window while the
    // kept run and both passes were quiet).
    def canaryRun(job: () => Unit): (Double, Double) = {
      val a = cpuTicks()
      val t0 = System.nanoTime()
      job()
      val sec = (System.nanoTime() - t0) / 1e9
      (sec, stealPct(a, cpuTicks()))
    }
    // Total wall spent inside canary windows, recorded as
    // canary_overhead_sec so instrument cost can be subtracted when
    // comparing totals across schema generations.
    var canaryOverheadSec = 0.0
    def minOf3(job: () => Unit): (Double, Double) = {
      val runs = Seq.fill(3)(canaryRun(job))
      canaryOverheadSec += runs.map(_._1).sum
      runs.minBy(_._1)
    }
    // bit_xor, not sum: summing 2048M xxhash64 longs overflows under
    // ANSI mode; xor folds are overflow-free and equally unprunable.
    val (canarySec, stealCan) = minOf3(() =>
      spark.range(0L, 2048L * 1000 * 1000, 1L, cpus)
        .selectExpr("bit_xor(xxhash64(id)) AS h").collect())
    val membwJob: () => Unit = () =>
      spark.range(0L, 4096L, 1L, cpus)
        .selectExpr(
          "aggregate(sequence(id, id + 65535), 0L, (a, x) -> a + x) AS s")
        .selectExpr("bit_xor(s) AS h").collect()
    val canaryMembwSec = minOf3(membwJob)._1
    // Repo root: user.dir when it looks like this sbt project (sbt runMain
    // sets it to the project root), overridable via SPARK_GRAFT_REPO,
    // /root/repo as the sandbox fallback — no hardcoded absolute path on
    // foreign checkouts.
    val repoRoot = sys.env.get("SPARK_GRAFT_REPO")
      .orElse(Option(System.getProperty("user.dir"))
        .filter(d => Files.exists(Paths.get(d, "build.sbt"))))
      .getOrElse("/root/repo")
    val fullPath = s"$repoRoot/BENCH_FULL.json"
    // Per-query reference timings, the per-query MIN over the yardstick
    // lines of BENCH_HISTORY.jsonl (fallback: BENCH_FULL.json whatever
    // its provenance) — the yardstick for the history-aware retry below.
    val histTimes: Map[String, Double] = {
      val hist = yardstickLines(
        readJsonLines(Paths.get(s"$repoRoot/BENCH_HISTORY.jsonl")), sfDir)
      val lines =
        if (hist.nonEmpty) hist
        else readJsonLines(Paths.get(fullPath)).filter(comparable(_, sfDir))
      lines.flatMap(queriesOf).groupMapReduce(_._1)(_._2)(math.min)
    }
    // (name, seconds, error) — a throwing query must NOT be recorded as a
    // normal fast timing; it gets an entry in "errors" instead.
    // Optional subset run (scale tests): SPARK_GRAFT_BENCH_ONLY is an
    // anchored regex over query names. Subset runs tag their JSON with
    // "only" and do NOT touch BENCH_FULL.json / BENCH_HISTORY.jsonl —
    // those artifacts are the full-registry profile by contract.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    // Fresh memo state per pass, and each shared derivation timed as its
    // OWN `_derive_*` line BEFORE the queries run (r15 judge item 2):
    // consumers record only their marginal work, so per-query history is
    // independent of alphabetical order inside a memo family, and a
    // regression in a shared derivation surfaces on the derivation's own
    // line instead of whichever consumer happened to run first. Each
    // pass's total still pays every derivation exactly once — the
    // materialize-once pipeline shape — it's just attributed explicitly.
    // The retry pass re-derives ONLY the derivations its retried
    // consumers actually read in pass 1 (`extraDerivs`, discovered at
    // run time via SparkEntry.drainTouchedDerivations — no hand-written
    // consumer map to drift), so a retried consumer's second sample is
    // marginal like its first WITHOUT re-paying the quarantined N²
    // baselines no retried query touches. Alongside the timings, each
    // pass returns the query → touched-derivations map it observed.
    def pass(keep: String => Boolean = _ => true,
             extraDerivs: Set[String] = Set.empty,
             midHook: Option[() => Unit] = None)
        : (Seq[(String, Double, Option[String])], Map[String, Set[String]]) = {
      SparkEntry.clearMemos()
      val derivs = SparkEntry.derivations
        .filter(kv => only.forall(kv._1.matches) &&
          (keep(kv._1) || extraDerivs(kv._1)))
      val queries = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(kv => only.forall(kv._1.matches) && keep(kv._1))
      val all = derivs ++ queries
      val midAt = all.size / 2
      val touchedBy = scala.collection.mutable.Map.empty[String, Set[String]]
      val times = all.zipWithIndex.map { case ((name, fn), idx) =>
        // Mid-run canary sample: fires BETWEEN two queries at the pass
        // midpoint, so no per-query timing absorbs it; it inflates the
        // pass-1 steal window by its ~1 s of quiet wall, which is noise
        // against a 200+ s window.
        if (idx == midAt) midHook.foreach(_())
        SparkEntry.drainTouchedDerivations()
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); None }
          catch { case NonFatal(e) =>
            Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}") }
        touchedBy(name) = SparkEntry.drainTouchedDerivations() - name
        (name, (System.nanoTime() - t0) / 1e9, err)
      }
      (times, touchedBy.toMap)
    }
    // TIERED passes (round 13): with 373+ registered queries, flat
    // min-of-2 + a 3rd micro pass costs 6-8 min clean and grows every
    // round. The variance that min-of-N exists to suppress only matters
    // where it moves the total — the MACRO tier (>= 1 s on pass 1, ~60
    // queries carrying ~85% of wall time) — so macro queries run twice
    // (min), micro queries run once. A pass-1 failure joins the retry
    // tier regardless of time, preserving the flaky-vs-error distinction:
    //  - both passes succeed       -> min time
    //  - exactly one pass succeeds -> that pass's time, flagged flaky
    //    (a throw-time is never recorded as a timing)
    //  - both fail                 -> error (second pass's message)
    val MacroThresholdSec = 1.0
    // Declared N²-verify-baseline derivations run SINGLE-pass even when
    // they clear the macro threshold: they are deterministic
    // compute-bound jobs whose combined cost would double under
    // min-of-2 for noise suppression they barely need — the same
    // quarantine logic that keeps them out of the scale gate
    // (SCALE.md "Known quadratic/serial paths"). Since round 16 the N²
    // work lives in the `_derive_*` lines (the former members — the
    // ann_knn_graph / emb_intrinsic_dim families — are marginal-cost
    // consumers now, sub-second). A pass-1 ERROR still joins the retry
    // tier regardless (flaky-vs-error distinction).
    val VerifyBaselines = Set("_derive_knn_exact", "_derive_twonn_exact")
    // Queries at/above this pass-1 time also run single-pass: they span
    // dozens of jobs, so JIT/scheduling jitter is percentage-level (the
    // thing min-of-2 suppresses is the multi-X noise on sub-second
    // single-job queries), while doubling the ~45 slowest queries costs
    // ~3 min of wall per profile. Cross-round regression detection for
    // this band rides BENCH_HISTORY.jsonl, which has one line per round.
    val MacroSinglePassAboveSec = 3.0
    // History-aware outlier defense (round 15): the single-pass tiers
    // above are blind exactly where contention hits hardest — r14's
    // driver profile recorded graph_powerlaw at 16.6 s (8× its idle
    // 2.1 s) verbatim because a >3 s pass-1 was final. Any ≥1 s query
    // whose pass-1 time exceeds HistRetryFactor× its timing in the last
    // CLEAN committed profile joins the retry tier REGARDLESS of its
    // single-pass classification (verify-baselines included — the
    // retry only fires on divergence, so their quarantine cost is
    // untouched on quiet runs); the min is recorded, and a query whose
    // FINAL time still exceeds the factor lands in "suspect" — the
    // machine-readable "treat this number with care" flag.
    val HistRetryFactor = 2.5
    def histOutlier(n: String, t: Double): Boolean =
      t >= MacroThresholdSec &&
        histTimes.get(n).exists(h => h > 0 && t > HistRetryFactor * h)
    val ticks0 = cpuTicks()
    // Mid-run membw canary: the pre-run reading certifies t=0 only;
    // contention that ARRIVES mid-window (the r17 352.6 s profile's
    // failure mode) is visible to this one min-of-3 sample at the
    // pass-1 midpoint.
    var canaryMembwMidSec = -1.0
    val (p1, touchedBy) = pass(midHook = Some(() =>
      canaryMembwMidSec = minOf3(membwJob)._1))
    val (mid1, mid5) = loadavg()
    val ticksMid = cpuTicks()
    val retry = p1.collect {
      case (n, t, e) if e.isDefined ||
        (t >= MacroThresholdSec && t < MacroSinglePassAboveSec &&
          !VerifyBaselines(n)) ||
        histOutlier(n, t) => n
    }.toSet
    val histRetries = p1.collect {
      case (n, t, e) if e.isEmpty && histOutlier(n, t) &&
        !(t < MacroSinglePassAboveSec && !VerifyBaselines(n)) => n
    }
    if (histRetries.nonEmpty)
      System.err.println(s"bench: history-aware retry for " +
        s"${histRetries.size} outlier(s) vs last clean profile: " +
        histRetries.sorted.mkString(", "))
    val retryDerivs = retry.flatMap(n => touchedBy.getOrElse(n, Set.empty))
    val p2 = pass(retry, extraDerivs = retryDerivs)._1.map(r => r._1 -> r).toMap
    val (end1, end5) = loadavg()
    val ticksEnd = cpuTicks()
    // steal over [pass1, pass2]: either pass above StealMaxPct means a
    // neighboring tenant ate a measurable slice of our cycles mid-run,
    // so the numbers carry clean:false however quiet loadavg looked.
    val steal1 = stealPct(ticks0, ticksMid)
    val steal2 = stealPct(ticksMid, ticksEnd)
    val fired = verdict(HostReadings(start1, start5, stealCan,
      steal1, ticksMid._2 - ticks0._2, steal2, ticksEnd._2 - ticksMid._2,
      canaryMembwSec, canaryMembwMidSec))
    def firedOn(field: String) = fired.exists(_._1.field == field)
    // Forensics names each gate that fired with its OWN threshold.
    if (fired.nonEmpty)
      System.err.println("bench: profile will carry clean:false — " +
        fired.map(_._2).mkString("; "))
    val results = p1.map { case (n, t1, e1) =>
      p2.get(n) match {
        case None => (n, t1, e1, false)
        case Some((_, t2, e2)) => (e1, e2) match {
          case (None, None)       => (n, math.min(t1, t2), None, false)
          case (None, Some(_))    => (n, t1, None, true)
          case (Some(_), None)    => (n, t2, None, true)
          case (Some(_), Some(e)) => (n, t1.min(t2), Some(e), false)
        }
      }
    }
    // The harness keeps only the LAST ~2000 bytes of stdout (plus sbt's
    // trailing "[success] Total time" line), and with 100+ queries one JSON
    // line is ~3000+ bytes — every past round's artifact was truncated and
    // unparseable. Counter-measures, in order of what the tail preserves:
    //  1. the FULL line orders queries ascending by time, and puts the
    //     total/sf trailer AFTER them — so even when its head is cut, the
    //     surviving suffix is the slowest (= interesting) timings + total;
    //  2. a SHORT complete line (slowest queries only, 3-decimal times,
    //     sized well under the tail budget) is printed LAST so a JSON
    //     parser scanning the tail always finds one valid record;
    //  3. the full-precision line is persisted to BENCH_FULL.json in the
    //     repo root (plus /tmp and any argv/env override).
    val asc = results.sortBy(_._2)
    val qsFull = asc.collect { case (k, v, None, _) => jq(k) + ":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e), _) => jq(k) + ":" + jq(e) }
      .mkString("{", ",", "}")
    val flaky = results.collect { case (k, _, None, true) => jq(k) }
      .mkString("[", ",", "]")
    // total INCLUDES the `_derive_*` lines (the derivation work was part
    // of every pre-r16 total too, attributed to a consumer); n_ok counts
    // only registered queries, so it stays comparable to the registry
    // size the docs pin.
    val total = results.collect { case (_, v, None, _) => v }.sum
    val nOk = results.count(r => r._3.isEmpty && !r._1.startsWith("_derive_"))
    // Queries whose FINAL (post-retry) time still exceeds the history
    // factor: either a real regression or contention that outlived two
    // passes — either way the number deserves a flag, not silence.
    val suspect = results.collect {
      case (n, t, None, _) if histOutlier(n, t) => jq(n)
    }.sorted.mkString("[", ",", "]")
    // "passes":"tiered-2" records the round-13 methodology (macro tier
    // min-of-2, micro single-pass) so totals aren't read as comparable to
    // the flat min-of-2 rounds 6-12 (flat min-of-2 is systematically
    // lower on the micro tail) or the single-pass rounds 1-5.
    // Provenance: "clean" is the machine-readable verdict (no gate of
    // [[verdict]] fired), so a reader selects the authoritative
    // profile without loadavg archaeology. loadavg = [start, mid, end]
    // 1-min values; loadavg5 the 5-min values at the same instants;
    // steal_pct = [cpu canary, pass1, pass2].
    val loads = f"""[$start1%.2f,$mid1%.2f,$end1%.2f]"""
    val loads5 = f"""[$start5%.2f,$mid5%.2f,$end5%.2f]"""
    val steals = f"""[$stealCan%.2f,$steal1%.2f,$steal2%.2f]"""
    val clean = fired.isEmpty
    val onlyTag = only.map(r => s""","only":${jq(r)}""").getOrElse("")
    // schema_version (r17 judge polish): BENCH_HISTORY spans several
    // generations of line schema; tooling should dispatch on this int
    // instead of substring-sniffing. 4 = tiered-2 passes + per-derivation
    // `_derive_*` lines (r16 split) + 3-component canary vector (r17).
    // 5 (r19) adds canary_membw_mid_sec (−1 = subset run too small to
    // reach the midpoint hook), canary_overhead_sec, and the mid window
    // as the 5th canary_steal_pct entry. 6 (r20) adds the mid-run membw
    // RATIO gate fields (membw_mid_ratio_max, membw_mid_high — the mid
    // reading now gates `clean`). 7 retires the record-only shuffle and
    // post-run membw canaries (canary_shuffle_sec, canary_membw_end_sec)
    // and canary_steal_pct, whose one gating entry repeats steal_pct[0].
    // Absent field = version <= 3.
    val line =
      s"""{"schema_version":7,"metric":"total","unit":"sec","passes":"tiered-2","macro_threshold_sec":$MacroThresholdSec,"n_macro":${retry.size},"hist_retry_factor":$HistRetryFactor,"hist_retries":${histRetries.map(jq).sorted.mkString("[", ",", "]")},"suspect":$suspect,"clean":$clean,"contaminated":${firedOn("contaminated")},"loadavg_max":$LoadavgMax,"waited_sec":$waited,"loadavg":$loads,"loadavg5":$loads5,"steal_pct":$steals,"steal_max_pct":$StealMaxPct,"steal_high":${firedOn("steal_high")},"canary_sec":${f"$canarySec%.3f"},"canary_membw_sec":${f"$canaryMembwSec%.3f"},"canary_membw_mid_sec":${f"$canaryMembwMidSec%.3f"},"canary_overhead_sec":${f"$canaryOverheadSec%.3f"},"membw_max_sec":$MembwMaxSec,"membw_high":${firedOn("membw_high")},"membw_mid_ratio_max":$MembwMidRatioMax,"membw_mid_high":${firedOn("membw_mid_high")},"flaky":$flaky,"errors":$errs,"queries":$qsFull,"n_ok":$nOk,"value":$total,"sf":"$sfDir","full":${jq(fullPath)}$onlyTag}"""
    println(line)
    // Short line: slowest-first entries until the byte budget is spent.
    val budget = 1600
    val desc = asc.reverse.collect { case (k, v, None, _) =>
      jq(k) + ":" + f"$v%.3f" }
    val header = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","passes":"tiered-2","clean":$clean,"loadavg":$loads,"n_ok":$nOk,"sf":"$sfDir","errors":$errs,"full":${jq(fullPath)},"queries_omitted":@OMIT@,"queries":{"""
    var used = header.length + 60
    val kept = desc.takeWhile { e => used += e.length + 1; used <= budget }
    // omitted counts against ALL successful timing lines (queries +
    // _derive_* derivations), not n_ok, which is queries-only
    val short = header.replace("@OMIT@",
      (results.count(_._3.isEmpty) - kept.length).toString) +
      kept.mkString(",") + "}}"
    println(short)
    // Persist the identical full-precision JSON line. Path precedence for
    // the extra copy: argv(0) > SPARK_GRAFT_BENCH_OUT > /tmp/graft-bench
    // .json. Fixed defaults on purpose (discoverable without coordination);
    // single-run assumption — concurrent benches must pass distinct paths.
    val outPath = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_BENCH_OUT"))
      .getOrElse("/tmp/graft-bench.json")
    (if (only.isDefined) Seq(outPath) else Seq(fullPath, outPath)).distinct.foreach { p =>
      try Files.write(Paths.get(p),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case NonFatal(e) =>
        System.err.println(s"bench: could not write $p: ${e.getMessage}") }
    }
    // Append-only history: consecutive committed profiles are how
    // run-to-run variance is told apart from real regressions (each line
    // carries its epoch + loadavg + the "clean" provenance bit).
    // Never truncated, one JSON per run.
    val histLine = "{\"epoch\":" + (System.currentTimeMillis() / 1000) + "," +
      line.drop(1) + "\n"
    if (only.isEmpty)
    try Files.write(
      Paths.get(s"$repoRoot/BENCH_HISTORY.jsonl"),
      histLine.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    catch { case NonFatal(e) =>
      System.err.println(s"bench: could not append history: ${e.getMessage}") }
    spark.stop()
  }
}
