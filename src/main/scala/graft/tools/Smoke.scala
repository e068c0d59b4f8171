package graft.tools

import org.apache.spark.scheduler._

/** Scratch profiling main (dev tool, not harness contract) — edit the
  * body to time whatever operator is under investigation, run with
  * `sbt "runMain graft.tools.Smoke [sfDir]"`.
  *
  * INTENTIONALLY EPHEMERAL: the body is whatever the most recent
  * investigation needed and is overwritten freely between rounds — it
  * is not dead code and carries no compatibility contract.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Sessions.local("ERROR")
    graft.expressions.GraftFunctions.register(spark)

    // r20c: component costs of the dedup pair-mining family + the new
    // top-tier lines (_derive_lpa_labels, dedup_winnow_pairs,
    // dedup_lsh_curve / dedup_minhash_est).
    object lsn extends SparkListener {
      val tasks = new java.util.concurrent.atomic.AtomicInteger
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val dur = new java.util.concurrent.atomic.AtomicLong
      val run = new java.util.concurrent.atomic.AtomicLong
      val gc = new java.util.concurrent.atomic.AtomicLong
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet(); dur.addAndGet(e.taskInfo.duration)
        val tm = e.taskMetrics
        if (tm != null) {
          run.addAndGet(tm.executorRunTime)
          gc.addAndGet(tm.jvmGCTime)
        }
        ()
      }
      def reset(): Unit = { tasks.set(0); jobs.set(0); dur.set(0); run.set(0); gc.set(0) }
    }
    spark.sparkContext.addSparkListener(lsn)

    def probe(tag: String)(job: => Long): Unit = {
      lsn.reset()
      val t0 = System.nanoTime()
      val n = job
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"[smoke] $tag%-32s wall=$wall%6.2f jobs=${lsn.jobs.get}%3d tasks=${lsn.tasks.get}%5d dur=${lsn.dur.get / 1000.0}%7.2f run=${lsn.run.get / 1000.0}%7.2f gc=${lsn.gc.get / 1000.0}%5.2f ($n)")
    }

    val all = graft.SparkEntry.queries ++ graft.SparkEntry.derivations.toMap
    def rep(name: String): Unit = {
      probe(s"$name cold") { all(name)(spark, sfDir).count() }
      probe(s"$name warm") { all(name)(spark, sfDir).count() }
    }

    import org.apache.spark.sql.functions._
    val docs = graft.etl.Ingest.readTable(spark, sfDir, "documents")

    // 1. pair-mining component costs
    probe("shingleSets distinct count") {
      graft.operators.Dedup.shingleSets(docs, 3).count()
    }
    probe("ngram pairs unfiltered") {
      val sets = graft.operators.Dedup.shingleSets(docs, 3)
      sets.as("a").join(sets.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_inter")).count()
    }
    probe("ngramJaccardPairs(0.5) cold") {
      graft.operators.Dedup.ngramJaccardPairs(docs, 3, 0.5).count()
    }
    probe("ngramJaccardPairs(0.5) warm") {
      graft.operators.Dedup.ngramJaccardPairs(docs, 3, 0.5).count()
    }
    probe("docClustersFresh") {
      graft.SparkEntry.docClustersFresh(spark, sfDir).count()
    }
    probe("docClustersFresh again") {
      graft.SparkEntry.docClustersFresh(spark, sfDir).count()
    }

    // 2. the ansi cards
    rep("dedup_lsh_curve")
    rep("dedup_minhash_est")

    // 3. the new LPA derivation + consumers (reads edge memo: derive it first)
    probe("_derive_copurchase_edges") {
      graft.SparkEntry.copurchaseEdges(spark, sfDir).count()
    }
    rep("_derive_lpa_labels")

    // 4. winnowing pairs
    rep("dedup_winnow_pairs")
    rep("graph_cc_stars")

    spark.stop()
  }
}
