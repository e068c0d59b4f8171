package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The local SparkSession the harness mains (Bench, Verify) and the dev
  * tools (Plans, Smoke, Perturb, ScaleUp) run on, so a plan captured or
  * a fixture generated by a tool is the plan and the session the bench
  * measures.
  */
object Sessions {

  /** Executor threads and shuffle partitions: SPARK_GRAFT_CPUS, else
    * every core up to 32 (the harness environment is local[32]).
    */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  def local(logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet may store ts as timestamp[ns]; read it as long
      // nanos (Ingest.readEvents truncates to micros, matching DuckDB).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE post-shuffle coalescing floor (r19 optimization round,
      // measured): the default 1m floor coalesces small-but-compute-
      // heavy shuffles (the 2–3 MB per-key indexed-bucket exchanges
      // feeding MILLIONS of generated pair rows in theilSen / motif /
      // TF-cosine / PPJoin) down to 2–3 tasks, serializing the pair
      // expansion on a 32-core host. 256k chosen by a three-way
      // interleaved min-of-2 A/B at sf0.1 (1m / 256k / 64k):
      // ts_theil_sen 4.18/1.77/1.10 s, ts_motif 3.81/1.61/1.06,
      // dedup_tf_cosine 3.69/1.77/1.22, dedup_ngram_prefix
      // 3.11/1.51/1.35 — but 64k REGRESSES the fixed-point-loop family
      // (emb_eigengap 3.41/3.38/4.84, emb_pca_power 1.97/1.99/2.95:
      // their KB-scale per-round states fragment into extra tasks ×
      // dozens of stages), and disabling coalescing outright measured
      // 15 s graph loops. 256k keeps the pair-expansion win with the
      // loop family flat (probe-set total 44.3/35.9/37.1 s). Scale
      // posture: parallelismFirst already divides data-sized shuffles
      // by the cluster's defaultParallelism, far above this floor, so
      // at 100 TB it binds only on sub-MB loop states. Results are
      // partitioning-independent by the repo's determinism discipline.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "256k"))
      // Janino codegen class cache (r20 optimization round): the default
      // 100-entry cache (spark.sql.codegen.cache.maxEntries, static conf)
      // thrashes under a 399-query registry — by the time the macro
      // tier's min-of-2 retry pass runs, every pass-1 compilation has
      // been evicted, so each retry re-pays full Janino compilation of
      // every whole-stage unit (measured: ana_pagerank 2.7 s codegen-cold
      // vs 1.0 s codegen-warm on identical plans/jobs). 4096 entries keep
      // the registry's ~3k distinct codegen units resident (~200 MB
      // metaspace at ~50 KB/class — driver-side, scale-independent: any
      // long-lived analytics driver serving hundreds of distinct query
      // shapes wants its compiled classes cached).
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE_ENTRIES", "4096"))
      // catalog DDL queries must not depend on the driver's CWD
      .config("spark.sql.warehouse.dir", warehouseDir())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** A fresh `<java.io.tmpdir>/graft-wh*` directory, deleted at exit. */
  private[graft] def warehouseDir(): String =
    deleteAtExit(Files.createTempDirectory("graft-wh").toString)

  /** The paths [[deleteAtExit]] has registered in this process. */
  private[graft] val atExit = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val exitHook = sys.addShutdownHook(cleanAtExit())

  /** Registers `path` for deletion with its contents when the JVM exits
    * and returns it. The first registration adds one shutdown hook, which
    * runs [[cleanAtExit]]; a path registered twice is deleted once.
    */
  private[graft] def deleteAtExit(path: String): String = {
    if (atExit.add(path)) exitHook
    path
  }

  /** Deletes every registered path with its contents. */
  private[graft] def cleanAtExit(): Unit =
    atExit.forEach(p => deleteTree(Paths.get(p)))

  private[graft] def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    }
}
