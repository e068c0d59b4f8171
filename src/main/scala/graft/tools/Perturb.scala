package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Verify.{q => jq}

/** Second-seed fixture generator (tooling, not harness contract; VERDICT
  * r16 item 6): writes an alternate DRAW of an sf-dir — same schemas,
  * same table sizes, same key structure, different values — so the
  * cross-engine determinism arguments (tie-exact BIGINT cuts, integer-
  * domain quantization, split casts) get validated against a second
  * independent sample instead of only the one fixture family every
  * round has always run on. Tie bugs need a specific row value to fire;
  * a second draw is the cheapest way to roll those dice again.
  *
  * Every perturbation is a DETERMINISTIC function of the row's keys via
  * xxhash64 (no RNG state, no Date.now) and stays on the source
  * column's value grid:
  *  - lineitem: quantity re-drawn from 1..50; extendedprice scaled by a
  *    hash factor in [0.9, 1.1001) then 2-dp rounded; discount/tax
  *    re-drawn on their 1%-step grids; shipdate shifted ±30 days
  *  - orders: totalprice scaled the same way; orderdate shifted ±30 days
  *  - events: value scaled by [0.8, 1.2001) and 3-dp rounded; ts
  *    shifted ±1 h (re-draws every session/window boundary)
  *  - documents: every token gets a content-keyed suffix `y<h%7>` — a
  *    BIJECTIVE token remap, so Jaccard/containment/TF-cosine structure
  *    is preserved exactly while every hash-derived signature (minhash,
  *    simhash, shingles, vocabulary ids) sees fresh inputs; n_chars is
  *    recomputed
  *  - embeddings: each coordinate jittered by a hash value in
  *    [-0.1, 0.1001) (float grid re-cast)
  * region/nation/customer/supplier/part copy through unchanged.
  *
  * Timestamps are written as timestamp_ntz so DuckDB reads plain
  * TIMESTAMP (the oracle SQL's literal comparisons stay TZ-free) and
  * Ingest.readEvents' NTZ branch normalizes on the Spark side.
  *
  * Usage: runMain graft.tools.Perturb <srcDir> <outDir> [seed]
  * Then:  bash tools/parity_sweep.sh <outDir>
  *
  * The optional seed (any string; default "" = the r17 draw) is folded
  * into every xxhash salt, so each seed is an INDEPENDENT draw with the
  * same schemas/sizes/structure — each one re-rolls the residual
  * quotient-round tie dice (SCALE.md round-17 section) for free
  * (VERDICT r17 item 3).
  */
object Perturb {

  def main(args: Array[String]): Unit = {
    val Array(src, out) = args.take(2)
    val seed = if (args.length > 2) args(2) else ""
    val spark = graft.Sessions.local()
    generate(spark, src, out, seed)
    spark.stop()
  }

  /** hash in [0, m) keyed on (cols..., salt, seed) — the draw primitive.
    * Since r19 (ADVICE) the seed is a SEPARATE xxhash64 argument, not a
    * string concatenation: salt "t" with seed "s3" can no longer alias
    * salt "ts" with seed "3", and programmatic callers pass the seed
    * explicitly through [[generate]] instead of inheriting whatever a
    * prior main() left in a mutable field. (The separate argument
    * changes every draw relative to the r17/r18 fixtures — the parity
    * ledger re-certifies at the current code fingerprint anyway.)
    */
  private def h(m: Int, salt: String, seed: String,
                cols: org.apache.spark.sql.Column*) =
    pmod(xxhash64((cols ++ Seq(lit(salt), lit(seed))): _*), lit(m))

  def generate(spark: SparkSession, src: String, out: String,
               seed: String = ""): Unit = {
    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // Single FILE per table (like the driver fixtures): parity.py's
    // DuckDB views read `<dir>/<t>.parquet` as a file, not a directory.
    def wr(df: DataFrame, t: String): Unit = {
      import java.nio.file.{Files, Paths}
      val tmp = s"$out/_tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .find(_.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $t"))
      Files.createDirectories(Paths.get(out))
      Files.move(Paths.get(part), Paths.get(s"$out/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      println(s"[perturb] $t")
    }

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => wr(rd(t), t))

    val lk = Seq(col("l_orderkey"), col("l_linenumber"))
    wr(rd("lineitem")
      .withColumn("l_quantity",
        (lit(1) + h(50, "q", seed, lk: _*)).cast("double"))
      .withColumn("l_extendedprice",
        round(col("l_extendedprice") *
          (lit(0.9) + h(2001, "p", seed, lk: _*) / lit(1e4)), 2))
      .withColumn("l_discount", h(11, "d", seed, lk: _*) / lit(100.0))
      .withColumn("l_tax", h(9, "t", seed, lk: _*) / lit(100.0))
      .withColumn("l_shipdate",
        timestamp_add("DAY", h(61, "s", seed, lk: _*) - 30, col("l_shipdate"))
          .cast("timestamp_ntz")), "lineitem")

    wr(rd("orders")
      .withColumn("o_totalprice",
        round(col("o_totalprice") *
          (lit(0.9) + h(2001, "p", seed, col("o_orderkey")) / lit(1e4)), 2))
      .withColumn("o_orderdate",
        timestamp_add("DAY", h(61, "s", seed, col("o_orderkey")) - 30,
            col("o_orderdate"))
          .cast("timestamp_ntz")), "orders")

    wr(graft.etl.Ingest.readEvents(spark, src)
      .withColumn("value",
        round(col("value") *
          (lit(0.8) + h(4001, "v", seed, col("event_id")) / lit(1e4)), 3))
      .withColumn("ts",
        timestamp_add("SECOND", h(7201, "ts", seed, col("event_id")) - 3600,
            col("ts"))
          .cast("timestamp_ntz")), "events")

    // Empty tokens (consecutive/leading/trailing spaces) must pass
    // through unchanged: Fns.tokens drops empties, so suffixing them
    // would ADD tokens and break the preserved-Jaccard-structure
    // invariant (ADVICE r17) — latent while fixtures are single-spaced,
    // but the remap should be bijective on the token multiset by
    // construction, not by fixture luck.
    wr(rd("documents")
      .withColumn("text", when(length(col("text")) === 0, col("text"))
        .otherwise(array_join(transform(split(col("text"), " "),
          t => when(t === lit(""), t).otherwise(
            concat(t, lit("y"), pmod(xxhash64(t, lit("seed2"), lit(seed)), lit(7))))),
          " ")))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")

    wr(rd("embeddings")
      .withColumn("embedding", transform(col("embedding"), (x, i) =>
        (x + (pmod(xxhash64(col("vec_id") * 64 + i, lit("e"), lit(seed)), lit(2001))
          - lit(1000)) / lit(1e4)).cast("float"))), "embeddings")

    // Manifest stamp (r19, ADVICE): records that this dir IS a perturbed
    // draw, which seed drew it, and the source fixture's per-file sizes.
    // tools/parity_sweep.sh records the seed in PARITY_SWEEPS.jsonl, so a
    // renamed copy of a standard fixture does not pass for an alt-seed
    // sweep.
    {
      import java.nio.file.{Files, Paths}
      val srcFiles = Files.list(Paths.get(src)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).sorted
        .map(f => jq(Paths.get(f).getFileName.toString) + ":" +
          Files.size(Paths.get(f)))
        .mkString("{", ",", "}")
      val manifest =
        s"""{"generator":"graft.tools.Perturb","seed":${jq(seed)},""" +
        s""""src":${jq(src)},"src_files":$srcFiles}\n"""
      Files.write(Paths.get(s"$out/perturb_manifest.json"),
        manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[perturb] manifest (seed ${jq(seed)})")
    }
  }
}
