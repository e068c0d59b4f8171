package graft
package entries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Sampling}
import SparkEntry.{MaxOraclePlanes, T, docClusters, docToks, embCte,
  srpBucketTablesDynSql}

/** The 27 `dedup_*` queries over the documents and embeddings tables,
  * each declared once with its Spark frame beside the DuckDB oracle it
  * must equal. The determinism rules of [[SparkEntry]] apply to every
  * entry.
  */
object DedupEntry {

  /** Near-dup demo corpus for the LSH dedup query: embeddings ∪
    * deterministically perturbed copies (id + 1 000 000). Copy coordinate
    * i is v_i · (1 + ε·u) with u = samplingHash(id·64 + i)/2³¹ − 1 ∈
    * [−1, 1) — every arithmetic step is ANSI-expressible and ordered
    * identically in the oracle, so both engines build bit-identical
    * corpora; each planted pair lands at cosine ≈ 1 − O(ε²) ≥ 0.9999.
    */
  private def augmentedEmbeddings(e: DataFrame): DataFrame = {
    val base = e.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    // The id is renamed before the projection: a lambda inside transform()
    // is resolved LATE, against the projection's own output, so an
    // unrenamed col("vec_id") would silently bind to the shifted alias and
    // hash the wrong key (found the hard way — the oracle caught it).
    val perturbed = base.withColumnRenamed("vec_id", "orig_id")
      .select((col("orig_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x * (lit(1.0) + lit(0.003) *
            (Sampling.samplingHash(col("orig_id") * 64 + i) / lit(2147483648.0)
              - lit(1.0)))).as("embedding"))
    base.unionByName(perturbed)
  }

  /** Winnowing oracle: the same 3-token shingles hashed with the 131-
    * polynomial, a generate_series window explode, and the rightmost-
    * min row_number — selection-for-selection identical to the Spark
    * window.
    */
  private val winnowingCtes =
    s"""WITH base AS ($docToks),
       |toks AS (SELECT doc_id, unnest(toks) AS t,
       |        generate_subscripts(toks, 1) AS i FROM base),
       |sh AS (SELECT a.doc_id, CAST(a.i - 1 AS BIGINT) AS pos,
       |        a.t || ' ' || b.t || ' ' || c.t AS s
       |      FROM toks a JOIN toks b ON b.doc_id = a.doc_id
       |        AND b.i = a.i + 1
       |      JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
       |hs AS (SELECT doc_id, pos,
       |        list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          list_transform(string_split(s, ''),
       |            cc -> CAST(ord(cc) AS BIGINT))),
       |          (acc, x) -> (acc * 131 + x) % 2147483647) AS h FROM sh),
       |mx AS (SELECT doc_id, max(pos) AS mx, count(*) AS n_grams
       |      FROM hs GROUP BY 1),
       |wnd AS (SELECT doc_id, pos, h,
       |        unnest(generate_series(pos, least(pos + 3, mx))) AS e
       |      FROM hs JOIN mx USING (doc_id)),
       |wf AS (SELECT * FROM wnd WHERE e >= 3),
       |sel AS (SELECT DISTINCT doc_id, pos, h FROM (
       |      SELECT doc_id, pos, h, row_number() OVER (
       |        PARTITION BY doc_id, e ORDER BY h, pos DESC) AS rn
       |      FROM wf) WHERE rn = 1)""".stripMargin

  private val winnowingOracle =
    s"""$winnowingCtes,
       |fp AS (SELECT doc_id, count(*) AS n_fingerprints FROM sel
       |      GROUP BY 1)
       |SELECT mx.doc_id, n_grams,
       |  greatest(n_grams - 3, 0) AS n_windows,
       |  coalesce(n_fingerprints, 0) AS n_fingerprints,
       |  CAST(round((CAST(coalesce(n_fingerprints, 0) AS DOUBLE)
       |    / nullif(CAST(greatest(n_grams - 3, 0) AS DOUBLE), 0e0)
       |   ) * 1000000) / 1000000 AS DOUBLE) AS density
       |FROM mx LEFT JOIN fp USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Winnowing PAIR oracle: fingerprint-set self-join over the same
    * selections, df-capped at 10, shared-count ≥ 2.
    */
  private val winnowingPairsOracle =
    s"""$winnowingCtes,
       |ss AS (SELECT DISTINCT doc_id, h FROM sel),
       |dfc AS (SELECT h FROM ss GROUP BY h HAVING count(*) <= 10),
       |sf AS (SELECT ss.doc_id, ss.h FROM ss JOIN dfc USING (h))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  count(*) AS n_shared
       |FROM sf a JOIN sf b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Shared oracle fragment: per-document whitespace tokens `base`, their
    * 1-based positions `toks`, and the distinct three-token shingles
    * `sh(doc_id, shingle)` — string trigrams mirroring the Spark side's
    * 64-bit shingle hashes (identical distinct sets modulo ~N²/2⁶⁵
    * collisions). Every compact trigram oracle opens with it.
    */
  private[graft] val trigramCtes: String =
    s"""WITH base AS ($docToks),
       |toks AS (SELECT doc_id, unnest(toks) AS t, generate_subscripts(toks, 1) AS i FROM base),
       |sh AS (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS shingle
       |       FROM toks a
       |       JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
       |       JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2)""".stripMargin

  /** Per-document shingle-set size over `sh`. */
  private[graft] val trigramSizesCte: String =
    "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)"

  /** Exact all-pairs trigram Jaccard ≥ 0.5 (oracle for both the exact
    * inverted-index query and the MinHash+LSH query — see dedup_minhash_lsh).
    */
  private val ngramJaccardOracle =
    s"""$trigramCtes,
       |$trigramSizesCte,
       |inter AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS ni
       |          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |          GROUP BY 1, 2)
       |SELECT da AS doc_a, db AS doc_b,
       |       CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = da
       |JOIN sizes sb ON sb.doc_id = db
       |WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Shared oracle fragment (requires WITH RECURSIVE): exact connected
    * components over the trigram-Jaccard ≥ 0.5 near-dup graph →
    * `clusters(doc_id, cluster_id)` with cluster_id = min reachable id.
    * Used by dedup_clusters, dedup_cluster_stats, dedup_keep_best,
    * sample_split and pipeline_llm_e2e.
    */
  private[graft] val clusterLabelsCte =
    s"""pr AS (SELECT doc_a, doc_b FROM ($ngramJaccardOracle) q0),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
       |          UNION SELECT doc_b, doc_a FROM pr),
       |reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |lab AS (SELECT src AS doc_id, min(dst) AS m FROM reach GROUP BY 1),
       |clusters AS (
       |  SELECT d.doc_id, least(coalesce(l.m, d.doc_id), d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id)""".stripMargin

  /** The ANSI MinHash chain shared by dedup_lsh_curve and
    * dedup_minhash_est: trigram shingles `sh`, their 131-polynomial hash
    * `xh`, 16 affine permutations `hp`, and the signatures
    * `sig(doc_id, p, m)`.
    */
  private val minhashCtes: String =
    s"""WITH base AS ($docToks),
       |toks AS (SELECT doc_id, unnest(toks) AS t,
       |        generate_subscripts(toks, 1) AS i FROM base),
       |sh AS (SELECT DISTINCT a.doc_id,
       |        a.t || ' ' || b.t || ' ' || c.t AS shingle
       |      FROM toks a
       |      JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
       |      JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
       |xh AS (SELECT doc_id, shingle,
       |        list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          list_transform(range(length(shingle)),
       |            i -> ascii(substr(shingle, CAST(i + 1 AS INT), 1)))),
       |          (acc, c) -> (acc * 131 + c) % 2147483647) AS x
       |      FROM sh),
       |pm AS (SELECT CAST(p AS BIGINT) AS p FROM range(16) t(p)),
       |hp AS (SELECT doc_id, p,
       |        (x * ((1103515245 * (p + 1)) % 2147483647)
       |          + ((12345 * (p + 1)) % 2147483647)) % 2147483647 AS h
       |      FROM xh CROSS JOIN pm),
       |sig AS (SELECT doc_id, p, min(h) AS m FROM hp GROUP BY 1, 2)""".stripMargin

  /** Shingle-set sizes and pair intersections `inter(da, db, ni)` over
    * [[minhashCtes]]' `sh` — the exact-Jaccard half of both MinHash
    * oracles.
    */
  private val minhashInterCtes: String =
    s"""$trigramSizesCte,
       |inter AS (SELECT x2.doc_id AS da, y2.doc_id AS db,
       |        count(*) AS ni
       |      FROM sh x2 JOIN sh y2 ON x2.shingle = y2.shingle
       |        AND x2.doc_id < y2.doc_id
       |      GROUP BY 1, 2)""".stripMargin

  /** [[assignCtes]] with the seed count DERIVED from the corpus size —
    * the all-BIGINT mirror of `Dedup.semanticK` (smallest k ≥ 8 with
    * 125·k² ≥ 4·n; the float sqrt only seeds a ±3 search window, the
    * verdict is integer — the srpAutoPlanes precedent). Keeps the two
    * semantic-dedup oracles provable at ANY corpus size instead of
    * pinning the fixtures' k = 8 (n = 500 and n = 2000 both derive
    * exactly 8, so fixture results are unchanged). 125·c·c on BIGINT
    * throws loudly past n ≈ 2.3×10¹⁵ in both engines.
    */
  private def assignCtesDerivedK: String =
    s"""n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
       |kk AS (SELECT min(c) AS k FROM
       |         (SELECT greatest(8, CAST(floor(sqrt(CAST(4*n AS DOUBLE)/125))
       |            AS BIGINT) - 1) + x AS c, n
       |          FROM n, unnest([0, 1, 2, 3]) AS u(x))
       |       WHERE c >= 8 AND 125*c*c >= 4*n),
       |e AS ($embCte),
       |f AS (SELECT vec_id, CAST(generate_subscripts(v, 1) AS BIGINT) AS dim,
       |        unnest(v) AS x FROM e),
       |seeds AS (SELECT vec_id FROM e ORDER BY vec_id
       |          LIMIT (SELECT k FROM kk)),
       |c AS (SELECT f.vec_id AS cid, f.dim, f.x AS cx
       |      FROM f JOIN seeds USING (vec_id)),
       |d AS (SELECT f.vec_id, c.cid,
       |        sum(CAST(round((f.x - c.cx) * (f.x - c.cx), 6)
       |          AS DECIMAL(18,6))) AS d2
       |      FROM f JOIN c USING (dim) GROUP BY 1, 2),
       |a AS (SELECT vec_id, cid FROM
       |        (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |           ORDER BY d2, cid) AS rn FROM d)
       |      WHERE rn = 1)""".stripMargin

  /** CAPPED-mode assignment CTE chain — the all-SQL mirror of
    * `Dedup.cappedAssign` (targetClusterSize 125, 4 tables): BIGINT
    * Knuth-hash seed predicate, SRP plane count derived from the SEED
    * count (the srpAutoPlanes integer recurrence over the seed set, not
    * the corpus), buckets from the embedded seed-42 hyperplane prefix
    * (srpBucketTablesDynSql — bucket values equal `Similarity.lshBuckets`
    * at any np ≤ MaxOraclePlanes), candidates = vector×seed bucket-mates,
    * exact d2 via the fused-dot identity (per-pair accumulation order
    * identical to graft_dot — the TwoNN oracle precedent), argmin ties to
    * the lower seed id, bucket-orphans coalesce to their own singleton
    * cluster. Defines relations `e` (vec_id, v) and `a` (vec_id, cid) —
    * the same contract as [[assignCtesDerivedK]], so the dedup/sweep
    * tails are shared verbatim. Loud (DuckDB error()) past the
    * MaxOraclePlanes domain instead of silently under-bucketing.
    */
  private def cappedAssignCtes: String = {
    val seedPred = s"${Sampling.samplingHashSql("vec_id")} % 125 = 0"
    s"""e AS ($embCte),
       |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM embeddings
       |       WHERE $seedPred),
       |np AS (SELECT coalesce(
       |  (SELECT min(p) FROM range(2, ${MaxOraclePlanes + 1}) t(p)
       |   WHERE 32 * (1::BIGINT << p) >= (SELECT k FROM kk)),
       |  CAST(error('seed set needs > $MaxOraclePlanes SRP planes; extend MaxOraclePlanes') AS INT)) AS np),
       |ball AS (${srpBucketTablesDynSql(64, 4)}),
       |bs AS (SELECT * FROM ball WHERE $seedPred),
       |cand AS (SELECT q.vec_id AS id, c.vec_id AS cid
       |         FROM ball q JOIN bs c ON q.tbl = c.tbl AND q.bucket = c.bucket
       |         GROUP BY 1, 2),
       |dd AS (SELECT cand.id, cand.cid,
       |        list_dot_product(qe.v, qe.v) + list_dot_product(ce.v, ce.v)
       |          - 2.0 * list_dot_product(qe.v, ce.v) AS d2
       |      FROM cand JOIN e qe ON qe.vec_id = cand.id
       |                JOIN e ce ON ce.vec_id = cand.cid),
       |best AS (SELECT id, cid FROM
       |           (SELECT id, cid, row_number() OVER (PARTITION BY id
       |              ORDER BY d2, cid) AS rn FROM dd)
       |         WHERE rn = 1),
       |a AS (SELECT e.vec_id, coalesce(best.cid, e.vec_id) AS cid
       |      FROM e LEFT JOIN best ON best.id = e.vec_id)""".stripMargin
  }

  /** SemDeDup drop pass over an assignment chain's `e` and `a`: drop any
    * vector with a lower-id cluster-mate at cosine ≥ 0.4. Shared by the
    * derived-k and the capped oracle.
    */
  private val semanticDropTail: String =
    """v AS (SELECT e.vec_id, a.cid, e.v FROM e JOIN a USING (vec_id)),
      |dup AS (SELECT DISTINCT b.vec_id
      |        FROM v x JOIN v b ON x.cid = b.cid AND x.vec_id < b.vec_id
      |        WHERE (CASE WHEN isnan(list_cosine_similarity(x.v, b.v))
      |                 THEN NULL
      |                 ELSE list_cosine_similarity(x.v, b.v) END) >= 0.4)
      |SELECT v.vec_id, CAST(v.cid AS BIGINT) AS cluster_id,
      |  dup.vec_id IS NULL AS kept
      |FROM v LEFT JOIN dup ON dup.vec_id = v.vec_id
      |ORDER BY v.vec_id""".stripMargin

  /** Threshold-sweep counters over an assignment chain's `e` and `a`:
    * cluster-scoped pair cosines, counted once per candidate threshold.
    * Shared by the derived-k and the capped oracle.
    */
  private val sweepTail: String =
    """v AS (SELECT e.vec_id, a.cid, e.v FROM e JOIN a USING (vec_id)),
      |p AS (SELECT round(CASE WHEN isnan(list_cosine_similarity(x.v, y.v))
      |          THEN NULL
      |          ELSE list_cosine_similarity(x.v, y.v) END, 6) AS cos
      |      FROM v x JOIN v y ON x.cid = y.cid AND x.vec_id < y.vec_id),
      |t AS (SELECT CAST(unnest([0.2, 0.3, 0.4, 0.5]) AS DOUBLE)
      |        AS threshold)
      |SELECT threshold, CAST(count(p.cos) AS BIGINT) AS n_pairs
      |FROM t LEFT JOIN p ON p.cos >= t.threshold
      |GROUP BY 1 ORDER BY threshold""".stripMargin

  /** SimHash oracle: rebuild the 64-bit fingerprints from the
    * ANSI-expressible token hash (ShingleUtil.tokenHash31 + the per-bit
    * affine remixes, constants embedded below), pack them into a BIGINT
    * (bit 63 via the two's-complement weight), then exact all-pairs
    * Hamming ≤ 3 — the pigeonhole blocking on the Spark side is lossless,
    * so blocked output ≡ all-pairs output.
    */
  private val simhashOracle: String = {
    import graft.expressions.ShingleUtil
    val p = ShingleUtil.SimHashPrime
    val bits = (0 until 64).map { k =>
      val a = ShingleUtil.simhashA(k)
      val b = ShingleUtil.simhashB(k)
      val weight = if (k == 63) "(-9223372036854775807 - 1)" else (1L << k).toString
      s"(CASE WHEN 2 * len(list_filter(hl, h -> (h * $a + $b) % $p >= 1073741824)) > len(hl) THEN CAST($weight AS BIGINT) ELSE 0 END)"
    }.mkString("\n    + ")
    s"""WITH base AS ($docToks),
       |hs AS (SELECT doc_id, list_transform(toks, t ->
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(string_split(t, ''), c -> CAST(ord(c) AS BIGINT))),
       |           (acc, x) -> (acc * 131 + x) % $p)) AS hl
       |       FROM base WHERE len(toks) > 0),
       |sh AS (SELECT doc_id, $bits AS simhash FROM hs)
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
       |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** LSH embedding-dedup oracle: rebuild the augmented corpus (original ∪
    * ε-perturbed copies — same hash noise, same operation order as
    * [[augmentedEmbeddings]]) and run the exact all-pairs cosine join; the
    * LSH path must recover every pair (miss probability ≈ 3e-12 per pair,
    * see the query's comment).
    */
  private val embedLshOracle: String = {
    val idx = (1 to 64).mkString("[", ", ", "]")
    s"""WITH e0 AS ($embCte),
       |aug AS (
       |  SELECT vec_id AS id, v FROM e0
       |  UNION ALL
       |  SELECT vec_id + 1000000, list_transform($idx, i ->
       |    v[i] * (CAST(1.0 AS DOUBLE) + CAST(0.003 AS DOUBLE) *
       |      (${Sampling.samplingHashSql("(vec_id * 64 + i - 1)")}
       |        / CAST(2147483648.0 AS DOUBLE) - CAST(1.0 AS DOUBLE))))
       |  FROM e0)
       |SELECT a.id AS id_a, b.id AS id_b,
       |       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
       |FROM aug a JOIN aug b ON a.id < b.id
       |WHERE list_cosine_similarity(a.v, b.v) >= 0.95
       |ORDER BY id_a, id_b""".stripMargin
  }

  val queries: Seq[Q] = Seq(
    Q("dedup_exact", (s, dir) =>
      Dedup.exact(T(s, dir, "documents")).orderBy("keep_id"),
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies, md5(text) AS text_md5
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin),

    Q("dedup_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(T(s, dir, "documents"), 3, 0.5)
        .orderBy("doc_a", "doc_b"),
      ngramJaccardOracle),

    // Same exact semantics via PPJoin-style prefix filtering — the
    // scale path when posting-list df² makes the naive join quadratic
    // (slower at this sf, bounded at corpus scale; tested equal).
    Q("dedup_ngram_prefix", (s, dir) =>
      Dedup.ngramJaccardPairsPrefix(T(s, dir, "documents"), 3, 0.5)
        .orderBy("doc_a", "doc_b"),
      ngramJaccardOracle),

    // Oracle is the exact all-pairs Jaccard: at threshold 0.5 with 64
    // perms / 16 bands (r=4) and the corpus' bimodal similarity (near-dups
    // are ≥0.9, background <0.1), LSH recall is 1 − (1 − 0.9⁴)¹⁶ ≈ 1−4e−8.
    Q("dedup_minhash_lsh", (s, dir) =>
      Dedup.minhashDedupPairs(T(s, dir, "documents"), 3, 0.5, 64, 16)
        .orderBy("doc_a", "doc_b"),
      ngramJaccardOracle),

    // LSH banding calibration: measured candidate rate per Jaccard
    // bucket vs the 1-(1-s²)⁸ S-curve, over an ANSI-expressible MinHash
    // whose signatures the oracle rebuilds bit-for-bit.
    Q("dedup_lsh_curve", (s, dir) =>
      Dedup.lshCalibrationCurve(T(s, dir, "documents"))
        .orderBy("bucket"),
      // LSH S-curve: the ANSI MinHash (affine perms of the polynomial
      // shingle hash), bands, candidates, and exact-Jaccard buckets all
      // rebuilt; theory term by pure squaring (no pow).
      s"""$minhashCtes,
         |bk AS (SELECT doc_id, (p - p % 2) // 2 AS band,
         |        min(CASE WHEN p % 2 = 0 THEN m END) AS m0,
         |        min(CASE WHEN p % 2 = 1 THEN m END) AS m1
         |      FROM sig GROUP BY 1, 2),
         |bkey AS (SELECT doc_id, band,
         |        (m0 * 131 + m1) % 2147483647 AS bkey FROM bk),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |      FROM bkey a JOIN bkey b ON a.band = b.band
         |        AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |$minhashInterCtes,
         |scored AS (SELECT i2.da, i2.db,
         |        round((CAST(ni AS DOUBLE)
         |          / CAST(sa.n + sb.n - ni AS DOUBLE)) * 1000000) / 1000000 AS j,
         |        CASE WHEN cand.da IS NOT NULL THEN 1 ELSE 0 END AS c
         |      FROM inter i2
         |      JOIN sizes sa ON sa.doc_id = i2.da
         |      JOIN sizes sb ON sb.doc_id = i2.db
         |      LEFT JOIN cand ON cand.da = i2.da AND cand.db = i2.db),
         |bkt AS (SELECT CAST(least(floor(j * 10.0), 9.0) AS BIGINT)
         |        AS bucket, c FROM scored),
         |agg AS (SELECT bucket, count(*) AS n_pairs,
         |        CAST(sum(c) AS BIGINT) AS n_candidates
         |      FROM bkt GROUP BY 1),
         |thy AS (SELECT bucket, n_pairs, n_candidates,
         |        1.0 - ((CAST(bucket AS DOUBLE) + 0.5) / 10.0)
         |            * ((CAST(bucket AS DOUBLE) + 0.5) / 10.0) AS y
         |      FROM agg)
         |SELECT bucket,
         |  round((CAST(bucket AS DOUBLE) + 0.5) / 10.0, 2) AS s_mid,
         |  n_pairs, n_candidates,
         |  round((CAST(n_candidates AS DOUBLE) / CAST(n_pairs AS DOUBLE)) * 1000000) / 1000000
         |    AS measured_rate,
         |  round(1.0 - (y * y) * (y * y) * ((y * y) * (y * y)), 6)
         |    AS theoretical_rate
         |FROM thy ORDER BY bucket""".stripMargin),

    // MinHash estimator quality: signature-agreement ĵ vs exact Jaccard,
    // bias + RMSE per decile — "how many permutations does MY corpus
    // need", measured rather than assumed.
    Q("dedup_minhash_est", (s, dir) =>
      Dedup.minhashEstimatorCard(T(s, dir, "documents"))
        .orderBy("bucket"),
      // MinHash estimator card: same ANSI signatures, per-pair agreement
      // count over the p-aligned join, bias/RMSE per exact-j decile.
      s"""$minhashCtes,
         |$minhashInterCtes,
         |pj AS (SELECT i2.da, i2.db,
         |        round((CAST(ni AS DOUBLE)
         |          / CAST(sa.n + sb.n - ni AS DOUBLE)) * 1000000) / 1000000 AS j
         |      FROM inter i2
         |      JOIN sizes sa ON sa.doc_id = i2.da
         |      JOIN sizes sb ON sb.doc_id = i2.db),
         |ag AS (SELECT pj.da, pj.db, j,
         |        CAST(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_agree
         |      FROM pj JOIN sig a ON a.doc_id = pj.da
         |      JOIN sig b ON b.doc_id = pj.db AND b.p = a.p
         |      GROUP BY 1, 2, 3),
         |es AS (SELECT j,
         |        round((CAST(n_agree AS DOUBLE) / 16.0) * 1000000) / 1000000 AS est FROM ag),
         |bk2 AS (SELECT CAST(least(floor(j * 10.0), 9.0) AS BIGINT)
         |        AS bucket, j, est FROM es)
         |SELECT bucket, count(*) AS n_pairs,
         |  round((CAST(sum(CAST(round((est - j) * 1000000) / 1000000 AS DECIMAL(18,6)))
         |    AS DOUBLE) / count(*)) * 1000000) / 1000000 AS mean_bias,
         |  round(sqrt(CAST(sum(CAST(round(((est - j) * (est - j)) * 1000000000) / 1000000000
         |    AS DECIMAL(28,9))) AS DOUBLE) / CAST(count(*) AS DOUBLE))
         |    * 1000000) / 1000000
         |    AS rmse
         |FROM bk2 GROUP BY 1 ORDER BY bucket""".stripMargin),

    // Winnowing fingerprint profile (k=3-gram hashes, w=4 windows,
    // rightmost-min rule): the guaranteed-detection fingerprint family
    // beside MinHash — any shared >= w+k-1-token run must share a
    // fingerprint.
    Q("dedup_winnowing", (s, dir) =>
      Dedup.winnowingFingerprints(T(s, dir, "documents"), 3, 4)
        .orderBy("doc_id"),
      winnowingOracle),

    // Verbatim-reuse candidates from the winnowing fingerprints:
    // >= 2 shared selections, boilerplate hashes df-capped at 10 —
    // guaranteed to surface any >= 6-token shared run.
    Q("dedup_winnow_pairs", (s, dir) =>
      Dedup.winnowingPairs(T(s, dir, "documents"), 3, 4, 2L, 10L)
        .orderBy("doc_a", "doc_b"),
      winnowingPairsOracle),

    // Pigeonhole-blocked SimHash pairs; the ANSI-expressible token hash
    // (code-point polynomial + per-bit affine remix) lets the oracle
    // rebuild the 64-bit fingerprints and check the pair set exactly.
    Q("dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(T(s, dir, "documents"), 3)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("doc_a", "doc_b"),
      simhashOracle),

    Q("dedup_embed_cosine", (s, dir) =>
      Dedup.embeddingNearDupPairs(T(s, dir, "embeddings"), 0.4)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b"),
      // list_transform to DOUBLE first: DuckDB computes FLOAT[] cosines in
      // float32, Spark casts to array<double> — must match Spark's double math.
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin),

    // Per-source exact-dup rollup: docs vs distinct md5 payloads per
    // source + dup rate — the "stop buying this crawl" report.
    Q("dedup_source_report", (s, dir) =>
      Dedup.sourceDupReport(T(s, dir, "documents"))
        .orderBy("source"),
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_unique,
        |  round((1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*)) * 1000000) / 1000000
        |    AS dup_rate
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin),

    // SemDeDup: coarse-cluster (k lowest-id seeds) then drop any vector
    // with a lower-id cluster-mate at cosine >= 0.4 — the quadratic pair
    // term is bounded per cluster and the kept verdict is deterministic.
    // k is DERIVED from the corpus size (Dedup.semanticK: smallest
    // k >= 8 with 125k² >= 4n — exactly 8 at every committed fixture,
    // ~√(n/31.25) beyond), because round-18's second scale decade
    // measured the pinned-k=8 form at 62x for 10x data: with fixed k
    // the within-cluster pair term is n²/k by construction. The oracle
    // derives the same k in BIGINT arithmetic (assignCtesDerivedK), so
    // parity holds at any corpus size, not just the fixtures'.
    Q("dedup_semantic", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Dedup.semanticDedup(emb, Dedup.semanticK(emb.count()), 0.4)
        .orderBy("vec_id")
    },
      // SemDeDup mirror: assignment CTEs with the corpus-DERIVED seed
      // count (assignCtesDerivedK — BIGINT recurrence, k = 8 at every
      // committed fixture), then the one-pass "any lower-id cluster-mate
      // within cosine 0.4" drop rule — cluster-scoped pairs only, exactly
      // the Spark join. A zero-norm vector yields NaN from
      // list_cosine_similarity and DuckDB sorts/compares NaN as greater
      // than everything; Spark's graft_cosine returns NULL there (never a
      // duplicate) — the CASE maps NaN -> NULL so `NULL >= 0.4` filters
      // the pair identically.
      s"""WITH $assignCtesDerivedK,
         |$semanticDropTail""".stripMargin),

    // Threshold calibration for the semantic dedup: within-cluster pair
    // counts at each candidate cosine threshold, from ONE pair pass.
    // Same derived k as dedup_semantic (the calibration must sweep the
    // clustering the dedup will actually run).
    Q("dedup_threshold_sweep", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Dedup.cosineThresholdSweep(emb, Dedup.semanticK(emb.count()),
          Seq(0.2, 0.3, 0.4, 0.5))
        .orderBy("threshold")
    },
      // Threshold-sweep mirror: the same cluster-scoped pair pass as
      // dedup_semantic (derived-k assignment, 6-dp-rounded cosines,
      // NaN → NULL matches nothing), counted once per candidate threshold.
      s"""WITH $assignCtesDerivedK,
         |$sweepTail""".stripMargin),

    // The CAPPED (linear) SemDeDup mode — the last decade of the 100 TB
    // posture: k ∝ n hash-chosen seeds (constant expected cluster size
    // 125), vectors find their seed by SRP-LSH ANN (plane count derived
    // from the SEED count, so seeds-per-bucket stays ~32 at any scale),
    // then the identical drop pass. Total work is ~linear in n where the
    // derived-k mode above is ~n^1.5 (its designed IVF operating point).
    // The oracle mirrors the whole chain: BIGINT seed predicate +
    // embedded seed-42 hyperplane prefix + fused-dot d2 (cappedAssignCtes).
    Q("dedup_semantic_capped", (s, dir) =>
      Dedup.semanticDedupCapped(T(s, dir, "embeddings"), 0.4).orderBy("vec_id"),
      // Capped-mode SemDeDup mirror: cappedAssignCtes (hash seeds, SRP ANN
      // assignment with the plane count derived from the seed count,
      // bucket-orphans as singletons) + the IDENTICAL drop-pass tail as
      // dedup_semantic — the mode is entirely a clustering choice, and
      // both sides share their tails verbatim.
      s"""WITH $cappedAssignCtes,
         |$semanticDropTail""".stripMargin),

    // Threshold calibration for the capped mode — sweeps the SAME capped
    // clustering the dedup runs, one pair pass, per-threshold counters.
    Q("dedup_threshold_sweep_capped", (s, dir) =>
      Dedup.cosineThresholdSweepCapped(T(s, dir, "embeddings"),
          Seq(0.2, 0.3, 0.4, 0.5))
        .orderBy("threshold"),
      // Capped-mode threshold-sweep mirror: same capped clustering, same
      // 6-dp-rounded pair-cosine counters as dedup_threshold_sweep.
      s"""WITH $cappedAssignCtes,
         |$sweepTail""".stripMargin),

    // The SRP-LSH scale path for embedding near-dup, against the exact
    // all-pairs oracle. The synthetic embeddings are isotropic (pairwise
    // cosines ≲ 0.62 — no natural near-dups), so the query plants them:
    // corpus = embeddings ∪ deterministically perturbed copies (ε = 0.003
    // multiplicative hash noise per coordinate, cosine ≈ 1 − O(ε²) ≥
    // 0.9999), rebuilt verbatim by the oracle. At θ/π ≤ 1.5e-3 a planted
    // pair misses one 8-plane table w.p. 1 − (1 − θ/π)⁸ ≤ 0.012, so the
    // 6-table miss probability is ≤ 0.012⁶ ≈ 3e-12 per pair — the same
    // shape of recall argument as dedup_minhash_lsh above. Background
    // pairs that sneak into a bucket are removed by the exact cosine
    // verify, so false positives are impossible.
    Q("dedup_embed_lsh", (s, dir) =>
      Dedup.embeddingNearDupPairsLsh(
          augmentedEmbeddings(T(s, dir, "embeddings")), 0.95,
          dim = 64, nPlanes = 8, nTables = 6)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b"),
      embedLshOracle),

    // Decontamination: near-dup pairs that CROSS source boundaries — the
    // train/heldout leakage check. Oracle = the exact all-pairs Jaccard
    // joined back to both documents' sources.
    Q("dedup_decontaminate", (s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.crossGroupPairs(Dedup.ngramJaccardPairs(docs, 3, 0.5), docs, "source")
        .select(col("doc_a"), col("doc_b"), col("group_a"), col("group_b"),
          col("jaccard"))
        .orderBy("doc_a", "doc_b")
    },
      s"""SELECT p.doc_a, p.doc_b, da.source AS group_a, db.source AS group_b, p.jaccard
         |FROM ($ngramJaccardOracle) p
         |JOIN documents da ON p.doc_a = da.doc_id
         |JOIN documents db ON p.doc_b = db.doc_id
         |WHERE da.source <> db.source
         |ORDER BY p.doc_a, p.doc_b""".stripMargin),

    // Cluster resolution: pairwise near-dup output → per-doc cluster_id
    // (min reachable id; keep = doc_id == cluster_id). Oracle computes
    // the true transitive closure with a recursive CTE, so the
    // production path — alternating star contraction since round 15,
    // O(log² n) rounds regardless of component diameter — is checked
    // against exact connected components. The propagation formulation
    // survives as Dedup.dedupClustersPropagation, the spec-level parity
    // oracle.
    Q("dedup_clusters", (s, dir) =>
      docClusters(s, dir).orderBy("doc_id"),
      // Exact connected components via transitive closure over the same
      // pair set the Spark side derives (the all-pairs Jaccard oracle,
      // nested as a subquery); singletons keep their own id.
      s"""WITH RECURSIVE $clusterLabelsCte
         |SELECT doc_id, cluster_id FROM clusters
         |ORDER BY doc_id""".stripMargin),

    // Digest-level exact dedup: only 16-byte md5 digests shuffle, never
    // payloads — the binary-asset dedup shape (run here over text as the
    // stand-in content column).
    Q("dedup_digest", (s, dir) =>
      Dedup.exactByDigest(T(s, dir, "documents"), "text", "doc_id")
        .orderBy("digest"),
      """SELECT md5(text) AS digest, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY digest""".stripMargin),

    // Dedup observability: the cluster-size histogram (how many docs sit
    // in clusters of size s) — the report that says "dedup removed X% and
    // the worst template family has N copies". Two tiny aggregates over
    // the cluster labels.
    Q("dedup_cluster_stats", (s, dir) =>
      docClusters(s, dir)
        .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size"),
      s"""WITH RECURSIVE $clusterLabelsCte,
         |sz AS (SELECT cluster_id, count(*) AS cluster_size
         |       FROM clusters GROUP BY 1)
         |SELECT cluster_size, count(*) AS n_clusters
         |FROM sz GROUP BY 1 ORDER BY cluster_size""".stripMargin),

    // Character-level near-dup: exact-Jaccard >= 0.3 candidates verified
    // by exact Levenshtein <= 10. The candidate definition MATCHES the
    // oracle's prefilter exactly (sound for any corpus, unlike an LSH
    // candidate set whose banding misses are only probabilistically
    // rare); the LSH-candidate default of editDistancePairs is the scale
    // path, covered by DedupSpec.
    Q("dedup_edit_distance", (s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.editDistancePairs(docs, 10,
          candidatePairs = Some(Dedup.ngramJaccardPairs(docs, 3, 0.3)
            .select("doc_a", "doc_b")))
        .orderBy("doc_a", "doc_b")
    },
      // Same exact-Jaccard >= 0.3 candidate definition as the Spark side
      // (string trigrams here vs 64-bit shingle hashes there — identical
      // sets modulo ~N²/2⁶⁵ collisions), then the same Levenshtein cut;
      // both engines implement unit-cost edit distance.
      s"""$trigramCtes,
         |$trigramSizesCte,
         |inter AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS ni
         |          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |          GROUP BY 1, 2),
         |pr AS (SELECT da, db FROM inter
         |       JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |       WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.3)
         |SELECT da AS doc_a, db AS doc_b,
         |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
         |FROM pr JOIN documents a ON a.doc_id = da JOIN documents b ON b.doc_id = db
         |WHERE levenshtein(a.text, b.text) <= 10
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Bag-of-words TF cosine >= 0.95: the vector-space dedup twin —
    // integer dots and squared norms, sqrt/divide only at the edge, so
    // both engines rank identically.
    Q("dedup_tf_cosine", (s, dir) =>
      Dedup.tfCosinePairs(T(s, dir, "documents"), 0.95)
        .orderBy("doc_a", "doc_b"),
      s"""WITH base AS ($docToks),
         |t AS (SELECT doc_id, unnest(toks) AS term FROM base),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |nm AS (SELECT doc_id, sum(tf * tf) AS sq FROM tf GROUP BY 1),
         |d AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        sum(a.tf * b.tf) AS dot
         |      FROM tf a JOIN tf b
         |        ON a.term = b.term AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |c AS (SELECT doc_a, doc_b,
         |        CAST(dot AS DOUBLE) /
         |          (sqrt(CAST(na.sq AS DOUBLE)) * sqrt(CAST(nb.sq AS DOUBLE)))
         |          AS cos
         |      FROM d JOIN nm na ON na.doc_id = d.doc_a
         |             JOIN nm nb ON nb.doc_id = d.doc_b)
         |SELECT doc_a, doc_b, round(cos, 6) AS tf_cosine
         |FROM c WHERE cos >= 0.95
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Asymmetric containment (quote/subset detection): |A∩B|/|A| >= 0.6,
    // both directions — catches a short doc wholly embedded in a long one.
    Q("dedup_containment", (s, dir) =>
      Dedup.ngramContainmentPairs(T(s, dir, "documents"), 3, 0.6)
        .orderBy("doc_a", "doc_b"),
      s"""$trigramCtes,
         |$trigramSizesCte,
         |inter AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS ni
         |          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
         |          GROUP BY 1, 2)
         |SELECT da AS doc_a, db AS doc_b,
         |       CAST(ni AS DOUBLE) / sa.n AS containment
         |FROM inter JOIN sizes sa ON sa.doc_id = da
         |WHERE CAST(ni AS DOUBLE) / sa.n >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Verbatim-passage detection: pairs sharing >= 1 full 16-token window
    // (native shingle hashes ARE the window fingerprints — no window
    // strings ever materialize).
    Q("dedup_substring", (s, dir) =>
      Dedup.sharedWindowPairs(T(s, dir, "documents"), 16)
        .orderBy("doc_a", "doc_b"),
      // Distinct 16-token window STRINGS in SQL vs distinct 64-bit window
      // hashes in Spark — identical counts modulo ~N²/2⁶⁵ collisions.
      s"""WITH base AS ($docToks),
         |st AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 15)) AS s
         |       FROM base WHERE len(toks) >= 16),
         |w AS (SELECT DISTINCT doc_id,
         |        array_to_string(list_slice(toks, s, s + 15), ' ') AS win
         |      FROM st)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Cross-source trigram overlap matrix (all source pairs incl.
    // zero-overlap): the dataset-card "which sources mirror each other"
    // diagnostic — Jaccard + containment over distinct shingle sets.
    Q("dedup_source_overlap", (s, dir) =>
      Dedup.sourceOverlap(T(s, dir, "documents"), 3)
        .orderBy("source_a", "source_b"),
      // String trigrams mirror the Spark side's 64-bit shingle hashes
      // (identical distinct sets modulo ~N²/2⁶⁵ collisions — the same
      // precedent as the ngram-Jaccard oracles); ratios are single exact
      // divisions of BIGINT counts.
      """WITH base AS (SELECT doc_id, source,
        |        list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |      FROM documents),
        |t AS (SELECT doc_id, source, unnest(toks) AS tok,
        |        generate_subscripts(toks, 1) AS i FROM base),
        |sh AS (SELECT DISTINCT a.source,
        |        a.tok || ' ' || b.tok || ' ' || c.tok AS g
        |      FROM t a
        |      JOIN t b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        |      JOIN t c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
        |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
        |shared AS (SELECT x.source AS source_a, y.source AS source_b,
        |        count(*) AS shared
        |      FROM sh x JOIN sh y ON x.g = y.g AND x.source < y.source
        |      GROUP BY 1, 2),
        |sp AS (SELECT x.source AS source_a, y.source AS source_b,
        |        x.n AS n_a, y.n AS n_b
        |      FROM sizes x JOIN sizes y ON x.source < y.source)
        |SELECT sp.source_a, sp.source_b, n_a, n_b,
        |  coalesce(shared, 0) AS shared,
        |  round((CAST(coalesce(shared, 0) AS DOUBLE)
        |    / (n_a + n_b - coalesce(shared, 0))) * 1000000) / 1000000 AS jaccard,
        |  round((CAST(coalesce(shared, 0) AS DOUBLE)
        |    / least(n_a, n_b)) * 1000000) / 1000000 AS containment
        |FROM sp LEFT JOIN shared USING (source_a, source_b)
        |ORDER BY source_a, source_b""".stripMargin),

    // Survivor selection: keep the longest member of each near-dup
    // cluster (score = n_chars, exact integer — tie by doc_id).
    Q("dedup_keep_best", (s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.keepBest(docClusters(s, dir), docs.select(col("doc_id"),
          col("n_chars").cast("long").as("n_chars")), "n_chars")
        .select(col("cluster_id"), col("keep_id"), col("n_members"),
          col("best_score"))
        .orderBy("cluster_id")
    },
      s"""WITH RECURSIVE $clusterLabelsCte,
         |m AS (SELECT c.cluster_id, c.doc_id, d.n_chars,
         |        row_number() OVER (PARTITION BY c.cluster_id
         |          ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk,
         |        count(*) OVER (PARTITION BY c.cluster_id) AS n_members
         |      FROM clusters c JOIN documents d USING (doc_id))
         |SELECT cluster_id, doc_id AS keep_id,
         |  CAST(n_members AS BIGINT) AS n_members,
         |  CAST(n_chars AS BIGINT) AS best_score
         |FROM m WHERE rk = 1 ORDER BY cluster_id""".stripMargin),

    // Incremental admission: new batch (doc_id % 5 = 0) gated against the
    // standing corpus — near-dup evidence counts + verdict per batch doc.
    Q("dedup_incremental", (s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.admitIncremental(docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0), 3, 0.5)
        .orderBy("doc_id")
    },
      // Batch (doc_id % 5 = 0) vs corpus (the rest): cross-set and in-batch
      // trigram Jaccard >= 0.5 evidence counts, then the verdict CASE.
      s"""$trigramCtes,
         |$trigramSizesCte,
         |b AS (SELECT * FROM sh WHERE doc_id % 5 = 0),
         |c AS (SELECT * FROM sh WHERE doc_id % 5 <> 0),
         |xc AS (SELECT b.doc_id AS da, c.doc_id AS db, count(*) AS ni
         |       FROM b JOIN c ON b.shingle = c.shingle GROUP BY 1, 2),
         |xcp AS (SELECT da FROM xc
         |        JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |        WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5),
         |cd AS (SELECT da AS doc_id, count(*) AS n_corpus_dups FROM xcp GROUP BY 1),
         |ib AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS ni
         |       FROM b x JOIN b y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |       GROUP BY 1, 2),
         |ibp AS (SELECT da, db FROM ib
         |        JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |        WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5),
         |bd AS (SELECT d, count(*) AS n_batch_dups FROM
         |         (SELECT da AS d FROM ibp UNION ALL SELECT db FROM ibp) u
         |       GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(cd.n_corpus_dups, 0) AS n_corpus_dups,
         |  coalesce(bd.n_batch_dups, 0) AS n_batch_dups,
         |  CASE WHEN coalesce(cd.n_corpus_dups, 0) > 0 THEN 'dup_of_corpus'
         |       WHEN coalesce(bd.n_batch_dups, 0) > 0 THEN 'needs_batch_dedup'
         |       ELSE 'admitted' END AS verdict
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
         |LEFT JOIN cd ON cd.doc_id = d.doc_id
         |LEFT JOIN bd ON bd.d = d.doc_id
         |ORDER BY d.doc_id""".stripMargin)
  )
}
