package graft
package entries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import SparkEntry.{T, assignCtes, bruteAnnOracle, embCov, embCte, srpSelfCandCte,
  twoNNAnn, twoNNExact}

/** The 29 `emb_*` queries over the embeddings table, each declared once
  * with its Spark frame beside the DuckDB oracle it must equal. The
  * determinism rules of [[SparkEntry]] apply to every entry.
  */
object EmbEntry {

  /** The TwoNN rank→μ→MLE tail over the ranked neighbor distances `r`
    * (id, d2, rk): ln μ terms 9-dp DECIMAL-summed, MLE one division.
    * Shared by the exact and the ANN-fed estimate.
    */
  private val twoNNTail: String =
    """g AS (SELECT id, min(CASE WHEN rk = 1 THEN d2 END) AS d1,
       |        min(CASE WHEN rk = 2 THEN d2 END) AS dn
       |      FROM r GROUP BY 1),
       |f AS (SELECT CAST(round(0.5 * ln(dn / d1), 9) AS DECIMAL(18,9))
       |        AS t
       |      FROM g WHERE d1 > 0 AND dn IS NOT NULL)
       |SELECT CAST(count(*) AS BIGINT) AS n_points,
       |  CAST(round(sum(t), 6) AS DOUBLE) AS sum_log_mu,
       |  CAST(round((CAST(count(*) AS DOUBLE)
       |    / nullif(CAST(sum(t) AS DOUBLE), 0.0)
       |   ) * 1000000) / 1000000 AS DOUBLE) AS id_twonn
       |FROM f""".stripMargin

  /** TwoNN exact-baseline oracle (shared with the agreement row). */
  private val twoNNExactOracle: String =
    s"""WITH e AS ($embCte),
       |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
       |p AS (SELECT a.vec_id AS id, b.vec_id AS nid,
       |        a.n2 + b.n2 - 2.0 * list_dot_product(a.v, b.v) AS d2
       |      FROM n a, n b WHERE a.vec_id <> b.vec_id),
       |r AS (SELECT id, d2, row_number() OVER (PARTITION BY id
       |        ORDER BY d2, nid) AS rk
       |      FROM p QUALIFY rk <= 2),
       |$twoNNTail""".stripMargin

  /** ANN-fed TwoNN oracle: SRP self-candidates → per-pair squared-L2 via
    * the same dot identity (per-pair dots — identical accumulation order
    * to the fused graft_dot) → the IDENTICAL rank→μ→MLE tail as the
    * exact baseline.
    */
  private val twoNNAnnOracle: String =
    s"""WITH e AS ($embCte),
       |${srpSelfCandCte(8)},
       |p AS (SELECT cand.id, cand.nid,
       |        list_dot_product(qe.v, qe.v) + list_dot_product(ce.v, ce.v)
       |          - 2.0 * list_dot_product(qe.v, ce.v) AS d2
       |      FROM cand JOIN e qe ON qe.vec_id = cand.id
       |                JOIN e ce ON ce.vec_id = cand.nid),
       |r AS (SELECT id, d2, nid, row_number() OVER (PARTITION BY id
       |        ORDER BY d2, nid) AS rk
       |      FROM p QUALIFY rk <= 2),
       |$twoNNTail""".stripMargin

  /** The covariance sums over `e` (vec_id, v): flattened coordinates
    * `x` (vec_id, i, xi), per-dim 9-dp DECIMAL sums `m` (i, sx), and the
    * per-pair sums `p` (i, j, sp, n) of products 9-dp-quantized as
    * scaled int64s. The names are parameters: emb_covariance and
    * emb_effective_rank read x/m/p, the covariance block reads xx/mm/pp.
    */
  private def covSumCtes(x: String, m: String, p: String): String =
    s"""$x AS (SELECT vec_id, unnest(v) AS xi,
       |        generate_subscripts(v, 1) - 1 AS i FROM e),
       |$m AS (SELECT i, sum(CAST(round(xi, 9) AS DECIMAL(28,9))) AS sx
       |      FROM $x GROUP BY 1),
       |$p AS (SELECT a.i AS i, b.i AS j,
       |        sum(CAST(round(a.xi * b.xi * 1e9, 0) AS BIGINT)) AS sp,
       |        count(*) AS n
       |      FROM $x a JOIN $x b ON a.vec_id = b.vec_id GROUP BY 1, 2)""".stripMargin

  /** The 6-dp covariance cells (i, j, cov) from the sums `m` and `p`. */
  private def covSelect(m: String, p: String): String =
    s"""SELECT CAST($p.i AS BIGINT) AS i, CAST($p.j AS BIGINT) AS j,
       |  round((CAST(sp AS DOUBLE) / 1e9 / n
       |    - (CAST(mi.sx AS DOUBLE) / n) * (CAST(mj.sx AS DOUBLE) / n)) * 1000000) / 1000000
       |    + 0.0
       |    AS cov
       |FROM $p JOIN $m mi ON mi.i = $p.i JOIN $m mj ON mj.i = $p.j""".stripMargin

  /** The covariance CTE block every spectral oracle starts from: `e`,
    * the xx/mm/pp sums and `cov` (i, j, cov), emb_covariance's matrix.
    */
  private val covCtes: String =
    s"""e AS ($embCte),
       |${covSumCtes("xx", "mm", "pp")},
       |cov AS (${covSelect("mm", "pp")})""".stripMargin

  /** The leading-eigenvector chain emb_pca_power and emb_abtt share,
    * through its `sgn` CTE: [[covCtes]], the uniform start `x0`, then 3
    * unrolled rounds, each a j-keyed matrix-vector product `y` with 9-dp
    * DECIMAL sums, its norm `n` and the 9-dp normalized vector `x` (the
    * trajectory the Scala loop walks), then the largest-|x| sign flip.
    */
  private val powerCtes: String = {
    // q9/q6 forms in lockstep with Similarity.powerLoop (r18 seed-3
    // fired the plain-round form: grid-product/quotient/sqrt rounds).
    val iterCtes = (1 to 3).map { k =>
      val prev = if (k == 1) "x0" else s"x${k - 1}"
      s"""y$k AS (SELECT c.i,
         |  CAST(sum(CAST(round(c.cov * p.x * 1e9) / 1e9 AS DECIMAL(28,9))) AS DOUBLE) AS y
         |  FROM cov c JOIN $prev p ON p.i = c.j GROUP BY 1),
         |n$k AS (SELECT sqrt(CAST(sum(CAST(round(y * y * 1e9) / 1e9 AS DECIMAL(28,9)))
         |  AS DOUBLE)) AS nrm FROM y$k),
         |x$k AS (SELECT i, round(y / nrm * 1e9) / 1e9 AS x FROM y$k CROSS JOIN n$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $covCtes,
       |d AS (SELECT count(DISTINCT i) AS d FROM cov),
       |x0 AS (SELECT DISTINCT i, 1.0 / sqrt(d) AS x FROM cov CROSS JOIN d),
       |$iterCtes,
       |sgn AS (SELECT CASE WHEN x > 0 THEN 1.0 WHEN x < 0 THEN -1.0
       |               ELSE 0.0 END AS sgn
       |        FROM x3 ORDER BY abs(x) DESC, i LIMIT 1)""".stripMargin
  }

  /** The PQ code chain emb_pq and emb_pq_distortion share, through its
    * `r` CTE: per-subspace argmin-L2 against the 4 lowest-id vectors'
    * subvectors — same 6-dp DECIMAL distance quantization and lower-cid
    * tie rule as every assignment in the library; `rn = 1` rows of `r`
    * (vec_id, sub, cid, d2) are the codes.
    */
  private val pqCtes: String =
    s"""WITH e AS ($embCte),
       |f AS (SELECT vec_id, CAST(generate_subscripts(v, 1) AS BIGINT) AS dim,
       |        unnest(v) AS x FROM e),
       |ff AS (SELECT vec_id, dim,
       |        CAST(floor((dim - 1) / 16) AS BIGINT) AS sub, x FROM f),
       |seeds AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT 4),
       |cent AS (SELECT ff.vec_id AS cid, ff.dim, ff.x AS c
       |      FROM ff JOIN seeds USING (vec_id)),
       |d AS (SELECT ff.vec_id, ff.sub, cent.cid,
       |        sum(CAST(round((ff.x - cent.c) * (ff.x - cent.c), 6)
       |          AS DECIMAL(18,6))) AS d2
       |      FROM ff JOIN cent USING (dim) GROUP BY 1, 2, 3),
       |r AS (SELECT vec_id, sub, cid, d2,
       |        row_number() OVER (PARTITION BY vec_id, sub
       |          ORDER BY d2, cid) AS rn
       |      FROM d)""".stripMargin

  /** `e` and the per-vector int8 scale `s` (vec_id, v, scale = max |x|):
    * the emb_quantize formula emb_project and emb_jl_distortion reuse.
    */
  private val int8ScaleCtes: String =
    s"""WITH e AS ($embCte),
       |s AS (SELECT vec_id, v,
       |        list_aggregate(list_transform(v, x -> abs(x)), 'max') AS scale
       |      FROM e)""".stripMargin

  /** SELECT-list fragment over `q` (vec_id, i, qi): the 8 exact integer
    * dots `proj_j` of the int8 codes against the ±1 sign rows of
    * `Similarity.projectionSigns(64, 8)`, embedded as literals.
    */
  private val projSums: String = {
    val signs = Similarity.projectionSigns(64, 8)
    (0 until 8).map { j =>
      s"CAST(sum(qi * ([${signs(j).mkString(",")}])[i]) AS BIGINT) AS proj_$j"
    }.mkString(",\n  ")
  }

  val queries: Seq[Q] = Seq(

    // ---- Per-vector codes, projections and retrieval quality ----

    // Symmetric int8 quantization, exploded to (vec_id, i, q) rows so the
    // harness's scalar hash-compare covers every code.
    Q("emb_quantize", (s, dir) =>
      Similarity.quantizeInt8(T(s, dir, "embeddings"))
        .select(col("vec_id"), round(col("scale"), 6).as("scale"), posexplode(col("q")))
        .select(col("vec_id"), col("scale"), col("pos").cast("long").as("i"),
          col("col").cast("long").as("q"))
        .orderBy("vec_id", "i"),
      s"""$int8ScaleCtes
         |SELECT vec_id, round(scale, 6) AS scale, CAST(i - 1 AS BIGINT) AS i,
         |  CAST(floor(v[i] * CAST(127.0 AS DOUBLE) / scale + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q
         |FROM s CROSS JOIN range(1, 65) t(i)
         |WHERE scale > 0
         |ORDER BY vec_id, i""".stripMargin),

    // Unit-norm pre-pass (native graft_l2norm), exploded per element.
    // Per-row IEEE arithmetic (square-sum fold, sqrt, divide) is exact on
    // both engines; rounded to 6 dp to match house style for vector math.
    Q("emb_normalize", (s, dir) =>
      Similarity.normalizeL2(T(s, dir, "embeddings"))
        .select(col("vec_id"), posexplode(col("unit")))
        .select(col("vec_id"), col("pos").cast("long").as("i"),
          round(col("col"), 6).as("x"))
        .orderBy("vec_id", "i"),
      // Per-row IEEE math end-to-end (square-sum fold ≡ list_dot_product,
      // correctly-rounded sqrt, exact divide); 6-dp rounding is house style.
      s"""WITH e AS ($embCte),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
         |SELECT vec_id, CAST(i - 1 AS BIGINT) AS i, round((v[i] / nrm) * 1000000) / 1000000 AS x
         |FROM n CROSS JOIN range(1, 65) t(i)
         |WHERE nrm > 0
         |ORDER BY vec_id, i""".stripMargin),

    // Per-dimension z-score standardization of the embedding corpus
    // (flattened rows; DECIMAL two-pass moments per dim).
    Q("emb_standardize", (s, dir) =>
      Similarity.standardize(T(s, dir, "embeddings"))
        .orderBy("vec_id", "dim"),
      // Per-dim DECIMAL two-pass moments, same recipe as ana_outliers.
      s"""WITH e AS ($embCte),
         |f AS (SELECT vec_id, CAST(generate_subscripts(v, 1) AS BIGINT) AS dim,
         |        unnest(v) AS x FROM e),
         |m AS (SELECT dim, count(*) AS n,
         |        CAST(sum(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE)
         |          / count(*) AS mean
         |      FROM f GROUP BY 1),
         |s AS (SELECT f.dim, any_value(m.mean) AS mean, any_value(m.n) AS n,
         |        sum(CAST(round((f.x - m.mean) * (f.x - m.mean), 6)
         |          AS DECIMAL(18,6))) AS ss
         |      FROM f JOIN m USING (dim) GROUP BY 1),
         |st AS (SELECT dim, mean, sqrt(CAST(ss AS DOUBLE) / (n - 1)) AS sd
         |       FROM s)
         |SELECT f.vec_id, f.dim, round(((f.x - st.mean) / st.sd) * 1000000) / 1000000 AS z
         |FROM f JOIN st USING (dim) ORDER BY vec_id, dim""".stripMargin),

    // Random-signs projection on int8 codes: exact integer dots, 8 longs
    // per vector — the JL-style distance sketch. NULL-quantized rows
    // (zero/empty vectors) are dropped on both sides.
    Q("emb_project", (s, dir) =>
      Similarity.signedProjection(T(s, dir, "embeddings"), dim = 64, outDims = 8)
        .na.drop(Seq("proj_0"))
        .orderBy("vec_id"),
      // int8 quantization (the emb_quantize formula) then exact integer
      // dots against the ±1 sign rows embedded as literals.
      s"""$int8ScaleCtes,
         |q AS (SELECT vec_id, i,
         |        CAST(floor(v[i] * CAST(127.0 AS DOUBLE) / scale + CAST(0.5 AS DOUBLE)) AS BIGINT) AS qi
         |      FROM s CROSS JOIN range(1, 65) t(i) WHERE scale > 0)
         |SELECT vec_id,
         |  $projSums
         |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    // JL distortion audit of the ±1 signed projection: projected vs
    // original squared distance (÷ outDims) over the id-adjacent pair
    // chain — all-integer distances, mean ≈ 1 is the JL promise.
    Q("emb_jl_distortion", (s, dir) =>
      Similarity.jlDistortion(T(s, dir, "embeddings"), dim = 64, outDims = 8),
      // JL audit: the emb_project quantize+sign chain, integer distances
      // on both sides of the ratio (projected sum of 8 squared diffs;
      // original via per-i diffs — equals the dot identity exactly, all
      // < 2^53), 9-dp DECIMAL mean.
      {
        val dpExpr = (0 until 8)
          .map(j => s"(a.proj_$j - b.proj_$j) * (a.proj_$j - b.proj_$j)")
          .mkString("\n      + ")
        s"""$int8ScaleCtes,
           |q AS (SELECT vec_id, i,
           |        CAST(floor(v[i] * CAST(127.0 AS DOUBLE) / scale
           |          + CAST(0.5 AS DOUBLE)) AS BIGINT) AS qi
           |      FROM s CROSS JOIN range(1, 65) t(i) WHERE scale > 0),
           |pj AS (SELECT vec_id,
           |  $projSums
           |  FROM q GROUP BY vec_id),
           |dq AS (SELECT a.vec_id AS ida,
           |        CAST(sum((a.qi - b.qi) * (a.qi - b.qi)) AS BIGINT) AS dq
           |      FROM q a JOIN q b ON b.vec_id = a.vec_id + 1 AND b.i = a.i
           |      GROUP BY 1),
           |dp AS (SELECT a.vec_id AS ida,
           |      $dpExpr AS dp
           |      FROM pj a JOIN pj b ON b.vec_id = a.vec_id + 1),
           |r AS (SELECT CAST(dp.dp AS DOUBLE)
           |        / (8.0 * CAST(dq.dq AS DOUBLE)) AS ratio
           |      FROM dq JOIN dp ON dp.ida = dq.ida WHERE dq.dq > 0)
           |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(round((CAST(sum(CAST(round(ratio, 9) AS DECIMAL(18,9)))
           |      AS DOUBLE) / CAST(count(*) AS DOUBLE)
           |   ) * 1000000) / 1000000 AS DOUBLE) AS mean_ratio,
           |  CAST(round((min(ratio)) * 1000000) / 1000000 AS DOUBLE)
           |    AS min_ratio,
           |  CAST(round((max(ratio)) * 1000000) / 1000000 AS DOUBLE)
           |    AS max_ratio
           |FROM r""".stripMargin
      }),

    // 1-bit (sign) binary quantization retrieval quality: Hamming top-10
    // vs the exact cosine ranking — the 64×-compression recall question.
    // Codes split into two 32-bit halves (bit 63 via single-long shifts
    // overflows DuckDB's checked `<<`).
    Q("emb_binary_recall",
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        val codes = Similarity.binaryCodes(emb)
        val q = codes.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("lo").as("qlo"),
            col("hi").as("qhi"))
        val scored = codes
          .select(col("vec_id").as("neighbor_id"), col("lo").as("clo"),
            col("hi").as("chi"))
          .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            (expr("bit_count(qlo ^ clo)") + expr("bit_count(qhi ^ chi)"))
              .as("ham"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("ham").asc, col("neighbor_id").asc)
        val approx = scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
        Similarity.recallAtK(approx,
          Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), 10))
      },
      // Binary-quantization recall: the same two-half sign codes, Hamming
      // rank, recall vs the exact cosine pairs.
      s"""WITH e AS ($embCte),
         |fl AS (SELECT vec_id, unnest(v) AS x,
         |        generate_subscripts(v, 1) - 1 AS i FROM e),
         |codes AS (SELECT vec_id,
         |        bit_or(CASE WHEN x > 0 AND i < 32
         |          THEN CAST(1 AS BIGINT) << CAST(i AS INTEGER)
         |          ELSE CAST(0 AS BIGINT) END) AS lo,
         |        bit_or(CASE WHEN x > 0 AND i >= 32
         |          THEN CAST(1 AS BIGINT) << CAST(i - 32 AS INTEGER)
         |          ELSE CAST(0 AS BIGINT) END) AS hi
         |      FROM fl GROUP BY 1),
         |q AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi
         |      FROM codes WHERE vec_id < 8),
         |appx AS (SELECT query_id, neighbor_id FROM (
         |      SELECT query_id, c.vec_id AS neighbor_id,
         |        bit_count(xor(qlo, c.lo)) + bit_count(xor(qhi, c.hi))
         |          AS ham
         |      FROM q, codes c WHERE c.vec_id <> query_id)
         |      QUALIFY row_number() OVER (PARTITION BY query_id
         |        ORDER BY ham, neighbor_id) <= 10),
         |b AS (SELECT query_id, neighbor_id FROM ($bruteAnnOracle)),
         |m AS (SELECT b.query_id, count(appx.neighbor_id) AS hits,
         |        count(*) AS k
         |      FROM b LEFT JOIN appx ON appx.query_id = b.query_id
         |        AND appx.neighbor_id = b.neighbor_id
         |      GROUP BY 1)
         |SELECT count(*) AS n_queries,
         |  round((CAST(sum(CAST(round((CAST(hits AS DOUBLE) / k) * 1000000)
         |    / 1000000 AS DECIMAL(18,6))) AS DOUBLE) / count(*)) * 1000000)
         |    / 1000000 AS mean_recall
         |FROM m""".stripMargin),

    // Matryoshka truncation quality: recall@10 of prefix-dim cosine
    // retrieval against the full-dim exact ranking (MRL deployment
    // question: how many dims can the index drop?).
    Q("emb_matryoshka",
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 8)
        val exact = Similarity.bruteForceTopK(emb, q, 10)
        def trunc(df: org.apache.spark.sql.DataFrame, p: Int) =
          df.select(col("vec_id"),
            slice(col("embedding"), 1, p).as("embedding"))
        Seq(32, 16, 8).map { p =>
          Similarity.recallAtK(
              Similarity.bruteForceTopK(trunc(emb, p), trunc(q, p), 10),
              exact)
            .select(lit(p.toLong).as("prefix_dim"), col("n_queries"),
              col("mean_recall"))
        }.reduce(_ unionByName _).orderBy("prefix_dim")
      },
      // Matryoshka: the brute oracle re-ranked on list prefixes, each
      // prefix's pairs recall-scored against the full-dim exact pairs.
      {
        def one(p: Int) =
          s"""SELECT CAST($p AS BIGINT) AS prefix_dim,
             |  CAST(count(*) AS BIGINT) AS n_queries,
             |  round((CAST(sum(CAST(round((CAST(hits AS DOUBLE) / k) * 1000000)
             |    / 1000000 AS DECIMAL(18,6))) AS DOUBLE) / count(*)) * 1000000)
             |    / 1000000 AS mean_recall
             |FROM (SELECT b.query_id, count(t.neighbor_id) AS hits,
             |        count(*) AS k
             |      FROM b LEFT JOIN (
             |        SELECT query_id, neighbor_id FROM (
             |          SELECT query_id, c.vec_id AS neighbor_id,
             |            list_cosine_similarity(qe[1:$p], c.v[1:$p]) AS cos
             |          FROM q, e c WHERE c.vec_id <> query_id)
             |        QUALIFY row_number() OVER (PARTITION BY query_id
             |          ORDER BY cos DESC, neighbor_id) <= 10) t
             |        ON t.query_id = b.query_id
             |          AND t.neighbor_id = b.neighbor_id
             |      GROUP BY 1)""".stripMargin
        s"""WITH e AS (SELECT vec_id,
           |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |      FROM embeddings),
           |q AS (SELECT vec_id AS query_id, v AS qe FROM e
           |      WHERE vec_id < 8),
           |b AS (SELECT query_id, neighbor_id FROM (
           |      SELECT query_id, c.vec_id AS neighbor_id,
           |        list_cosine_similarity(qe, c.v) AS cos
           |      FROM q, e c WHERE c.vec_id <> query_id)
           |      QUALIFY row_number() OVER (PARTITION BY query_id
           |        ORDER BY cos DESC, neighbor_id) <= 10)
           |SELECT * FROM (${Seq(32, 16, 8).map(one).mkString(
              "\nUNION ALL\n")})
           |ORDER BY prefix_dim""".stripMargin
      }),

    // Product-quantization codes (IVF-PQ's compression leg): 64 dims ->
    // 4 subspaces of 16, each assigned to its nearest of 4 deterministic
    // sub-centroids; a vector serves ANN from 4 small ints.
    Q("emb_pq", (s, dir) =>
      Similarity.productQuantize(T(s, dir, "embeddings"), 16, 4)
        .orderBy("vec_id", "subspace"),
      s"""$pqCtes
         |SELECT vec_id, sub AS subspace, cid AS code,
         |  round(CAST(d2 AS DOUBLE), 6) AS distortion
         |FROM r WHERE rn = 1 ORDER BY vec_id, subspace""".stripMargin),

    // PQ codebook-quality card: per subspace, codes used + mean/max
    // assignment distortion over the emb_pq code table.
    Q("emb_pq_distortion", (s, dir) =>
      Similarity.pqDistortion(
        Similarity.productQuantize(T(s, dir, "embeddings"), 16, 4))
        .orderBy("subspace"),
      // The emb_pq chain with a per-subspace codebook-quality aggregate on
      // top — distortions 6-dp-quantized before the DECIMAL mean.
      s"""$pqCtes,
         |pq AS (SELECT vec_id, sub, cid,
         |        round(CAST(d2 AS DOUBLE), 6) AS distortion
         |      FROM r WHERE rn = 1)
         |SELECT sub AS subspace, count(*) AS n,
         |  count(DISTINCT cid) AS codes_used,
         |  round((CAST(sum(CAST(distortion AS DECIMAL(28,6))) AS DOUBLE)
         |    / count(*)) * 1000000) / 1000000 AS mean_distortion,
         |  max(distortion) AS max_distortion
         |FROM pq GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- Clustering ----

    // One Lloyd k-means step (k=4, first-k seeds): DECIMAL-exact
    // distances, argmin assignment, recomputed per-dim centroid means.
    Q("emb_kmeans_iter", (s, dir) =>
      Similarity.kmeansIterate(T(s, dir, "embeddings"), 4)
        .orderBy("cluster_id", "dim"),
      // One Lloyd step: DECIMAL-exact distances -> argmin (ties -> lower
      // cid) -> DECIMAL centroid means; first-4-by-id seeds.
      s"""WITH ${assignCtes(4)}
         |SELECT a.cid AS cluster_id, f.dim,
         |  round((CAST(sum(CAST(round(f.x, 6) AS DECIMAL(18,6))) AS DOUBLE)
         |    / count(*)) * 1000000) / 1000000 AS centroid,
         |  count(*) AS n_members
         |FROM a JOIN f USING (vec_id)
         |GROUP BY 1, 2 ORDER BY cluster_id, dim""".stripMargin),

    // One spherical (cosine) k-means step (k=4, first-k seeds): argmax
    // cosine assignment, L2-normalized mean centroids — the text-
    // embedding variant beside the L2 Lloyd step.
    Q("emb_kmeans_cosine", (s, dir) =>
      Similarity.kmeansCosineIterate(T(s, dir, "embeddings"), 4)
        .orderBy("cluster_id", "dim"),
      // Spherical k-means mirror: argmax-cosine assignment (ties -> lower
      // cid), 6-dp mean centroids normalized by the norm of the ROUNDED
      // means; zero-norm mean -> NULL centroid. The assignment cosine is
      // 6-dp-rounded on BOTH sides (membership-deciding values are always
      // quantized — a last-ulp engine disagreement would flip a cluster);
      // NaN (zero-norm vector) maps to NULL to mirror graft_cosine, and
      // NULLS LAST + the cid tie-break sends it to the lowest seed.
      s"""WITH e AS ($embCte),
         |f AS (SELECT vec_id, CAST(generate_subscripts(v, 1) AS BIGINT) AS dim,
         |        unnest(v) AS x FROM e),
         |seeds AS (SELECT vec_id AS cid, v AS sv FROM e ORDER BY vec_id LIMIT 4),
         |sc AS (SELECT e.vec_id, s.cid,
         |        CASE WHEN isnan(list_cosine_similarity(e.v, s.sv))
         |          THEN NULL
         |          ELSE round(list_cosine_similarity(e.v, s.sv), 6) END AS cos
         |      FROM e CROSS JOIN seeds s),
         |a AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |        row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cos DESC NULLS LAST, cid) AS rn FROM sc)
         |      WHERE rn = 1),
         |mm AS (SELECT a.cid, f.dim, count(*) AS n_members,
         |        round((CAST(sum(CAST(round(f.x, 6) AS DECIMAL(18,6)))
         |          AS DOUBLE) / count(*)) * 1000000) / 1000000 AS m
         |      FROM a JOIN f USING (vec_id) GROUP BY 1, 2),
         |nn AS (SELECT cid, sqrt(CAST(sum(CAST(round(m * m, 6)
         |          AS DECIMAL(18,6))) AS DOUBLE)) AS nrm
         |      FROM mm GROUP BY 1)
         |SELECT mm.cid AS cluster_id, mm.dim,
         |  round((mm.m / nullif(nn.nrm, 0)) * 1000000) / 1000000 AS centroid, mm.n_members
         |FROM mm JOIN nn USING (cid) ORDER BY cluster_id, dim""".stripMargin),

    // Inertia (elbow) curve over k in {2,4,8}: total/mean
    // within-cluster squared distance per candidate k — the
    // choose-k-before-you-cluster pre-pass.
    Q("emb_inertia", (s, dir) =>
      Similarity.inertiaCurve(T(s, dir, "embeddings"), Seq(2, 4, 8))
        .orderBy("k"),
      // Elbow curve: per-k nearest-seed assignment (the assignCtes
      // algebra with suffixed CTE names, keeping the winning d2), exact
      // DECIMAL inertia sums.
      {
        val perK = Seq(2, 4, 8).map { k =>
          s"""s$k AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT $k),
             |c$k AS (SELECT f.vec_id AS cid, f.dim, f.x AS cx
             |      FROM f JOIN s$k USING (vec_id)),
             |d$k AS (SELECT f.vec_id, c$k.cid,
             |        sum(CAST(round((f.x - c$k.cx) * (f.x - c$k.cx), 6)
             |          AS DECIMAL(18,6))) AS d2
             |      FROM f JOIN c$k ON c$k.dim = f.dim GROUP BY 1, 2),
             |a$k AS (SELECT vec_id, d2 FROM
             |        (SELECT vec_id, d2, row_number() OVER (PARTITION BY vec_id
             |           ORDER BY d2, cid) AS rn FROM d$k) WHERE rn = 1),
             |i$k AS (SELECT CAST($k AS BIGINT) AS k, count(*) AS n_vectors,
             |        round(CAST(sum(d2) AS DOUBLE), 6) AS inertia,
             |        round((CAST(sum(d2) AS DOUBLE) / count(*)) * 1000000) / 1000000 AS mean_d2
             |      FROM a$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS ($embCte),
           |f AS (SELECT vec_id, CAST(generate_subscripts(v, 1) AS BIGINT)
           |        AS dim, unnest(v) AS x FROM e),
           |$perK
           |SELECT * FROM i2 UNION ALL SELECT * FROM i4
           |UNION ALL SELECT * FROM i8 ORDER BY k""".stripMargin
      }),

    // External clustering quality: per-cluster majority ground-truth
    // label and purity over the k=8 nearest-seed assignment — "do the
    // geometric clusters recover the labels".
    Q("emb_cluster_purity", (s, dir) =>
      Similarity.clusterPurity(T(s, dir, "embeddings"), 8)
        .orderBy("cluster_id"),
      // Purity over the shared nearest-seed assignment; majority vote by
      // (count DESC, label ASC) row_number — the Spark window tie-break.
      s"""WITH ${assignCtes(8)},
         |al AS (SELECT a.vec_id, a.cid, e2.label AS lbl
         |      FROM a JOIN embeddings e2 USING (vec_id)),
         |mem AS (SELECT cid, count(*) AS n_members FROM al GROUP BY 1),
         |v AS (SELECT cid, lbl, count(*) AS n FROM al
         |      WHERE lbl IS NOT NULL GROUP BY 1, 2),
         |top AS (SELECT cid, lbl AS majority_label, n AS n_majority FROM (
         |      SELECT cid, lbl, n, row_number() OVER (PARTITION BY cid
         |        ORDER BY n DESC, lbl) AS rn FROM v) WHERE rn = 1)
         |SELECT mem.cid AS cluster_id, n_members, majority_label,
         |  coalesce(n_majority, 0) AS n_majority,
         |  CAST(round((CAST(coalesce(n_majority, 0) AS DOUBLE)
         |    / CAST(n_members AS DOUBLE)) * 1000000) / 1000000 AS DOUBLE)
         |    AS purity
         |FROM mem LEFT JOIN top USING (cid) ORDER BY cluster_id""".stripMargin),

    // Centroid-based silhouette per vector (k=8 coarse clusters): a =
    // own-centroid distance, b = nearest other centroid, s=(b-a)/max —
    // the O(N*k) cluster-quality diagnostic.
    Q("emb_silhouette", (s, dir) =>
      Similarity.silhouette(T(s, dir, "embeddings"), 8)
        .orderBy("vec_id"),
      // Simplified silhouette on the shared assignment CTEs (k=8):
      // centroids are 6-dp member means (the kmeans convention), distances
      // the same DECIMAL-summed squared-deviation shape; a=b=0 -> s=0.
      s"""WITH ${assignCtes(8)},
         |cent AS (SELECT a.cid, f.dim,
         |    round(CAST(sum(CAST(round(f.x, 6) AS DECIMAL(18,6))) AS DOUBLE)
         |      / count(*) * 1000000) / 1000000 AS cc
         |  FROM a JOIN f USING (vec_id) GROUP BY 1, 2),
         |dd AS (SELECT f.vec_id, cent.cid,
         |    sqrt(CAST(sum(CAST(round((f.x - cent.cc) * (f.x - cent.cc), 6)
         |      AS DECIMAL(18,6))) AS DOUBLE)) AS dist
         |  FROM f JOIN cent USING (dim) GROUP BY 1, 2),
         |ab AS (SELECT dd.vec_id, a.cid AS cluster_id,
         |    min(CASE WHEN dd.cid = a.cid THEN dist END) AS ad,
         |    min(CASE WHEN dd.cid <> a.cid THEN dist END) AS bd
         |  FROM dd JOIN a ON a.vec_id = dd.vec_id GROUP BY 1, 2)
         |SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
         |  round(ad * 1000000) / 1000000 AS a_dist,
         |  round(bd * 1000000) / 1000000 AS b_dist,
         |  round((CASE WHEN greatest(ad, bd) = 0 THEN 0.0
         |        ELSE (bd - ad) / greatest(ad, bd) END) * 1000000) / 1000000
         |    AS silhouette
         |FROM ab ORDER BY vec_id""".stripMargin),

    // Per-cluster distance-percentile outlier gate: vectors in their own
    // cluster's top-decile distance tail — the embedding-space quality
    // filter (mislabeled / out-of-domain suspects).
    Q("emb_outlier", (s, dir) =>
      Similarity.embeddingOutliers(T(s, dir, "embeddings"), 8, 0.9)
        .orderBy("vec_id"),
      // Outlier gate on the shared assignment CTEs (k=8): the winning d2
      // becomes the distance, per-cluster quantile_cont(0.9) mirrors
      // Spark's exact percentile.
      s"""WITH ${assignCtes(8)},
         |own AS (SELECT vec_id, cid, d2,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |      FROM d),
         |o AS (SELECT vec_id, cid,
         |        round(sqrt(CAST(d2 AS DOUBLE)) * 1000000) / 1000000 AS dist
         |      FROM own WHERE rn = 1),
         |t AS (SELECT cid,
         |        round(quantile_cont(dist, 0.9) * 1000000) / 1000000 AS thr
         |      FROM o GROUP BY 1)
         |SELECT o.vec_id, CAST(o.cid AS BIGINT) AS cluster_id, o.dist, t.thr,
         |  o.dist > t.thr AS is_outlier
         |FROM o JOIN t USING (cid) ORDER BY o.vec_id""".stripMargin),

    // Supervised separability per LABEL: mean centroid margin + nearest-
    // centroid accuracy — names exactly which class collapses into which
    // (the silhouette question with classes given).
    Q("emb_label_margin", (s, dir) =>
      Similarity.labelMargin(T(s, dir, "embeddings"))
        .orderBy("label"),
      // Label-centroid margin: silhouette's DECIMAL distance recipe with
      // the given labels as clusters; rounded-tie distances count correct.
      """WITH f AS (SELECT vec_id,
        |        CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
        |        CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl
        |      FROM embeddings),
        |cent AS (SELECT lbl AS clbl, dim,
        |        round(CAST(sum(CAST(round(x, 6) AS DECIMAL(18,6)))
        |          AS DOUBLE) / count(*) * 1000000) / 1000000 AS c
        |      FROM f JOIN lab USING (vec_id) GROUP BY 1, 2),
        |d AS (SELECT vec_id, clbl,
        |        round(sqrt(CAST(sum(CAST(round((x - c) * (x - c), 6)
        |          AS DECIMAL(18,6))) AS DOUBLE)) * 1000000) / 1000000 AS dist
        |      FROM f JOIN cent USING (dim) GROUP BY 1, 2),
        |m AS (SELECT d.vec_id, lbl,
        |        min(CASE WHEN clbl = lbl THEN dist END) AS own,
        |        min(CASE WHEN clbl <> lbl THEN dist END) AS other
        |      FROM d JOIN lab ON d.vec_id = lab.vec_id GROUP BY 1, 2)
        |SELECT lbl AS label, count(*) AS n_vecs,
        |  round(CAST(sum(CAST(round(other - own, 6) AS DECIMAL(18,6)))
        |    AS DOUBLE) / count(*) * 1000000) / 1000000 AS mean_margin,
        |  round(CAST(sum(CASE WHEN own <= other THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1000000) / 1000000
        |    AS frac_correct
        |FROM m GROUP BY 1 ORDER BY label""".stripMargin),

    // Greedy k-center (farthest-point) seeding, k = 4: deterministic
    // spread-out kmeans++ stand-in; per round one broadcast seed join +
    // scalar max, 9-dp-quantized argmax ties to lowest id.
    Q("emb_kcenter", (s, dir) =>
      Similarity.kCenterSeeds(T(s, dir, "embeddings"), 4).orderBy("round"),
      // Greedy k-center: 3 materialized rounds (ADVICE: unrolled chains
      // materialize per round) of max-of-9-dp-min-distance with lowest-id
      // ties, the identical quantized trajectory the Scala loop walks.
      {
        val rounds = (1 to 3).map { r =>
          val prev = s"d${r - 1}"
          s"""m$r AS (SELECT max(d9) AS m FROM $prev),
             |c$r AS (SELECT min(id) AS nid, max(m) AS nd
             |      FROM $prev CROSS JOIN m$r WHERE d9 = m),
             |s$r AS MATERIALIZED (SELECT p.id, p.v, p.n2, c$r.nd
             |      FROM $prev p JOIN c$r ON p.id = c$r.nid),
             |d$r AS MATERIALIZED (SELECT p.id, p.v, p.n2,
             |        least(p.d9, round(p.n2 + s.n2
             |          - 2.0 * list_dot_product(p.v, s.v), 9)) AS d9
             |      FROM $prev p CROSS JOIN s$r s)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS ($embCte),
           |n AS MATERIALIZED (SELECT vec_id AS id, v,
           |      list_dot_product(v, v) AS n2 FROM e),
           |s0 AS MATERIALIZED (SELECT id, v, n2 FROM n
           |      WHERE id = (SELECT min(id) FROM n)),
           |d0 AS MATERIALIZED (SELECT n.id, n.v, n.n2,
           |        round(n.n2 + s.n2 - 2.0 * list_dot_product(n.v, s.v), 9)
           |          AS d9
           |      FROM n CROSS JOIN s0 s),
           |$rounds
           |SELECT 0 AS round, id AS vec_id, CAST(NULL AS DOUBLE) AS dist2
           |FROM s0
           |UNION ALL SELECT 1, id,
           |  CAST(round((nd) * 1000000) / 1000000 AS DOUBLE) FROM s1
           |UNION ALL SELECT 2, id,
           |  CAST(round((nd) * 1000000) / 1000000 AS DOUBLE) FROM s2
           |UNION ALL SELECT 3, id,
           |  CAST(round((nd) * 1000000) / 1000000 AS DOUBLE) FROM s3
           |ORDER BY round""".stripMargin
      }),

    // ---- Covariance and spectrum ----

    // Exact 64x64 covariance matrix of the embedding space (PCA/whitening
    // input): row-local outer products -> d^2-key aggregate with map-side
    // combine; no self-join, no N-proportional shuffle.
    Q("emb_covariance", (s, dir) =>
      embCov(s, dir).orderBy("i", "j"),
      // Products are 9-dp-quantized as scaled int64s (round(x*1e9) ->
      // BIGINT) and summed exactly — mirrors the Scala side's long path.
      s"""WITH e AS ($embCte),
         |${covSumCtes("x", "m", "p")}
         |${covSelect("m", "p")}
         |ORDER BY i, j""".stripMargin),

    // Effective rank trace(C)²/‖C‖²_F — "how many dimensions are in
    // use", no eigendecomposition (anisotropy-collapse alarm).
    Q("emb_effective_rank", (s, dir) =>
      Similarity.effectiveRank(T(s, dir, "embeddings"),
        precomputedCov = Some(embCov(s, dir))),
      // Effective rank from the SAME cov sums: exact diagonal DECIMAL
      // trace, 9-dp-rounded square sums.
      s"""WITH e AS ($embCte),
         |${covSumCtes("x", "m", "p")},
         |cv AS (SELECT p.i, p.j,
         |        round((CAST(sp AS DOUBLE) / 1e9 / n
         |          - (CAST(mi.sx AS DOUBLE) / n)
         |          * (CAST(mj.sx AS DOUBLE) / n)) * 1000000) / 1000000 + 0.0 AS cov
         |      FROM p JOIN m mi ON mi.i = p.i JOIN m mj ON mj.i = p.j),
         |k6 AS (SELECT i, j, cov,
         |        CAST(round(cov * 1e6) AS BIGINT) AS k FROM cv),
         |a AS (SELECT count(*) AS n_entries,
         |        sum(CASE WHEN i = j
         |          THEN CAST(cov AS DECIMAL(18,6)) END) AS tr,
         |        CAST(sum((CAST(k AS HUGEINT) * k + 500) // 1000)
         |          AS DECIMAL(38,0)) AS fr2i
         |      FROM k6)
         |SELECT n_entries, round(CAST(tr AS DOUBLE), 6) AS trace,
         |  round(sqrt(CAST(fr2i AS DOUBLE) / 1e9) * 1000000) / 1000000
         |    AS frob_norm,
         |  round(CAST(tr AS DOUBLE) * CAST(tr AS DOUBLE)
         |    / nullif(CAST(fr2i AS DOUBLE) / 1e9, 0.0) * 1000000) / 1000000
         |    AS effective_rank
         |FROM a""".stripMargin),

    // Leading principal direction via 3 power iterations on the
    // covariance matrix (9-dp-quantized trajectory, unrolled CTE oracle).
    Q("emb_pca_power", (s, dir) =>
      Similarity.pcaPowerIteration(T(s, dir, "embeddings"), 3,
          cov = Some(embCov(s, dir)))
        .orderBy("i"),
      // The shared power chain, published as 6-dp loadings and the
      // final norm as the eigenvalue estimate.
      s"""$powerCtes
         |SELECT i, round(x * sgn * 1000000) / 1000000 AS loading,
         |  round(nrm * 1000000) / 1000000 AS eigenvalue_est
         |FROM x3 CROSS JOIN sgn CROSS JOIN n3 ORDER BY i""".stripMargin),

    // λ₁/λ₂ by Hotelling deflation: one-dominant-direction vs
    // no-preferred-axis, the top of the spectrum effectiveRank averages.
    Q("emb_eigengap", (s, dir) =>
      Similarity.eigenGap(T(s, dir, "embeddings"),
        precomputedCov = Some(embCov(s, dir))),
      // Eigengap: the pca_power chain run twice — once on cov, once on
      // the 9-dp deflated residual cov − λ₁·v₁v₁ᵀ built from the SAME
      // 6-dp published (loading, eigenvalue) values Spark deflates with.
      {
        // q9/q6 forms in lockstep with Similarity.powerLoop/eigenGap —
        // seed-3 of the r18 multi-seed sweep fired the plain-round form
        // HERE (λ₂ 0.022742 vs 0.022743): grid-product, quotient, sqrt
        // and deflation rounds all ride round(x·10^k)/10^k now.
        def iterChain(covName: String, p: String) = (1 to 3).map { k =>
          val prev = if (k == 1) s"${p}x0" else s"$p" + s"x${k - 1}"
          s"""${p}y$k AS (SELECT c.i,
             |  CAST(sum(CAST(round(c.cov * q.x * 1e9) / 1e9 AS DECIMAL(28,9))) AS DOUBLE) AS y
             |  FROM $covName c JOIN $prev q ON q.i = c.j GROUP BY 1),
             |${p}n$k AS (SELECT sqrt(CAST(sum(CAST(round(y * y * 1e9) / 1e9 AS DECIMAL(28,9)))
             |  AS DOUBLE)) AS nrm FROM ${p}y$k),
             |${p}x$k AS (SELECT i, round((CASE WHEN nrm = 0 THEN 0.0
             |  ELSE y / nrm END) * 1e9) / 1e9 AS x FROM ${p}y$k CROSS JOIN ${p}n$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH $covCtes,
           |d AS (SELECT count(DISTINCT i) AS d FROM cov),
           |ax0 AS (SELECT DISTINCT i, 1.0 / sqrt(d) AS x FROM cov CROSS JOIN d),
           |${iterChain("cov", "a")},
           |asgn AS (SELECT CASE WHEN x > 0 THEN 1.0 WHEN x < 0 THEN -1.0
           |               ELSE 0.0 END AS sgn
           |        FROM ax3 ORDER BY abs(x) DESC, i LIMIT 1),
           |v1 AS (SELECT i, round(x * sgn * 1000000) / 1000000 AS v
           |      FROM ax3 CROSS JOIN asgn),
           |l1 AS (SELECT round(nrm * 1000000) / 1000000 AS lambda1 FROM an3),
           |cov2 AS (SELECT c.i, c.j,
           |        round((c.cov - l1.lambda1 * a.v * b.v) * 1e9) / 1e9 + 0.0 AS cov
           |      FROM cov c JOIN v1 a ON a.i = c.i JOIN v1 b ON b.i = c.j
           |      CROSS JOIN l1),
           |bx0 AS (SELECT DISTINCT i, 1.0 / sqrt(d) AS x FROM cov2 CROSS JOIN d),
           |${iterChain("cov2", "b")},
           |l2 AS (SELECT round(nrm * 1000000) / 1000000 AS lambda2 FROM bn3)
           |SELECT lambda1, lambda2,
           |  round(lambda1 / nullif(lambda2, 0.0) * 1000000) / 1000000
           |    AS gap_ratio
           |FROM l1 CROSS JOIN l2""".stripMargin
      }),

    // All-but-the-top correction: subtract the mean and the top
    // principal direction (emb_pca_power's component) — mean and PC
    // pack into ONE broadcast row; the corpus never joins itself.
    Q("emb_abtt", (s, dir) =>
      Similarity.allButTheTop(T(s, dir, "embeddings"),
          cov = Some(embCov(s, dir)))
        .orderBy("vec_id", "dim"),
      // ABTT: the emb_pca_power chain extended with the routed per-dim
      // mean, the 9-dp DECIMAL projection fold, and the routed corrected
      // components. The mu/dt/final sites stay plain rounds: their
      // inputs are raw-float combinations whose 17-significant-digit
      // shortest reprs cannot terminate on a short half.
      s"""$powerCtes,
         |v AS (SELECT i, round(x * sgn * 1000000) / 1000000 AS loading
         |      FROM x3 CROSS JOIN sgn),
         |cn AS (SELECT i, count(*) AS n FROM xx GROUP BY 1),
         |mu AS (SELECT mm.i,
         |        CAST(round((CAST(mm.sx AS DOUBLE) / cn.n
         |         ) * 1000000) / 1000000 AS DOUBLE) AS mu
         |      FROM mm JOIN cn ON cn.i = mm.i),
         |xm AS (SELECT xx.vec_id, xx.i, xx.xi - mu.mu AS a,
         |        v.loading AS b
         |      FROM xx JOIN mu ON mu.i = xx.i JOIN v ON v.i = xx.i),
         |dt AS (SELECT vec_id,
         |        CAST(sum(CAST(round(a * b, 9) AS DECIMAL(28,9)))
         |          AS DOUBLE) AS dot
         |      FROM xm GROUP BY 1)
         |SELECT xm.vec_id, CAST(xm.i + 1 AS BIGINT) AS dim,
         |  CAST(round((xm.a - dt.dot * xm.b) * 1000000) / 1000000
         |    AS DOUBLE) AS x_abtt
         |FROM xm JOIN dt ON dt.vec_id = xm.vec_id
         |ORDER BY xm.vec_id, dim""".stripMargin),

    // Linear CKA between the even-id vectors and their id+1 partners —
    // the "same representation?" score for encoder swaps, from three
    // covariance-Frobenius aggregates.
    Q("emb_cka",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        val a = e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id"), col("embedding").as("x"))
        val b = e.select((col("vec_id") - 1).as("vec_id"),
          col("embedding").as("y"))
        Similarity.linearCka(a.join(b, "vec_id"), "x", "y")
      },
      // CKA: three cov-Frobenius chains on the emb_covariance quantized
      // recipe (1e9 products, BIGINT/HUGEINT exact sums, 6-dp cells
      // re-quantized at 1e6 for the square sums).
      {
        def frobCtes(tag: String, aF: String, bF: String,
                     aS: String, bS: String) =
          s"""p$tag AS (SELECT a.i AS i, b.i AS j,
             |        sum(CAST(round(a.x * b.x * 1e9, 0) AS BIGINT)) AS sp,
             |        count(*) AS n
             |      FROM $aF a JOIN $bF b ON a.pid = b.pid GROUP BY 1, 2),
             |g$tag AS (SELECT round((CAST(sp AS DOUBLE) / 1e9 / n
             |          - (CAST(sa.s AS DOUBLE) / n)
             |          * (CAST(sb.s AS DOUBLE) / n)) * 1000000) / 1000000
             |          + 0.0 AS g
             |      FROM p$tag JOIN $aS sa ON sa.i = p$tag.i
             |      JOIN $bS sb ON sb.i = p$tag.j),
             |f$tag AS (SELECT CAST(sum(CAST(CAST(round(g * 1e6, 0) AS BIGINT)
             |          AS HUGEINT) * CAST(round(g * 1e6, 0) AS BIGINT))
             |        AS DOUBLE) / 1e12 AS f2 FROM g$tag)""".stripMargin
        s"""WITH e AS ($embCte),
           |pr AS (SELECT a.vec_id AS pid, a.v AS xv, b.v AS yv
           |      FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
           |      WHERE a.vec_id % 2 = 0),
           |fx AS (SELECT pid, unnest(xv) AS x,
           |        generate_subscripts(xv, 1) - 1 AS i FROM pr),
           |fy AS (SELECT pid, unnest(yv) AS x,
           |        generate_subscripts(yv, 1) - 1 AS i FROM pr),
           |sx AS (SELECT i, sum(CAST(round(x, 9) AS DECIMAL(28,9))) AS s
           |      FROM fx GROUP BY 1),
           |sy AS (SELECT i, sum(CAST(round(x, 9) AS DECIMAL(28,9))) AS s
           |      FROM fy GROUP BY 1),
           |${frobCtes("xy", "fx", "fy", "sx", "sy")},
           |${frobCtes("xx", "fx", "fx", "sx", "sx")},
           |${frobCtes("yy", "fy", "fy", "sy", "sy")},
           |np AS (SELECT count(*) AS n_pairs FROM pr)
           |SELECT n_pairs,
           |  CAST(round((sqrt(fxx.f2)) * 1000000) / 1000000 AS DOUBLE)
           |    AS x_norm,
           |  CAST(round((sqrt(fyy.f2)) * 1000000) / 1000000 AS DOUBLE)
           |    AS y_norm,
           |  CAST(round((fxy.f2
           |    / nullif(sqrt(fxx.f2) * sqrt(fyy.f2), 0e0)
           |   ) * 1000000) / 1000000 AS DOUBLE) AS cka
           |FROM np CROSS JOIN fxy CROSS JOIN fxx CROSS JOIN fyy""".stripMargin
      }),

    // Isotropy card: exact mean pairwise cosine from the sum-vector
    // identity ‖Σv̂‖² − Σ‖v̂‖² — the all-pairs average with NO pair term
    // (near 1 = embedding collapse, cosine retrieval stops working).
    Q("emb_isotropy", (s, dir) =>
      Similarity.isotropy(T(s, dir, "embeddings")),
      // Isotropy: unit components DECIMAL-routed to 6 dp, so per-dim sums
      // and the self term are exact and the sum-vector identity holds
      // EXACTLY on the quantized vectors; only su^2 rides a routed double.
      """WITH f AS (SELECT vec_id,
        |        CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
        |        CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |n AS (SELECT vec_id, round(sqrt(CAST(sum(CAST(round(x * x, 6)
        |          AS DECIMAL(18,6))) AS DOUBLE)) * 1000000) / 1000000 AS nrm
        |      FROM f GROUP BY 1 HAVING round(sqrt(CAST(sum(CAST(round(x * x, 6)
        |          AS DECIMAL(18,6))) AS DOUBLE)) * 1000000) / 1000000 > 0),
        |u AS (SELECT f.vec_id, f.dim,
        |        CAST(round((f.x / n.nrm) * 1000000) / 1000000
        |          AS DECIMAL(18,6)) AS u
        |      FROM f JOIN n ON n.vec_id = f.vec_id),
        |d AS (SELECT dim, CAST(sum(u) AS DECIMAL(38,6)) AS su,
        |        CAST(sum(CAST(u * u AS DECIMAL(38,12))) AS DECIMAL(38,12))
        |          AS self_d
        |      FROM u GROUP BY 1),
        |t AS (SELECT count(*) AS n_dims,
        |        CAST(sum(CAST(round((CAST(su AS DOUBLE)
        |          * CAST(su AS DOUBLE)) * 1000000) / 1000000
        |          AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS ss,
        |        CAST(sum(self_d) AS DECIMAL(38,12)) AS self_sum
        |      FROM d),
        |c AS (SELECT count(*) AS n_vectors FROM n)
        |SELECT n_vectors, n_dims,
        |  CAST(round((CAST(ss AS DOUBLE)) * 1000000) / 1000000
        |    AS DOUBLE) AS norm_sum_sq,
        |  CAST(round((CAST(self_sum AS DOUBLE)) * 1000000) / 1000000
        |    AS DOUBLE) AS self_cos_sum,
        |  CAST(round((CASE WHEN n_vectors > 1 THEN
        |      (CAST(ss AS DOUBLE) - CAST(self_sum AS DOUBLE))
        |      / (CAST(n_vectors AS DOUBLE) * CAST(n_vectors - 1 AS DOUBLE))
        |    ELSE NULL END) * 1000000) / 1000000 AS DOUBLE)
        |    AS mean_pairwise_cos
        |FROM c CROSS JOIN t""".stripMargin),

    // ---- Intrinsic dimension ----

    // TwoNN intrinsic dimension: d̂ = n / Σ ln(r₂/r₁) over each vector's
    // two nearest neighbors — exact N² baseline (ann_knn_graph
    // discipline: NOT in the scale gate; ANN candidates swap in at 100 TB).
    Q("emb_intrinsic_dim", (s, dir) => twoNNExact(s, dir),
      // TwoNN: squared-L2 via the identical ‖a‖²+‖b‖²−2a·b double algebra
      // (list_dot_product matches the fused graft_dot accumulation order);
      // ln μ terms 9-dp DECIMAL-summed, MLE one division.
      twoNNExactOracle),

    // The registered 100 TB swap for emb_intrinsic_dim: the IDENTICAL
    // rank→μ→MLE tail fed from SRP bucket-mate candidates (linear in the
    // candidate list) instead of the N² all-pairs join. This, not the
    // brute baseline, is the form in the scale gate. srpAutoPlanes
    // planes (4 at the 500-vector fixture scale) × 8 tables: TwoNN only
    // needs each point's 2-NN, so this point spends
    // ~¼ of the all-pairs dot products for a d̂ within a few percent of
    // exact (the agree row below measures it).
    Q("emb_intrinsic_dim_ann", (s, dir) => twoNNAnn(s, dir),
      // ANN-fed TwoNN: SRP self-candidates, identical MLE tail.
      twoNNAnnOracle),

    // Estimator agreement: d̂ from the exact baseline and from the ANN
    // candidate feed side by side (|Δ| on the two 6-dp estimates) — the
    // measured claim that the scale path estimates the same quantity.
    Q("emb_intrinsic_dim_agree",
      (s, dir) => {
        val ex = twoNNExact(s, dir)
          .select(col("n_points").as("n_exact"), col("id_twonn").as("d_exact"))
        val an = twoNNAnn(s, dir)
          .select(col("n_points").as("n_ann"), col("id_twonn").as("d_ann"))
        // two single-row aggregates — the broadcast-scalar crossJoin shape
        ex.crossJoin(an)
          .select(col("n_exact"), col("n_ann"), col("d_exact"), col("d_ann"),
            round(abs(col("d_ann") - col("d_exact")), 6).as("abs_diff"))
      },
      // Estimator agreement: exact vs ANN-fed d̂ side by side, abs diff
      // of the two committed 6-dp estimates.
      s"""WITH ex AS ($twoNNExactOracle),
         |an AS ($twoNNAnnOracle)
         |SELECT ex.n_points AS n_exact, an.n_points AS n_ann,
         |  ex.id_twonn AS d_exact, an.id_twonn AS d_ann,
         |  round(abs(an.id_twonn - ex.id_twonn), 6) AS abs_diff
         |FROM ex, an""".stripMargin),

    // ---- Distribution monitors ----

    // Centroid drift between the even and odd vec_id cohorts: cosine +
    // L2 between per-dim mean vectors — the cheap embedding-distribution
    // monitor (two d-key aggregates, one d-row join).
    Q("emb_drift",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        Similarity.centroidDrift(
          e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 === 1))
      },
      // Centroid drift: per-cohort dim-keyed DECIMAL means (6-dp-rounded
      // before the dot/norm products, the kmeans-cosine discipline).
      """WITH fa AS (SELECT CAST(generate_subscripts(embedding, 1) AS BIGINT)
        |          AS dim, CAST(unnest(embedding) AS DOUBLE) AS x
        |      FROM embeddings WHERE vec_id % 2 = 0),
        |fb AS (SELECT CAST(generate_subscripts(embedding, 1) AS BIGINT)
        |          AS dim, CAST(unnest(embedding) AS DOUBLE) AS x
        |      FROM embeddings WHERE vec_id % 2 = 1),
        |ma AS (SELECT dim, CAST(count(*) AS BIGINT) AS n_a,
        |        round((CAST(sum(CAST(round(x, 6) AS DECIMAL(18,6)))
        |          AS DOUBLE) / count(*)) * 1000000) / 1000000 AS m_a FROM fa GROUP BY 1),
        |mb AS (SELECT dim, CAST(count(*) AS BIGINT) AS n_b,
        |        round((CAST(sum(CAST(round(x, 6) AS DECIMAL(18,6)))
        |          AS DOUBLE) / count(*)) * 1000000) / 1000000 AS m_b FROM fb GROUP BY 1),
        |agg AS (SELECT CAST(min(n_a) AS BIGINT) AS n_a,
        |        CAST(min(n_b) AS BIGINT) AS n_b,
        |        CAST(sum(CAST(round((m_a * m_b) * 1000000) / 1000000
        |          AS DECIMAL(18,6))) AS DOUBLE) AS dot,
        |        CAST(sum(CAST(round((m_a * m_a) * 1000000) / 1000000
        |          AS DECIMAL(18,6))) AS DOUBLE) AS na2,
        |        CAST(sum(CAST(round((m_b * m_b) * 1000000) / 1000000
        |          AS DECIMAL(18,6))) AS DOUBLE) AS nb2,
        |        CAST(sum(CAST(round((m_a - m_b) * (m_a - m_b), 6)
        |          AS DECIMAL(18,6))) AS DOUBLE) AS d2
        |      FROM ma JOIN mb USING (dim))
        |SELECT n_a, n_b,
        |  round(dot / (sqrt(na2) * sqrt(nb2)) * 1000000) / 1000000 AS cosine,
        |  round(sqrt(d2) * 1000000) / 1000000 AS l2 FROM agg""".stripMargin),

    // Embedding L2-norm histogram — the encoder-health monitor
    // (collapsed or bimodal norms read off the 10-bin card).
    Q("emb_norm_hist", (s, dir) =>
      Similarity.normHistogram(T(s, dir, "embeddings"), 10)
        .orderBy("bin"),
      // Norm histogram: DECIMAL-exact squared sums, one rounded sqrt,
      // PSI binning arithmetic.
      """WITH f AS (SELECT vec_id,
        |        CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |n AS (SELECT vec_id, round(sqrt(CAST(sum(CAST(round(x * x, 6)
        |          AS DECIMAL(18,6))) AS DOUBLE)) * 1000000) / 1000000 AS nrm
        |      FROM f GROUP BY 1),
        |b AS (SELECT CAST(min(nrm) AS DOUBLE) AS lo,
        |        CAST(max(nrm) AS DOUBLE) AS hi FROM n),
        |bb AS (SELECT CASE WHEN hi = lo THEN 0 ELSE
        |        CAST(least(greatest(floor((nrm - lo) / ((hi - lo) / 10)), 0),
        |          9) AS INT) END AS bin, nrm FROM n CROSS JOIN b)
        |SELECT bin, count(*) AS n, min(nrm) AS min_norm,
        |  max(nrm) AS max_norm
        |FROM bb GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
