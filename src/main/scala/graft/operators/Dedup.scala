package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Document deduplication for large-scale training-data pipelines: exact,
  * exact n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine
  * near-dup. All pure DataFrame ops — every stage is a hash shuffle or a
  * broadcast, nothing driver-side, so each scales horizontally.
  *
  * Scale notes (100 TB posture):
  *  - `ngramJaccardPairs` is the exact inverted-index join: shuffles by
  *    shingle, O(sum of posting-list²) pairs. It is the *verifier*; at
  *    corpus scale you first narrow candidates with `lshCandidatePairs`
  *    (MinHash banding) and verify only those — `minhashDedupPairs` wires
  *    the two together.
  *  - Hot shingles (stopword runs) skew the posting-list join; AQE skew
  *    handling splits them, and `maxShingleFreq` can drop degenerate
  *    postings entirely (a standard recall/cost trade documented at the
  *    call site).
  */
object Dedup {

  /** Exact dedup via hash groupBy: one row per distinct text, keeping the
    * smallest id (deterministic, unlike dropDuplicates' arbitrary row).
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), md5(col(textCol).cast("binary")).as("text_md5"))

    /** Exact dedup by content DIGEST: groups on md5(content), so only
    * 16-byte digests ever shuffle — never the payloads. THE asset-level
    * dedup shape for binary/multimodal corpora, where [[exact]]'s
    * group-by-content would move terabytes of image bytes through the
    * exchange. Digest computed map-side in one codegen'd pass.
    * (An md5 collision would conflate two distinct assets — 2⁻⁶⁴-scale,
    * accepted industry-wide for dedup; use [[exact]] when full-content
    * comparison is required and contents are small.)
    */
  def exactByDigest(assets: DataFrame, contentCol: String = "content",
                    idCol: String = "doc_id"): DataFrame =
    assets
      .select(md5(col(contentCol).cast("binary")).as("digest"), col(idCol).as("id"))
      .groupBy("digest")
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** (doc_id, shingle) — the distinct word-n-gram set per document, as
    * 64-bit shingle hashes via the native
    * [[graft.expressions.ShingleHashes]] expression (one codegen'd pass;
    * the interpreted `array_distinct ∘ transform` HOF pipeline was the
    * dominant cost of every dedup operator, and hashing shrinks the
    * posting shuffle to 8-byte keys).
    */
  def shingleSets(docs: DataFrame, n: Int,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(Fns.callGraft("graft_shingles", col(textCol), lit(n))).as("shingle"))

  /** Exact all-pairs n-gram Jaccard ≥ threshold via inverted-index join.
    * `maxShingleFreq`, when set, drops shingles appearing in more than that
    * many documents before the self-join (skew guard; off by default so
    * results stay exact).
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                        maxShingleFreq: Option[Int] = None): DataFrame = {
    val sets = shingleSets(docs, n)
    val postings = maxShingleFreq match {
      case Some(cap) =>
        val hot = sets.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("shingle")
        sets.join(hot, Seq("shingle"), "left_anti")
      case None => sets
    }
    val sizes = sets.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    jaccardFromPostings(postings, sizes).filter(col("jaccard") >= threshold)
  }

  /** Exact all-pairs n-gram Jaccard ≥ threshold via PPJoin-style prefix
    * filtering (Bayardo et al. "Scaling Up All Pairs Similarity Search",
    * Xiao et al. PPJoin): order each document's shingles by ascending
    * global document frequency; a pair with J ≥ t must share a shingle
    * within the first ⌊(1−t)·|d|⌋+1 of each side, so only those prefix
    * postings are self-joined. Prefixes concentrate on RARE shingles, so
    * the candidate join is bounded by low-df posting lists instead of the
    * full Σdf² — the property that keeps exact similarity join alive at
    * corpus scale. Candidates are then verified with exact intersection
    * counts; output ≡ [[ngramJaccardPairs]].
    */
  def ngramJaccardPairsPrefix(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    val sets = shingleSets(docs, n)
    val dfreq = sets.groupBy("shingle").agg(count(lit(1)).as("df"))
    // One groupBy materializes everything the algorithm needs per doc:
    // the full (distinct) shingle-hash set ordered by ascending global df
    // and its size. Every later stage works off this frame, so the
    // postings are shuffled twice total (df agg, df join → doc agg)
    // instead of once per stage — the dominant cost at corpus scale.
    // localCheckpoint: this frame feeds THREE consumers (the prefix
    // explode and both verify sides) — without it each consumer
    // re-evaluates the shingle explode + df join + sort aggregation.
    // Same materialize-once call as dedupClusters' edge list; at corpus
    // scale this is the standard persist of the per-doc index before a
    // self-join.
    val docsets = sets.join(dfreq, "shingle")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("sorted"),
        count(lit(1)).as("n_sh"))
      .select(col("doc_id"), col("n_sh"),
        transform(col("sorted"), s => s.getField("shingle")).as("shingles"))
      .localCheckpoint(false)
    // PPJoin prefix: a pair with J ≥ t must share a shingle within the
    // first ⌊(1−t)·|d|⌋+1 RAREST shingles of each side — only those are
    // exploded into the candidate self-join.
    val prefix = docsets.select(col("doc_id"), col("n_sh"),
      explode(slice(col("shingles"), lit(1),
        (col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1).cast("int")))
        .as("shingle"))
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          // length-ratio prune: J ≥ t forces t·max(|a|,|b|) ≤ min(|a|,|b|).
          // The 1e-9 slack only ever ADMITS borderline candidates (double
          // rounding must not reject a valid pair); the exact verify decides.
          col("a.n_sh") >= lit(threshold) * col("b.n_sh") - lit(1e-9) &&
          col("b.n_sh") >= lit(threshold) * col("a.n_sh") - lit(1e-9))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Exact verify on the carried hash arrays: one array_intersect per
    // candidate pair — no re-shuffle of the posting lists. Division is a
    // single exact-integer ratio (oracle-safe, same as jaccardFromPostings).
    val da = docsets.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"),
      col("shingles").as("sh_a"))
    val db = docsets.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b"),
      col("shingles").as("sh_b"))
    candidates.join(da, "doc_a").join(db, "doc_b")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact Jaccard for candidate pairs only: intersection via a postings
    * join restricted to the candidates, denominators from set sizes.
    */
  private def verifyCandidates(candidates: DataFrame, sets: DataFrame,
                               sizes: DataFrame): DataFrame = {
    val inter = candidates
      .join(sets.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sets.as("b"),
        col("doc_b") === col("b.doc_id") && col("a.shingle") === col("b.shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
          .as("jaccard"))
  }

  /** Intersection counts from an inverted index + Jaccard. The division is
    * a single exact-integer ratio, so the double is bit-identical across
    * engines (oracle-safe without rounding).
    */
  private def jaccardFromPostings(postings: DataFrame, sizes: DataFrame): DataFrame = {
    val a = postings.as("a")
    val b = postings.as("b")
    val inter = a.join(b,
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
          .as("jaccard"))
  }

  /** MinHash signature: doc_id + `numPerms` min-hashed shingle values,
    * computed per document in one native pass
    * ([[graft.expressions.MinHashSignature]]) — ZERO shuffles; the
    * explode + groupBy formulation this replaces shuffled every posting
    * row. Signatures are identical (same shingle hashes, same xxhash64
    * base, same permutation constants). Docs with < n tokens produce no
    * row, like a groupBy over zero postings.
    */
  def minhashSignatures(docs: DataFrame, n: Int, numPerms: Int,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        Fns.callGraft("graft_minhash", col(textCol), lit(n), lit(numPerms)).as("sig"))
      .filter(col("sig").isNotNull)

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`,
    * bucket-join docs sharing any band hash. Candidate recall for true
    * Jaccard s is 1-(1-s^r)^b. Returns distinct (doc_a < doc_b) pairs.
    */
  def lshCandidatePairs(signatures: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    // Band hash = xxhash64 over (band idx, the band's signature slots) —
    // pure long hashing, no intermediate string building.
    val banded = signatures.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), bnd =>
          xxhash64(bnd +: (0 until rowsPerBand).map(r =>
            element_at(col("sig"), bnd * rowsPerBand + r + 1)): _*))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** MinHash+LSH near-dup with exact verification: LSH narrows to candidate
    * pairs, then exact shingle-Jaccard is computed for candidates only.
    * Output schema matches `ngramJaccardPairs` (the all-pairs oracle).
    */
  def minhashDedupPairs(docs: DataFrame, n: Int, threshold: Double,
                        numPerms: Int = 64, bands: Int = 16): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val candidates = lshCandidatePairs(minhashSignatures(docs, n, numPerms),
      bands, numPerms / bands)
    val sets = shingleSets(docs, n)
    val sizes = sets.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    verifyCandidates(candidates, sets, sizes).filter(col("jaccard") >= threshold)
  }

  /** Character-level near-dup: pairs within `maxDist` Levenshtein edits,
    * found by MinHash+LSH banding (candidate generation — no all-pairs
    * join) and verified with the exact edit distance. The classic final
    * verify when "near-duplicate" means literal edits, not bag-of-shingle
    * overlap. Recall argument: a pair within d edits loses at most d·n of
    * its n-shingles, so for small d its Jaccard stays far above the LSH
    * band threshold and the banding miss probability is the same
    * ~(1−r^b)-derived vanishing term as [[minhashDedupPairs]].
    *
    * Levenshtein is O(len²) per pair — the expensive verify — which is
    * exactly why it runs on the ≤-candidates set, never all pairs. (Spark
    * and DuckDB both implement unit-cost edit distance, so the output is
    * oracle-checkable.)
    */
  def editDistancePairs(docs: DataFrame, maxDist: Int, n: Int = 3,
                        numPerms: Int = 64, bands: Int = 16,
                        candidatePairs: Option[DataFrame] = None,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // Default candidates: MinHash-LSH banding (the scale path). Callers
    // needing a PROVABLE candidate definition (e.g. to mirror an exact
    // oracle) pass their own (doc_a, doc_b) frame — any generator whose
    // recall on <= maxDist pairs is argued separately.
    val candidates = candidatePairs.getOrElse {
      // Same guard as minhashDedupPairs: a non-divisible combination would
      // silently drop the trailing permutations and lower recall below
      // what the caller configured.
      require(numPerms % bands == 0, s"numPerms=$numPerms not divisible by bands=$bands")
      lshCandidatePairs(minhashSignatures(docs, n, numPerms),
        bands, numPerms / bands)
    }
    val txt = docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
    candidates
      .join(txt.select(col("doc_id").as("doc_a"), col("__t").as("t_a")), "doc_a")
      .join(txt.select(col("doc_id").as("doc_b"), col("__t").as("t_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("t_a"), col("t_b")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
  }

  /** 64-bit SimHash over whitespace tokens: per-bit ±1 votes from an
    * ANSI-expressible token hash (code-point polynomial mod 2³¹−1, then a
    * per-bit affine remix — see
    * [[graft.expressions.ShingleUtil.tokenHash31]]), sign → bit — computed
    * by the native one-pass [[graft.expressions.SimHash64]] expression
    * (the columnwise explode + 64-aggregate formulation shuffled every
    * token; this shuffles nothing). Plain integer arithmetic throughout,
    * so the DuckDB oracle reproduces fingerprints exactly. Docs with no
    * tokens produce no row, like a groupBy over zero token rows.
    */
  def simhash64(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.filter(size(Fns.tokens(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        Fns.callGraft("graft_simhash", col(textCol)).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, found by
    * pigeonhole blocking: split 64 bits into (maxHamming+1) blocks — any
    * pair within distance k must agree exactly on ≥ 1 block — bucket-join
    * on (block idx, block bits), then verify with bit_count(xor).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // maxHamming = 0 would make the block width 64 and `1L << 64` wraps
    // to an empty mask (and near-dup at distance 0 is just exact dedup).
    require(maxHamming >= 1 && maxHamming <= 16,
      s"maxHamming must be in [1, 16], got $maxHamming")
    val nBlocks = maxHamming + 1
    val width = 64 / nBlocks
    val sh = simhash64(docs)
    val blocks = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until nBlocks).map { blk =>
        shiftrightunsigned(col("simhash"), blk * width)
          .bitwiseAND(lit((1L << width) - 1))
      }: _*)))
      .withColumnRenamed("pos", "blk").withColumnRenamed("col", "blk_bits")
    blocks.as("x").join(blocks.as("y"),
        col("x.blk") === col("y.blk") && col("x.blk_bits") === col("y.blk_bits") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Decontamination view of a near-dup pair set: keep only the pairs
    * whose two documents belong to DIFFERENT groups (train vs. heldout
    * split, distinct sources, …) and attach both group labels — the
    * cross-set leakage a training pipeline must surface before mixing.
    * Two broadcast-or-hash joins against the (id → group) projection;
    * the heavy lifting stays in the pair miner.
    */
  def crossGroupPairs(pairs: DataFrame, docs: DataFrame, groupCol: String,
                      idCol: String = "doc_id"): DataFrame = {
    val g = docs.select(col(idCol).as("__gid"), col(groupCol).as("__grp"))
    pairs
      .join(g.withColumnRenamed("__gid", "doc_a").withColumnRenamed("__grp", "group_a"), "doc_a")
      .join(g.withColumnRenamed("__gid", "doc_b").withColumnRenamed("__grp", "group_b"), "doc_b")
      .filter(col("group_a") =!= col("group_b"))
  }

  /** Eval-set n-gram decontamination, the "13-gram collision" rule shape
    * (Brown et al. 2020, "Language Models are Few-Shot Learners", app. C):
    * a training document is contaminated when ANY of its n-grams also
    * appears in the evaluation corpus. Unlike [[crossGroupPairs]] (which
    * scores pair SIMILARITY across groups), this flags single-n-gram hits
    * — the conservative benchmark-leakage gate.
    *
    * Plan: both sides explode to 8-byte shingle hashes (one codegen'd
    * `graft_shingles` pass each, no n-gram strings materialize); the eval
    * side collapses to DISTINCT shingles (eval corpora are small next to
    * training corpora, so this side often broadcasts); one keyed join +
    * one groupBy on doc_id yields hits-per-document. Output: contaminated
    * docs only, with the distinct collision count as evidence.
    */
  def decontaminateNgram(train: DataFrame, eval: DataFrame, n: Int,
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val evalShingles = shingleSets(eval, n, textCol, idCol)
      .select("shingle").distinct()
    shingleSets(train, n, textCol, idCol)
      .join(evalShingles, "shingle")
      .groupBy("doc_id")
      .agg(count_distinct(col("shingle")).as("n_shared_ngrams"))
  }

  /** Cross-set n-gram Jaccard ≥ threshold: pairs (left doc, right doc)
    * across two DISJOINT corpora — the asymmetric twin of
    * [[ngramJaccardPairs]] (no self-join, no id-ordering trick needed).
    * One postings join keyed by 8-byte shingle hashes + two size joins.
    */
  def crossJaccardPairs(left: DataFrame, right: DataFrame, n: Int,
                        threshold: Double, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val ls = shingleSets(left, n, textCol, idCol)
    val rs = shingleSets(right, n, textCol, idCol)
    val la = ls.groupBy(col("doc_id").as("doc_a")).agg(count(lit(1)).as("n_a"))
    val ra = rs.groupBy(col("doc_id").as("doc_b")).agg(count(lit(1)).as("n_b"))
    ls.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(rs.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_i"))
      .join(la, "doc_a").join(ra, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("n_i").cast("double") /
          (col("n_a") + col("n_b") - col("n_i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental-admission gate: classify a NEW batch against an already-
    * deduplicated corpus — the shape every continuously-fed training
    * pipeline runs (crawl N+1 lands; only novel documents may enter).
    * Each batch doc gets its near-dup evidence and a verdict:
    * `dup_of_corpus` (≥1 corpus match — reject), `needs_batch_dedup`
    * (clean vs corpus but ≥1 in-batch match — route the GROUP through
    * [[dedupClusters]]+[[keepBest]]), else `admitted`.
    *
    * The corpus side never self-joins (it is already clean by contract):
    * cost is one batch×corpus postings join — proportional to the BATCH,
    * not the corpus — plus the in-batch self-join, both over hashed
    * shingles. That incremental cost profile is the whole point: re-
    * running full-corpus dedup per arriving crawl is the quadratic trap.
    */
  def admitIncremental(corpus: DataFrame, batch: DataFrame, n: Int,
                       threshold: Double, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val vsCorpus = crossJaccardPairs(batch, corpus, n, threshold, textCol, idCol)
      .groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("n_corpus_dups"))
    val inBatchPairs = ngramJaccardPairs(batch, n, threshold)
    val inBatch = inBatchPairs.select(col("doc_a").as("doc_id"))
      .unionAll(inBatchPairs.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_batch_dups"))
    batch.select(col(idCol).as("doc_id"))
      .join(vsCorpus, Seq("doc_id"), "left")
      .join(inBatch, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_corpus_dups"), lit(0L)).as("n_corpus_dups"),
        coalesce(col("n_batch_dups"), lit(0L)).as("n_batch_dups"))
      .withColumn("verdict",
        when(col("n_corpus_dups") > 0, "dup_of_corpus")
          .when(col("n_batch_dups") > 0, "needs_batch_dedup")
          .otherwise("admitted"))
  }

  /** One admission WAVE of the streaming dedup loop: classify `batch`
    * against the standing `corpus` ([[admitIncremental]]) and return
    * (verdicts, nextCorpus) where nextCorpus = corpus ∪ the batch docs
    * whose verdict is `admitted`. This is the foreachBatch body of a
    * continuously-fed pipeline — each micro-batch pays batch-
    * proportional cost, the state grows only by what was admitted, and
    * chaining waves is associative with one-shot admission over the
    * same arrival order (StreamingSpec executes the parity).
    *
    * Admission policy is the CONSERVATIVE gate: only `admitted` docs
    * enter the corpus. `dup_of_corpus` is rejected outright;
    * `needs_batch_dedup` groups are held for the offline
    * [[dedupClusters]]+[[keepBest]] resolution (admitting a survivor
    * inline would make wave results depend on intra-batch resolution
    * order — the held docs re-arrive in a later wave if still wanted).
    *
    * Both returned frames read an EAGER localCheckpoint of the verdicts:
    * the verdict subtree (two pair joins) feeds the wave output AND the
    * nextCorpus semi-join, and the NEXT wave's mining subtree would
    * otherwise re-evaluate this wave's entire plan — the unbounded
    * plan-growth trap of any iterative DataFrame loop (the
    * [[dedupClustersPropagation]] lineage-cut lesson; eager for its
    * broadcast-deadlock note too). `batch` and `corpus` must share a
    * schema (unionByName).
    */
  def admitWave(corpus: DataFrame, batch: DataFrame, n: Int,
                threshold: Double, textCol: String = "text",
                idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    val verdicts =
      admitIncremental(corpus, batch, n, threshold, textCol, idCol)
        .localCheckpoint()
    val admittedIds = verdicts.filter(col("verdict") === "admitted")
      .select(col("doc_id").as("__adm_id"))
    val nextCorpus = corpus.unionByName(
      batch.join(admittedIds, batch(idCol) === col("__adm_id"), "left_semi"))
    (verdicts, nextCorpus)
  }

  /** Connected components over near-dup pairs: every document gets the
    * smallest doc id reachable through the pair graph as `cluster_id`
    * (its own id when unpaired) — the step that turns pairwise dedup
    * output into keep/drop decisions (keep = doc_id == cluster_id).
    *
    * PRODUCTION PATH (round 15): alternating large-star/small-star
    * contraction ([[Graph.connectedComponentsStars]], Kiveris et al.
    * SoCC 2014) — O(log² n) rounds regardless of component diameter,
    * versus min-label propagation's O(diameter). Near-dup components
    * are usually cliques (either path labels them in a handful of
    * rounds), but chain-shaped components — doc A≈B≈C≈… from iterative
    * crawls — are exactly the 100 TB shape where propagation needs a
    * round per hop and contraction stays logarithmic (GraphSpec drives
    * a 64-node path in 5 star rounds vs 63 propagation steps). Labels
    * are identical by construction on ANY graph (both compute the exact
    * min-id per component; DedupSpec executes the parity). `maxIter`
    * bounds the star rounds; on exhaustion without a fixed point the
    * behavior follows `strict` (throw vs log), matching the propagation
    * contract. Docs that appear in no pair never enter the edge list —
    * the left join restores them as singletons (cluster_id = own id).
    *
    * The propagation formulation stays available as
    * [[dedupClustersPropagation]] — an independently-implemented twin
    * kept as the spec-level oracle (and the better pick when components
    * are KNOWN to be shallow and the per-round constant matters).
    */
  def dedupClusters(docs: DataFrame, pairs: DataFrame, maxIter: Int = 16,
                    idCol: String = "doc_id", strict: Boolean = false): DataFrame = {
    require(maxIter >= 1, s"need maxIter >= 1, got $maxIter")
    val labels = Graph.connectedComponentsStars(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")),
      maxRounds = maxIter, strict = strict)
    docs.select(col(idCol)).join(labels, col(idCol) === col("node"), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster_id"))
  }

  /** [[dedupClusters]] via iterative min-label propagation — the
    * original formulation, O(diameter) rounds. Kept as the production
    * path's independently-implemented oracle (DedupSpec proves label
    * parity) and for shallow-component corpora where its cheaper
    * per-round work wins.
    *
    * Iterative min-label propagation: each round, a doc's label becomes
    * the min of its own and its neighbors' labels — one hash join + one
    * groupBy per round, all keyed shuffles, nothing driver-side but the
    * convergence probe. After r rounds labels are exact for every
    * component of diameter ≤ r; near-dup components are usually cliques
    * or short chains (exact dups are diameter 1), BUT chain-shaped
    * components (doc A≈B≈C≈… from iterative crawls) can exceed any fixed
    * constant, so the loop is convergence-checked: every 2nd round the
    * freshly checkpointed labels are compared against the previous
    * snapshot (one keyed join + tiny count on already-materialized
    * frames — no re-evaluation of the mining subtree) and the loop stops
    * early at the first unchanged check. Min-propagation is monotone
    * non-increasing, so "no change across a 2-round window" IS a fixed
    * point — the labels are exact, not merely stable. If `maxIter` rounds
    * pass without convergence the result may still be split (labels are
    * the min within distance maxIter); that is logged, and `strict =
    * true` turns it into an error for pipelines that must not silently
    * under-merge.
    *
    * The edge list is materialized ONCE with an EAGER localCheckpoint —
    * without the checkpoint every round re-evaluates the (expensive)
    * pair-mining subtree, since each propagation join embeds it in the
    * final DAG. The per-2-rounds label checkpoint doubles as the lineage
    * cut that keeps the logical plan from doubling each round (the
    * GraphFrames-style compromise: bounded plan size, half the
    * materializations of a per-round cut). Because the convergence probe
    * is an action, CALLING this method runs the propagation jobs (it is
    * not a lazy plan builder — the returned frame reads the final
    * checkpointed labels); checkpoint blocks live until the session
    * ends, so callers looping over many threshold sweeps in one session
    * should unpersist explicitly.
    *
    * Why eager, in a loop that broadcasts: a LAZY checkpoint in an
    * iterative broadcast-join loop can be materialized concurrently by a
    * broadcast-exchange thread and the DAG scheduler, and Spark's global
    * `RDDCheckpointData` class monitor then deadlocks against the RDD
    * monitor (observed as a jstack-confirmed 2-thread deadlock in this
    * exact loop). Eager checkpoints materialize in creation order on the
    * calling thread, so every broadcast subtree only ever READS an
    * already-materialized checkpoint — no hold-and-wait cycle.
    */
  def dedupClustersPropagation(docs: DataFrame, pairs: DataFrame,
                               maxIter: Int = 8, idCol: String = "doc_id",
                               strict: Boolean = false): DataFrame = {
    require(maxIter >= 1, s"need maxIter >= 1, got $maxIter")
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    var labels = docs.select(col(idCol).as("id"), col(idCol).as("cluster_id"))
    var converged = false
    var round = 0
    // Per-round changed-row counts ride the 2-round checkpoint action as
    // Observations (r20): each round's projection carries both the old
    // and the new label, so the old snapshot-join job per check is gone.
    // Convergence = the LAST round changed nothing — min-propagation is
    // a deterministic function of (labels, edges), so an unchanged round
    // IS the fixed point. This can fire one check earlier than the old
    // labels_r == labels_{r-2} comparison (when only the final round was
    // quiescent), in which case the extra rounds it skips were no-ops —
    // the returned labels are identical.
    var lastObs: Option[org.apache.spark.sql.Observation] = None
    while (round < maxIter && !converged) {
      round += 1
      val prop = edges.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min("cluster_id").as("nb_min"))
      val obs = org.apache.spark.sql.Observation()
      labels = labels.join(prop, col("id") === col("src"), "left")
        .select(col("id"), col("cluster_id").as("prev"),
          least(col("cluster_id"), coalesce(col("nb_min"), col("cluster_id")))
            .as("cluster_id"))
        .observe(obs, sum(when(col("cluster_id") =!= col("prev"), 1L)
          .otherwise(0L)).as("chg"))
        .select(col("id"), col("cluster_id"))
      lastObs = Some(obs)
      if (round % 2 == 0 || round == maxIter) {
        labels = labels.localCheckpoint()
        converged = Option(lastObs.get.get("chg"))
          .forall(_.asInstanceOf[Long] == 0L)
      }
    }
    if (!converged) {
      val msg = s"dedupClustersPropagation did not converge within maxIter=$maxIter " +
        "rounds; a component with diameter > maxIter may be split into " +
        "several clusters. Raise maxIter."
      if (strict) throw new IllegalStateException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    labels.select(col("id").as(idCol), col("cluster_id"))
  }

  /** Adaptive cluster resolution — the dispatch between
    * [[dedupClusters]] (star contraction, O(log² n) rounds) and the
    * cheaper-per-round propagation: run `probeRounds` rounds of
    * min-label propagation and convergence-check; near-dup components
    * are USUALLY cliques or tiny families (exact dups are diameter 1),
    * where propagation is a fixed point after one round and the probe
    * IS the answer — two keyed joins total, no contraction machinery.
    * When the probe does NOT converge (chain-shaped components from
    * iterative crawls), the graph is CONTRACTED through the probe
    * labels (edges mapped label→label, self-loops dropped — every
    * probe round merged whole neighborhoods, so the contracted graph
    * is strictly smaller) and alternating star contraction finishes in
    * its usual O(log² n) rounds. The probe is therefore never wasted
    * work: its rounds double as the first contraction steps.
    *
    * No tuned threshold: the dispatch signal is "did propagation reach
    * a fixed point", which is exact — min-propagation is monotone
    * non-increasing, so an unchanged round IS convergence, and both
    * branches compute the exact min-id per component (label parity
    * with [[dedupClusters]] AND [[dedupClustersPropagation]] on any
    * graph; DedupSpec drives both branches). `maxIter` bounds the star
    * rounds of the fallback branch; `strict` follows the
    * [[dedupClusters]] contract. Eager checkpoints throughout (the
    * [[dedupClustersPropagation]] deadlock rationale); like that
    * method, CALLING this runs the probe jobs.
    */
  def dedupClustersAdaptive(docs: DataFrame, pairs: DataFrame,
                            maxIter: Int = 16, idCol: String = "doc_id",
                            strict: Boolean = false,
                            probeRounds: Int = 2): DataFrame = {
    require(maxIter >= 1, s"need maxIter >= 1, got $maxIter")
    require(probeRounds >= 1, s"need probeRounds >= 1, got $probeRounds")
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint()
    var labels = edges.select(col("src").as("id"))
      .distinct().select(col("id"), col("id").as("lbl"))
      .localCheckpoint()
    var converged = false
    var r = 0
    while (r < probeRounds && !converged) {
      r += 1
      val prop = edges.join(labels, col("dst") === col("id"))
        .groupBy("src").agg(min("lbl").as("nb"))
      // changed-row count rides the checkpoint action as an Observation
      // (r20): old and new label are both in the round's projection, so
      // the separate next⋈labels convergence join per round is gone.
      // Same predicate, same fixed-point rule (labels_r == labels_{r-1}).
      val obs = org.apache.spark.sql.Observation()
      val next = labels.join(prop, col("id") === col("src"), "left")
        .select(col("id"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nb"), col("lbl"))).as("lbl"))
        .observe(obs, sum(when(col("lbl") =!= col("prev"), 1L).otherwise(0L))
          .as("chg"))
        .select(col("id"), col("lbl"))
        .localCheckpoint()
      converged = Option(obs.get("chg")).forall(_.asInstanceOf[Long] == 0L)
      labels = next
    }
    val comp =
      if (converged) labels.select(col("id").as("node"), col("lbl").as("component"))
      else {
        val byId = labels.select(col("id"), col("lbl"))
        val contracted = edges
          .join(byId.withColumnRenamed("id", "src").withColumnRenamed("lbl", "lsrc"), "src")
          .join(byId.withColumnRenamed("id", "dst").withColumnRenamed("lbl", "ldst"), "dst")
          .select(col("lsrc").as("src"), col("ldst").as("dst"))
        val cc = Graph.connectedComponentsStars(contracted,
          maxRounds = maxIter, strict = strict)
        // Map every node through its probe label's component; labels
        // that became self-loop-only under contraction (their whole
        // neighborhood merged in the probe) are absent from cc — they
        // ARE their component.
        labels.join(cc, col("lbl") === col("node"), "left")
          .select(col("id").as("node"),
            coalesce(col("component"), col("lbl")).as("component"))
      }
    docs.select(col(idCol)).join(comp, col(idCol) === col("node"), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster_id"))
  }

  /** Bag-of-words TF cosine near-dup ≥ threshold — the vector-space twin
    * of the Jaccard family, sensitive to repetition (a doc repeating one
    * paragraph five times scores high here and low on set-based Jaccard).
    * Raw tf counts, not tf-idf, ON PURPOSE: dots and squared norms are
    * exact integers, so the similarity is bit-reproducible on any engine
    * and partitioning — sqrt/division are single correctly-rounded IEEE
    * ops at the edge.
    *
    * This is a DISPATCHER: it measures the corpus's vocabulary with one
    * tiny aggregate (two scalars — the DataFrame-level analogue of a
    * cost-based planner rule) and picks the physical strategy the stats
    * prove right. All three formulations produce bit-identical output
    * (DedupSpec proves it); they differ ONLY in where the Σ tf_a·tf_b
    * multiplies happen:
    *
    *  - SMALL vocabulary (V ≤ denseVocabMax, N ≤ denseMaxDocs):
    *    [[tfCosinePairsDense]]. When V is small, posting lists are fat by
    *    pigeonhole — Σ df² ≈ N²·V̄ — so ANY inverted-index form
    *    materializes and shuffles the same ~N² candidate rows it would
    *    have compared anyway. The dense path does those multiplies
    *    in-register inside one codegen'd loop join instead. Measured at
    *    sf0.1 (5 000 docs, V = 31, Σ df² = 4.5e8), all three committed in
    *    BENCH_HISTORY.jsonl / BENCH_r07: postings 194.2 s, prefix-filtered
    *    50.2 s, dense 3.4 s.
    *  - SHARDED vocabulary (global V > cutoff but the corpus is a union
    *    of term-disjoint components — per-language / per-tenant unions):
    *    [[vocabComponents]] finds the term-connected components, each
    *    small-vocab component runs the GROUPED dense form
    *    (component-keyed join, bucketed for parallelism, no broadcast),
    *    long-tail components fall through to prefix, and the union is
    *    exact because cross-component cosine is identically 0. Measured
    *    on the 10× scale fixture (10 disjoint 31-term shards): prefix
    *    405.7 s → grouped dense 16.5 s, 4.3× sf0.1's 3.8 s at 10× the
    *    data (BENCH_SF1.json, SCALE.md).
    *  - LONG-TAIL vocabulary (real text): [[tfCosinePairsPrefix]] — the
    *    norm-mass prefix filter bounds candidates by RARE-term posting
    *    lists; the small-V blowup above cannot occur because V > the
    *    dense cutoff means mean df = postings/V stays thin at any N
    *    where this operator (exact all-pairs semantics) is sane.
    *
    * [[tfCosinePairsPostings]] (the plain inverted-index join) remains
    * public for corpora known to be mid-vocabulary with a `maxTermDf`
    * skew cap.
    */
  def tfCosinePairs(docs: DataFrame, threshold: Double,
                    textCol: String = "text", idCol: String = "doc_id",
                    denseVocabMax: Int = 256, denseMaxDocs: Long = 100000L): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val tf = termFrequencies(docs, textCol, idCol)
    val stats = tf.agg(countDistinct(col("term")).as("v"),
      countDistinct(col("doc_id")).as("n")).head()
    val (v, n) = (stats.getLong(0), stats.getLong(1))
    if (v <= denseVocabMax && n <= denseMaxDocs)
      tfCosinePairsDense(docs, threshold, textCol, idCol)
    else {
      // GLOBAL vocabulary failed the dense cutoff — but a sharded corpus
      // (per-language / per-tenant / per-source unions, vocabularies
      // disjoint across shards) can still be small-vocab PER COMPONENT,
      // and routing such a corpus to the prefix path re-creates the fat-
      // posting blowup per shard (measured: the 10× scale fixture ran
      // 405 s through prefix vs ~40 s through the per-component dense
      // path — BENCH_SF1.json). Cross-component pairs share no term, so
      // their cosine is exactly 0 < threshold and splitting by component
      // loses nothing: dispatch each vocabulary component independently.
      val labs = vocabComponents(tf)
      val cstats = tf.join(labs, "doc_id").groupBy("lab")
        .agg(countDistinct(col("term")).as("cv"))
        .localCheckpoint()
      val denseLabs = cstats.filter(col("cv") <= denseVocabMax).select("lab")
      val anyDense = denseLabs.limit(1).count() > 0
      val anyTail = cstats.filter(col("cv") > denseVocabMax).limit(1).count() > 0
      if (!anyDense) tfCosinePairsPrefix(docs, threshold, textCol, idCol)
      else {
        // Bucket count stays FIXED at 32 even when many components
        // already partition the work. Measured (r12, 10-component sf1
        // fixture): scaling buckets down to 64/#components (6) cut the
        // a-side replication shuffle 5× but cost +2 s wall — 60 join
        // keys hashing into 32 shuffle partitions collide into
        // straggler tasks, while 320 keys spread smoothly. Key-space
        // smoothness beats replicated-shuffle volume here; the vectors
        // are narrow (≤ denseVocabMax doubles) so the replicated bytes
        // were never the bottleneck.
        val densePart = tfCosinePairsDenseGrouped(
          tf.join(labs.join(denseLabs, "lab"), "doc_id"), threshold)
        if (!anyTail) densePart
        else {
          val tailDocs = docs.join(
            labs.join(cstats.filter(col("cv") > denseVocabMax), "lab")
              .select(col("doc_id").as(idCol)),
            Seq(idCol), "left_semi")
          densePart.unionByName(
            tfCosinePairsPrefix(tailDocs, threshold, textCol, idCol))
        }
      }
    }
  }

  /** Vocabulary-sharing components of the corpus: docs are connected iff
    * they share a term (transitively). Min-label propagation on the
    * doc–term bipartite graph — per round one term-keyed and one
    * doc-keyed aggregate over the (doc, term) frame, labels EAGER-
    * checkpointed (the dedupClusters deadlock lesson) with a per-round
    * convergence probe on the already-materialized label frames. Real
    * vocab graphs are hub-shallow (corpus-wide terms connect everything
    * they touch in one hop), so rounds ≈ component diameter stays small;
    * 64 rounds without convergence throws rather than silently
    * mislabeling — a SPLIT component would drop true pairs, so
    * exactness requires the fixed point.
    */
  private[graft] def vocabComponents(tf: DataFrame): DataFrame = {
    val dt = tf.select("doc_id", "term")
    var lab = dt.select("doc_id").distinct()
      .withColumn("lab", col("doc_id")).localCheckpoint()
    val maxIter = 64
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val termLab = dt.join(lab, "doc_id")
        .groupBy("term").agg(min(col("lab")).as("tlab"))
      val next = dt.join(termLab, "term")
        .groupBy("doc_id").agg(min(col("tlab")).as("nlab"))
        .join(lab, "doc_id")
        // min-propagation is monotone non-increasing; keeping the least
        // of (old, new) makes that explicit
        .select(col("doc_id"), least(col("lab"), col("nlab")).as("lab"))
        .localCheckpoint()
      converged = next.as("n")
        .join(lab.select(col("doc_id"), col("lab").as("prev")), "doc_id")
        .filter(col("lab") =!= col("prev")).limit(1).count() == 0
      lab = next
      iter += 1
    }
    require(converged, s"vocabComponents did not converge in $maxIter rounds")
    lab
  }

  /** The dense strategy GROUPED BY vocabulary component — the sharded-
    * corpus form of [[tfCosinePairsDense]]: per-component sorted vocab
    * (≤ denseVocabMax terms by dispatch), per-doc dense vectors built by
    * a component-keyed join (no global broadcast — component count and
    * total size are unbounded), pairs from a (component, bucket)-keyed
    * self-join: the b-side hashes into `buckets` buckets, the a-side
    * replicates across them, so one component's n² pair work spreads
    * over `buckets` tasks instead of one. Per-pair work is the same
    * codegen'd integer [[graft.expressions.ArrayDot]] as the broadcast
    * dense path; output is bit-identical to every other formulation.
    */
  private def tfCosinePairsDenseGrouped(tfLabeled: DataFrame, threshold: Double,
                                        buckets: Int = 32): DataFrame = {
    val vocab = tfLabeled.groupBy("lab")
      .agg(sort_array(collect_set(col("term"))).as("__vocab"))
    val dense = tfLabeled.groupBy("lab", "doc_id")
      .agg(map_from_entries(collect_list(struct(col("term"), col("tf")))).as("__m"))
      .join(vocab, "lab")
      .select(col("lab"), col("doc_id"),
        transform(col("__vocab"), t =>
          coalesce(element_at(col("__m"), t), lit(0L)).cast("double")).as("v"))
      .withColumn("sq", Fns.callGraft("graft_dot", col("v"), col("v")))
      .localCheckpoint(false)
    val cosOf = (dot: org.apache.spark.sql.Column) =>
      dot / (sqrt(col("sq_a")) * sqrt(col("sq_b")))
    val b = dense.withColumn("bk", pmod(xxhash64(col("doc_id")), lit(buckets.toLong)))
    val a = dense.withColumn("bk",
      explode(sequence(lit(0L), lit(buckets.toLong - 1))))
    a.as("a").join(b.as("b"),
        col("a.lab") === col("b.lab") && col("a.bk") === col("b.bk")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        Fns.callGraft("graft_dot", col("a.v"), col("b.v")).as("dot"),
        col("a.sq").as("sq_a"), col("b.sq").as("sq_b"))
      .filter(cosOf(col("dot")) >= threshold)
      .select(col("doc_a"), col("doc_b"), round(cosOf(col("dot")), 6).as("tf_cosine"))
  }

  /** (doc_id, term, tf) — the shared first stage of every tf-cosine
    * formulation: one explode + hash aggregate with map-side combine.
    */
  private def termFrequencies(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.Fns.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** TF cosine via DENSE vectors — the small-vocabulary strategy (see
    * [[tfCosinePairs]] for when and why). Each doc becomes a V-wide
    * array<double> in one global sorted-vocab order (the vocab rides as a
    * one-row broadcast; densify is N·V map probes, trivial at the V this
    * path accepts); pairs come from a broadcast a<b loop join whose only
    * per-pair work is the native codegen'd [[graft.expressions.ArrayDot]]
    * — zero shuffle after the tf aggregate. Dots and squared norms stay
    * exact integers (valued ≤ 2⁵³ as doubles), so output is bit-identical
    * to the posting join and the DuckDB oracle. Memory bound: the
    * broadcast side is N·V·8 bytes (the dispatcher's denseMaxDocs /
    * denseVocabMax caps keep it ≲ 200 MB); genuinely unbounded corpora
    * belong to the prefix or LSH paths, not here.
    */
  def tfCosinePairsDense(docs: DataFrame, threshold: Double,
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val tf = termFrequencies(docs, textCol, idCol)
    val vocab = tf.select("term").distinct()
      .agg(sort_array(collect_list(col("term"))).as("__vocab"))
    val dense = tf.groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("term"), col("tf")))).as("__m"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        transform(col("__vocab"), t =>
          coalesce(element_at(col("__m"), t), lit(0L)).cast("double")).as("v"))
      .withColumn("sq", Fns.callGraft("graft_dot", col("v"), col("v")))
      // lazy materialize-once: the frame feeds BOTH sides of the self-join
      // (broadcast build + stream), which would otherwise each re-run the
      // tokenize/aggregate/densify subtree.
      .localCheckpoint(false)
    val cosOf = (dot: org.apache.spark.sql.Column) =>
      dot / (sqrt(col("sq_a")) * sqrt(col("sq_b")))
    dense.as("a").join(broadcast(dense.as("b")), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        Fns.callGraft("graft_dot", col("a.v"), col("b.v")).as("dot"),
        col("a.sq").as("sq_a"), col("b.sq").as("sq_b"))
      .filter(cosOf(col("dot")) >= threshold)
      .select(col("doc_a"), col("doc_b"), round(cosOf(col("dot")), 6).as("tf_cosine"))
  }

  /** TF cosine via the plain inverted-index posting self-join — the
    * mid-vocabulary strategy: one (doc,term) count aggregation, a
    * term-keyed a<b self-join with map-side-combined integer dots, two
    * norm joins. Cost is Σ df² over terms — fine when posting lists stay
    * thin, quadratic when corpus-wide terms fatten them (measured 194 s
    * at sf0.1 where V = 31; the dispatcher routes that shape to
    * [[tfCosinePairsDense]]). `maxTermDf`, when set, drops terms
    * appearing in more than that many documents BEFORE the self-join
    * (norms keep the full vectors, so the computed cosine is a LOWER
    * bound — recall-only loss, mirroring `maxShingleFreq` in
    * [[ngramJaccardPairs]]; off by default so results stay exact).
    */
  def tfCosinePairsPostings(docs: DataFrame, threshold: Double,
                            textCol: String = "text", idCol: String = "doc_id",
                            maxTermDf: Option[Int] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val tf = termFrequencies(docs, textCol, idCol)
    // Norms ALWAYS come from the full vectors — a df cap only removes
    // dot contributions, so capped cosines under-estimate (never admit).
    val norms = tf.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("sq"))
    val postings = maxTermDf match {
      case Some(cap) =>
        val hot = tf.groupBy("term").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("term")
        tf.join(hot, Seq("term"), "left_anti")
      case None => tf
    }
    val dots = postings.as("a").join(postings.as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
    val cos = col("dot") / (sqrt(col("sq_a")) * sqrt(col("sq_b")))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("sq").as("sq_a")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("sq").as("sq_b")), "doc_b")
      .filter(cos >= threshold)
      .select(col("doc_a"), col("doc_b"), round(cos, 6).as("tf_cosine"))
  }

  /** TF cosine ≥ threshold via norm-mass prefix filtering (the cosine
    * analogue of Bayardo et al.'s all-pairs bound) — the long-tail-
    * vocabulary strategy (see [[tfCosinePairs]] for the dispatch): real
    * text's posting mass concentrates in a few corpus-wide terms ("the"
    * alone contributes df² pairs to a plain posting join) while prefixes
    * concentrate on RARE terms. On a SMALL closed vocabulary the bound
    * prunes nothing — every "rare" term still has a df ≈ N/V posting
    * list — so the dispatcher sends that shape to the dense path instead
    * (this form measured 50.2 s at sf0.1/V=31 in BENCH_r07, vs 194.2 s
    * plain postings and 3.4 s dense — BENCH_HISTORY.jsonl). DedupSpec
    * proves all formulations output-identical at several thresholds.
    *
    * Soundness: each doc posts only its PREFIX — terms in ascending
    * global-df order until the posted squared mass reaches (1−c)·‖d‖²,
    * c = 0.9·threshold. The candidate join is prefix × full postings,
    * both directions. A missed pair shares terms only inside both
    * suffixes, so by Cauchy–Schwarz cos ≤ √(suffixFrac_a·suffixFrac_b)
    * ≤ c < threshold — it could never qualify. The 0.9 margin swallows
    * float rounding at the boundary. High-df terms almost never appear
    * in a prefix, so the candidate count tracks the true near-dup count,
    * not Σ df².
    *
    * Verification runs on CARRIED per-doc (term,tf) arrays — one hash-map
    * probe pass per candidate pair, no re-shuffle of the posting lists
    * (the same carried-array pattern as [[ngramJaccardPairsPrefix]]); the
    * dot stays an exact integer. The per-doc index is localCheckpoint'd
    * LAZILY (computed once on first action, then reused by the prefix
    * explode and both verify sides).
    */
  def tfCosinePairsPrefix(docs: DataFrame, threshold: Double,
                          textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val tf = termFrequencies(docs, textCol, idCol)
    val dfCounts = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val c = 0.9 * threshold
    // Per-doc index: (term, tf) sorted by ascending global df, squared
    // norm, and the prefix length k = #terms whose PRECEDING cumulative
    // squared mass is < (1−c)·‖d‖² (the cumulative scan runs inside the
    // row via `aggregate` — no window, no extra shuffle).
    val docsets = tf.join(dfCounts, "term")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("term"), col("tf")))).as("sorted"))
      .select(col("doc_id"),
        transform(col("sorted"), s =>
          struct(s.getField("term").as("term"), s.getField("tf").as("tf"))).as("terms"),
        aggregate(col("sorted"), lit(0L),
          (acc, s) => acc + s.getField("tf") * s.getField("tf")).as("sq"))
      .withColumn("prefix_len",
        aggregate(col("terms"),
          struct(lit(0L).as("cum"), lit(0).as("k")),
          (acc, e) => struct(
            (acc.getField("cum") + e.getField("tf") * e.getField("tf")).as("cum"),
            (acc.getField("k") +
              when(acc.getField("cum").cast("double")
                < (lit(1.0) - lit(c)) * col("sq").cast("double"), 1).otherwise(0)).as("k")),
          acc => acc.getField("k")))
      .localCheckpoint(false)
    val prefix = docsets
      .select(col("doc_id"),
        explode(transform(slice(col("terms"), lit(1), col("prefix_len")),
          e => e.getField("term"))).as("term"))
    val cand = prefix.as("pa")
      .join(tf.select("doc_id", "term").as("pb"),
        col("pa.term") === col("pb.term") && col("pa.doc_id") =!= col("pb.doc_id"))
      .select(least(col("pa.doc_id"), col("pb.doc_id")).as("doc_a"),
        greatest(col("pa.doc_id"), col("pb.doc_id")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // Exact verify on the carried arrays: probe b's (term→tf) map with
    // a's terms — integer dot, zero posting re-shuffle.
    val da = docsets.select(col("doc_id").as("doc_a"),
      col("terms").as("t_a"), col("sq").as("sq_a"))
    val db = docsets.select(col("doc_id").as("doc_b"),
      map_from_entries(col("terms")).as("m_b"), col("sq").as("sq_b"))
    val cos = col("dot") / (sqrt(col("sq_a")) * sqrt(col("sq_b")))
    cand.join(da, "doc_a").join(db, "doc_b")
      .withColumn("dot", aggregate(col("t_a"), lit(0L),
        (acc, e) => acc +
          e.getField("tf") * coalesce(element_at(col("m_b"), e.getField("term")), lit(0L))))
      .filter(cos >= threshold)
      .select(col("doc_a"), col("doc_b"), round(cos, 6).as("tf_cosine"))
  }

  /** Asymmetric n-gram containment ≥ threshold: c(a→b) = |A∩B| / |A| — the
    * quote/subset detector Jaccard misses (a paragraph wholly copied into
    * a much longer document scores high containment but low Jaccard).
    * Emits BOTH directions per overlapping pair. Same inverted-index
    * shuffle shape as [[ngramJaccardPairs]]; the division is one exact
    * integer ratio, oracle-safe without rounding.
    */
  def ngramContainmentPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    val sets = shingleSets(docs, n)
    val sizes = sets.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // Intersections are symmetric: join each unordered pair ONCE (a < b,
    // half the posting-join output), then flip to materialize both
    // directions for the asymmetric ratio.
    val interAB = sets.as("a").join(sets.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    val inter = interAB.unionByName(interAB.select(
      col("doc_b").as("doc_a"), col("doc_a").as("doc_b"), col("n_inter")))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"),
        "doc_a")
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") / col("n_a")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Shared-window (approximate substring) duplicate detection, the
    * Lee-et-al-style "same `windowLen`-token run appears in both
    * documents" signal: any shared window means a verbatim copied passage
    * of ≥ windowLen tokens (modulo 64-bit hash collisions, ~N²/2⁶⁵).
    * The window fingerprint set IS `graft_shingles(text, windowLen)` —
    * one native pass, no string materialization of the windows — so this
    * is an inverted-index self-join keyed by 8-byte window hashes:
    * entirely hash-shuffle horizontal. `n_shared` counts distinct shared
    * windows (a pair's verbatim-overlap length proxy).
    */
  def sharedWindowPairs(docs: DataFrame, windowLen: Int): DataFrame = {
    val wins = shingleSets(docs, windowLen)
    wins.as("a").join(wins.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Cross-source n-gram overlap matrix — the dataset-card diagnostic a
    * corpus curator reads BEFORE doc-level dedup: which sources duplicate
    * each other (mirrored sites, re-scraped crawl snapshots, re-hosted
    * dumps surface as high-overlap pairs). One row per unordered source
    * pair: distinct word-`n`-gram set sizes, shared-gram count, Jaccard,
    * and containment (shared / smaller set — a small source wholly
    * embedded in a big one scores ~1 here while its Jaccard stays tiny).
    * Zero-overlap pairs still emit rows: a curator acts on absence too.
    *
    * Plan shape: per-source DISTINCT shingle sets (one codegen'd
    * [[graft.expressions.ShingleHashes]] pass + hash aggregate on 8-byte
    * hashes — the text never shuffles), a shingle-keyed a<b self-join
    * whose per-key fan-out is bounded by #sources (the input is distinct
    * (source, shingle)), and a broadcast pair spine from the tiny
    * per-source size aggregate. Output is #sources² rows — trivial at
    * any corpus scale; the only data-sized costs are the two scans'
    * shuffles of (source, hash) pairs.
    */
  def sourceOverlap(docs: DataFrame, n: Int = 3,
                    sourceCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    // Materialized once (same pattern as dedupClusters' edge list): the
    // distinct (source, shingle) frame — the most expensive subtree — is
    // read three times below (sizes + both sides of the self-join); an
    // unmaterialized plan would re-run the full-corpus shingle scan each
    // time.
    val sets = docs.select(col(sourceCol).as("source"),
        explode(Fns.callGraft("graft_shingles", col(textCol), lit(n)))
          .as("shingle"))
      .distinct()
      .localCheckpoint()
    val sizes = sets.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = sets.as("a").join(sets.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared"))
    val spine = sizes.as("x").join(broadcast(sizes.as("y")),
        col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
        col("x.n").as("n_a"), col("y.n").as("n_b"))
    spine.join(shared, Seq("source_a", "source_b"), "left")
      .withColumn("shared", coalesce(col("shared"), lit(0L)))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("shared"),
        graft.functions.Fns.q6(col("shared").cast("double")
          / (col("n_a") + col("n_b") - col("shared"))).as("jaccard"),
        graft.functions.Fns.q6(col("shared").cast("double")
          / least(col("n_a"), col("n_b"))).as("containment"))
  }

  /** Per-cluster survivor selection — the step after cluster resolution in
    * every dedup pipeline: of each near-dup cluster keep the single best
    * document by a quality score (longest, highest-quality-model score,
    * freshest…), ties broken by id so the choice is total and
    * reproducible. One window shuffle keyed by cluster_id; the rank and
    * the member count share the same partition, so it costs one exchange.
    */
  def keepBest(clusters: DataFrame, quality: DataFrame, scoreCol: String,
               idCol: String = "doc_id"): DataFrame = {
    val byCluster = Window.partitionBy(col("cluster_id"))
    // LEFT join: members missing from the quality frame must still count
    // toward n_members and a fully-unscored cluster must still keep one
    // member — NULL scores rank last, ids break the tie.
    val joined = clusters.join(quality, Seq(idCol), "left")
    joined
      .withColumn("__rk", row_number().over(
        byCluster.orderBy(col(scoreCol).desc_nulls_last, col(idCol).asc)))
      .withColumn("n_members", count(lit(1)).over(byCluster).cast("long"))
      .filter(col("__rk") === 1)
      .select(col("cluster_id"), col(idCol).as("keep_id"), col("n_members"),
        col(scoreCol).as("best_score"))
  }

  /** Embedding-cosine near-duplicate pairs (exact, all-pairs). The quadratic
    * join is the verifier / small-N path; at corpus scale use
    * [[embeddingNearDupPairsLsh]], which routes through
    * [[graft.operators.Similarity.lshBuckets]] and verifies within buckets.
    */
  def embeddingNearDupPairs(embeddings: DataFrame, threshold: Double,
                            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = embeddings.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        Fns.cosine(col("a.v"), col("b.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Per-source exact-duplication report — the procurement-facing rollup
    * of [[exactByDigest]]: for each source, how many documents it ships
    * vs how many distinct payloads, and the duplication rate. The
    * "which feed is redundant / stop buying this crawl" summary that
    * runs before any doc-level dedup decision.
    *
    * Scale shape: one hash aggregate per source key; the distinct rides
    * md5 digests (16 bytes in-flight per doc, never the payload — the
    * same reason exactByDigest exists). Output is one row per source.
    */
  def sourceDupReport(docs: DataFrame, srcCol: String = "source",
                      textCol: String = "text"): DataFrame =
    docs.select(col(srcCol).as("source"), md5(col(textCol)).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("h")).as("n_unique"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        graft.functions.Fns.q6(lit(1.0) - col("n_unique").cast("double") / col("n_docs"))
          .as("dup_rate"))

  /** SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): coarse-cluster the corpus, then mark as duplicate
    * every vector with a higher-priority (lower-id) cluster-mate at
    * cosine ≥ `threshold`. The point of the clustering is the quadratic
    * term: candidate pairs are Σ cluster_size² instead of N² — so k must
    * GROW with the corpus (a pinned k leaves n²/k, which round-18's
    * second scale decade measured at 62× for 10× data). [[semanticK]]
    * is the recommended schedule (k ≈ √(n/31.25), balancing assignment
    * against pair verification at ~n^1.5; the registered queries use
    * it); the within-cluster verification stays embarrassingly parallel
    * (it is keyed on cid; a pathologically hot cluster is AQE
    * skew-split like any hot join key).
    *
    * Dedup rule (deterministic, one pass): a vector is dropped iff ANY
    * lower-id vector in its cluster is within the threshold — the
    * conservative over-drop variant of the paper's sequential greedy
    * scan (on a chain a<b<c with cos(a,b) ≥ t, cos(b,c) ≥ t but
    * cos(a,c) < t it drops c where greedy would keep it). One self-join
    * instead of an inherently sequential loop; for dedup the bias is
    * the safe direction (never keeps two vectors within the threshold
    * of each other... and never drops a cluster's lowest id).
    *
    * Clustering is [[graft.operators.Similarity.assignToSeeds]] (argmin-L2
    * to the k lowest-id seed vectors — deterministic); swap in however
    * many [[graft.operators.Similarity.kmeansIterate]] rounds before it
    * for production centroids. Returns every vector with its cluster and
    * verdict: (vec_id, cluster_id, kept).
    */
  /** Scale-aware seed count for [[semanticDedup]] / [[cosineThresholdSweep]]:
    * the smallest k ≥ 8 with 125·k² ≥ 4·n — i.e. k ≈ √(n/31.25), expected
    * cluster size ≈ √(31.25·n). With a FIXED k the within-cluster pair
    * term is Σ size² ≈ n²/k — genuinely quadratic, which round-18's
    * second scale decade measured directly (dedup_threshold_sweep 62×
    * for 10× data at k=8, SCALE.md round-18); the √n schedule balances
    * the n·d·k assignment join against the n²/k pair term at ~n^1.5
    * total, the classic IVF operating point. At the committed fixtures
    * nothing moves: n = 500 and n = 2000 both land exactly on k = 8
    * (125·8² = 8000 = 4·2000), so every existing oracle/spec value is
    * unchanged and the schedule only engages beyond sf0.1.
    *
    * Integer-exact in both engines (the srpAutoPlanes precedent): a
    * float sqrt only SEEDS the search, the verdict 125·k² ≥ 4·n is
    * BIGINT arithmetic, mirrored verbatim in the oracle CTE. Loud
    * beyond n ≈ 2.3×10¹⁵ vectors where 125·k² would overflow a BIGINT
    * (ANSI/DuckDB both throw rather than under-cluster).
    */
  def semanticK(n: Long): Int = {
    require(n >= 0, s"need n >= 0, got $n")
    require(n < 2300000000000000L,
      s"semanticK domain is < 2.3e15 vectors (BIGINT 125*k*k), got $n")
    var k = math.max(8L, math.floor(math.sqrt(4.0 * n / 125)).toLong - 1)
    while (!(k >= 8 && 125 * k * k >= 4 * n)) k += 1 // <= 3 steps from the seed
    k.toInt
  }

  def semanticDedup(embeddings: DataFrame, k: Int, threshold: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(threshold > 0 && threshold <= 1, s"need threshold in (0,1], got $threshold")
    val assign = Similarity.assignToSeeds(embeddings, k, idCol, vecCol)
    semanticDropPass(clusteredVectors(embeddings, assign, idCol, vecCol), threshold)
  }

  /** (vec_id, v, cid) join of a corpus with its cluster assignment — the
    * shared input shape of [[semanticDropPass]] / [[sweepPairCosines]].
    */
  private def clusteredVectors(embeddings: DataFrame, assign: DataFrame,
                               idCol: String, vecCol: String): DataFrame =
    embeddings
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
      .join(assign, "vec_id")

  /** The SemDeDup one-pass drop rule over clustered vectors `v`
    * (vec_id, v, cid): a vector is dropped iff ANY lower-id cluster-mate
    * sits at cosine ≥ `threshold`. Shared verbatim by the derived-k and
    * capped modes — the mode is entirely a clustering choice.
    */
  private def semanticDropPass(v: DataFrame, threshold: Double): DataFrame = {
    // NULL cosine (zero-norm vector) fails the >= filter, so zero vectors
    // never mark anything (nor each other) as duplicates.
    val dups = v.as("a").join(v.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .filter(Fns.cosine(col("a.v"), col("b.v")) >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("__dup", lit(1))
    v.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").cast("long").as("cluster_id"),
        col("__dup").isNull.as("kept"))
  }

  /** Threshold-calibration sweep for [[semanticDedup]]: how many
    * within-cluster pairs would count as near-duplicates at EACH
    * candidate threshold — the report you run before committing a dedup
    * threshold, because the kept-corpus size is brutally sensitive to it
    * and re-running the full dedup per candidate wastes the (dominant)
    * pair-generation pass. One pass: the cluster-scoped pair cosines are
    * computed once (identical join shape and cost to [[semanticDedup]] —
    * bounded by Σ cluster_size², never N²), then every pair folds into
    * per-threshold counters via one unpivoted aggregate. Cosines are
    * 6-dp-rounded before comparison and NULL (zero-norm) cosines match
    * no threshold, mirroring the dedup's own boundary behavior.
    */
  def cosineThresholdSweep(embeddings: DataFrame, k: Int, thresholds: Seq[Double],
                           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(thresholds.nonEmpty, "need at least one threshold")
    val assign = Similarity.assignToSeeds(embeddings, k, idCol, vecCol)
    sweepTail(clusteredVectors(embeddings, assign, idCol, vecCol), thresholds)
  }

  /** The one-pass per-threshold pair counters over clustered vectors —
    * shared by the derived-k and capped sweep modes.
    */
  private def sweepTail(v: DataFrame, thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val cos = v.as("a").join(v.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(round(Fns.cosine(col("a.v"), col("b.v")), 6).as("cos"))
    val counters = thresholds.sorted.map(t =>
      sum(when(col("cos") >= t, 1L).otherwise(0L)).as(f"n_$t%.2f"))
    val wide = cos.agg(counters.head, counters.tail: _*)
    val stacked = thresholds.sorted.map(t =>
      s"CAST($t AS DOUBLE), `${f"n_$t%.2f"}`").mkString(", ")
    wide.selectExpr(
      s"stack(${thresholds.size}, $stacked) AS (threshold, n_pairs)")
  }

  /** Seed predicate of the CAPPED (linear) semantic-dedup mode: a vector
    * seeds a cluster iff samplingHash(id) ≡ 0 (mod targetClusterSize) —
    * a pure per-row filter, so the seed SET needs no global sort/limit
    * (the lowest-id seeding of [[semanticDedup]] rides `LIMIT k`, which
    * funnels k rows through one partition — fine for k = O(√n), a
    * bottleneck once k ∝ n). Expected seed count n/C for dense OR sparse
    * ids; the multiplicative hash decorrelates the choice from id order.
    */
  private def cappedSeedPred(id: Column, targetClusterSize: Int): Column =
    pmod(Sampling.samplingHash(id), lit(targetClusterSize.toLong)) === 0

  /** CAPPED-cluster assignment — the ~linear step past [[semanticK]]'s
    * ~n^1.5 IVF operating point (SCALE.md round-18 named it; this builds
    * it): k ∝ n hash-chosen seeds (expected cluster size = the CONSTANT
    * `targetClusterSize`), and because a k ∝ n seed set can neither be
    * broadcast nor crossJoined, vectors find their seed by ANN — the
    * existing SRP bucketing ([[Similarity.lshBuckets]]) applied to seeds
    * and corpus alike, with the plane count derived from the SEED count
    * ([[Similarity.srpAutoPlanes]]) so expected seeds-per-bucket stays
    * ~32 at any scale. Per vector: O(nTables·32) candidate seeds, one
    * exact L2 argmin (d2 via the fused-dot identity ‖q‖²+‖c‖²−2q·c —
    * per-pair accumulation order identical in both engines, the TwoNN
    * oracle precedent), ties to the lower seed id. A vector sharing no
    * bucket with any seed becomes its own singleton cluster (cid = own
    * id) — deterministic, and for dedup the safe direction (singletons
    * are always kept). Every stage is a hash shuffle keyed on
    * (tbl, bucket) or id: total work ~n·(nTables·32)·dim — LINEAR in n
    * where the derived-k mode's assignment join is n·d·k ≈ n^1.5.
    *
    * A hot seed can exceed the target size (nearest-seed assignment has
    * no hard cap); expected size is C and a pathological cluster is AQE
    * skew-split like any hot join key — same posture as [[semanticDedup]].
    * Returns (vec_id, cid).
    */
  private[operators] def cappedAssign(embeddings: DataFrame, dim: Int,
                                      targetClusterSize: Int, nTables: Int,
                                      idCol: String, vecCol: String): DataFrame = {
    require(targetClusterSize >= 1, s"need targetClusterSize >= 1, got $targetClusterSize")
    require(nTables >= 1, s"need nTables >= 1, got $nTables")
    // One scalar job: the seed count drives the SRP plane schedule (the
    // srpAutoPlanes statistics-driven dispatch). Seeds-per-bucket ~32.
    val kActual = embeddings.filter(cappedSeedPred(col(idCol), targetClusterSize)).count()
    val np = Similarity.srpAutoPlanes(kActual)
    // Bucket the corpus ONCE; the seed side is the same frame re-filtered
    // by the pure predicate — no join, no second corpus pass.
    val b = Similarity.lshBuckets(embeddings, dim, np, nTables, 42L, idCol, vecCol)
    val sb = b.filter(cappedSeedPred(col("id"), targetClusterSize))
    val cand = b.as("q").join(sb.as("c"),
        col("q.tbl") === col("c.tbl") && col("q.bucket") === col("c.bucket"))
      .select(col("q.id").as("vec_id"), col("c.id").as("cid"),
        col("q.v").as("qv"), col("c.v").as("cv"))
      .dropDuplicates("vec_id", "cid") // multi-table collisions carry identical vectors
    val w = Window.partitionBy("vec_id").orderBy(col("d2").asc, col("cid").asc)
    val best = cand
      .withColumn("d2", Fns.dotProduct(col("qv"), col("qv")) +
        Fns.dotProduct(col("cv"), col("cv")) -
        lit(2.0) * Fns.dotProduct(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"))
    embeddings.select(col(idCol).as("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("cid"), col("vec_id")).as("cid"))
  }

  /** [[semanticDedup]] in the CAPPED (linear) mode: [[cappedAssign]]
    * clustering (k ∝ n, constant expected cluster size, ANN seed lookup)
    * followed by the IDENTICAL drop pass. Within-cluster pair work is
    * Σ size² ≈ n·targetClusterSize — linear, vs the derived-k mode's
    * ~n^1.5 — at the price of ANN-approximate cluster membership (a
    * vector whose true near-dup sits in a different bucket keeps both;
    * LSH misses only ever UNDER-drop, never corrupt). The registered
    * default (targetClusterSize 125, 4 tables) matches the derived-k
    * fixtures' expected cluster scale so the two modes are comparable
    * on the same corpus.
    */
  def semanticDedupCapped(embeddings: DataFrame, threshold: Double, dim: Int = 64,
                          targetClusterSize: Int = 125, nTables: Int = 4,
                          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"need threshold in (0,1], got $threshold")
    val assign = cappedAssign(embeddings, dim, targetClusterSize, nTables, idCol, vecCol)
    semanticDropPass(clusteredVectors(embeddings, assign, idCol, vecCol), threshold)
  }

  /** [[cosineThresholdSweep]] in the CAPPED (linear) mode — the
    * calibration must sweep the clustering the capped dedup will
    * actually run, so it shares [[cappedAssign]] verbatim.
    */
  def cosineThresholdSweepCapped(embeddings: DataFrame, thresholds: Seq[Double],
                                 dim: Int = 64, targetClusterSize: Int = 125,
                                 nTables: Int = 4, idCol: String = "vec_id",
                                 vecCol: String = "embedding"): DataFrame = {
    val assign = cappedAssign(embeddings, dim, targetClusterSize, nTables, idCol, vecCol)
    sweepTail(clusteredVectors(embeddings, assign, idCol, vecCol), thresholds)
  }

  /** Embedding-cosine near-dup pairs at scale: SRP-LSH bucketing via
    * [[graft.operators.Similarity.lshBuckets]] over `nTables` hash tables,
    * within-(table, bucket) self-join for candidates, exact codegen'd
    * cosine verification, union-dedup across tables. Every stage is a hash
    * shuffle keyed by (tbl, bucket) or (id_a, id_b) — no all-pairs join
    * anywhere, so the O(N²) of [[embeddingNearDupPairs]] becomes
    * O(N²·nTables/2^nPlanes) bucket-local work that spreads across
    * executors.
    *
    * Recall: a pair at angle θ shares one table's bucket with probability
    * (1 − θ/π)^nPlanes, so the miss probability over nTables independent
    * tables is (1 − (1 − θ/π)^nPlanes)^nTables. At the WORST case this
    * operator targets — pairs sitting exactly on a 0.95 threshold
    * (θ/π ≈ 0.101) — the defaults give per-pair miss ≈ 3.4e-2; recall
    * rises steeply above the boundary (cos 0.99 → miss ≈ 8e-4) and can be
    * driven down with more tables. MEASURED, not just argued:
    * SimilaritySpec plants 200 twins at cosines 0.951–0.960 in the
    * 2000-vector sf0.1 corpus and asserts ≥ 0.92 recall vs the exact
    * join. Like all LSH, it is NOT a substitute for the
    * exact join at low thresholds (θ near π/2): there (1 − θ/π)^nPlanes
    * offers no separation and the honest scale path is a block-partitioned
    * exact join. Vectors ride along in the bucket rows so verification
    * needs no join back to the corpus (candidate rows are rare by
    * construction; duplicating 8·dim bytes per collision beats a second
    * corpus shuffle).
    */
  def embeddingNearDupPairsLsh(embeddings: DataFrame, threshold: Double, dim: Int,
                               nPlanes: Int = 8, nTables: Int = 6, seed: Long = 42L,
                               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = Similarity.lshBuckets(embeddings, dim, nPlanes, nTables, seed, idCol, vecCol)
    // Cosine + threshold BEFORE the cross-table dedup: the verify is one
    // fused codegen'd expression per collision row, so re-evaluating it
    // for a pair that collides in several tables is far cheaper than
    // dragging both 8·dim-byte vectors through the dedup shuffle — after
    // the filter, only genuine near-dup rows (id_a, id_b, cosine) ride
    // the final exchange. Colliding rows of one pair carry an identical
    // cosine, so dropDuplicates stays deterministic.
    b.as("a").join(b.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        Fns.cosine(col("a.v"), col("b.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  private val P31L = 2147483647L

  /** Distinct (doc_id, shingle) plus `h64 = xxhash64(shingle)`: the
    * string column feeds the oracle-mirrorable 31-bit MinHash, the
    * 64-bit hash is the JOIN key of [[exactJaccardPairs]] — shuffling
    * 8-byte longs instead of shingle strings (the dedup_edit_distance
    * precedent: identical pair sets modulo ~|shingles|²/2⁶⁵ collisions,
    * fixture-verified exactly by the parity gate).
    */
  private def ansiShingles(docs: DataFrame, textCol: String,
                           idCol: String): DataFrame =
    docs
      // token array materialized as an attribute FIRST (Project barrier
      // under the Generate): nesting tokens() inside shingles() re-runs
      // the split per lambda element — measured 6.2 → 0.9 s at sf0.1
      .select(col(idCol).as("doc_id"), Fns.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), explode(Fns.shingles(col("toks"), 3)).as("shingle"))
      .distinct()
      .withColumn("h64", xxhash64(col("shingle")))

  /** 16-permutation ANSI MinHash signature (doc_id, sig[16]): affine
    * maps of the polynomial shingle hash, Sketch.cmsBucket's constant
    * convention — every value an oracle can rebuild. The 16 register
    * mins are WIDE aggregate columns of ONE doc-keyed groupBy (the
    * permutation index is a compile-time constant, so each affine map is
    * its own codegen'd min with map-side combine) — the earlier
    * 16-way row explode shuffled 16× the shingle rows to reach the same
    * 16 values (measured 5.8 → 4.4 s at sf0.1 on the curve card).
    */
  private def ansiMinhashSig(sh: DataFrame): DataFrame = {
    val aggs = (0 until 16).map { p =>
      val a = (1103515245L * (p + 1)) % P31L // both positive: % == pmod
      val b = (12345L * (p + 1)) % P31L
      min(Fns.pmod(col("x") * lit(a) + lit(b), lit(P31L))).as(s"m$p")
    }
    sh.select(col("doc_id"),
        Fns.callGraft("graft_strhash", col("shingle")).as("x"))
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until 16).map(p => col(s"m$p")): _*).as("sig"))
  }

  /** Exact trigram Jaccard for every pair sharing ≥ 1 shingle, via the
    * inverted-index join — the shared verify-scale population of the
    * MinHash calibration cards. Output: (da, db, j) with j 6-dp.
    */
  private def exactJaccardPairs(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"),
        col("a.h64") === col("b.h64") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("ni"))
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .select(col("da"), col("db"),
        graft.functions.Fns.q6(col("ni").cast("double") /
          (col("na") + col("nb") - col("ni")).cast("double")).as("j"))
  }

  /** LSH banding calibration card: the MEASURED candidate rate per
    * trigram-Jaccard bucket next to the theoretical S-curve
    * 1 − (1 − s^r)^b — the tuning table that answers "will (b, r) catch
    * my 0.7-similar pairs and skip my 0.2s" BEFORE a petabyte dedup run
    * commits to a banding. Uses a fully ANSI-expressible MinHash
    * (per-permutation affine maps of the polynomial shingle hash — the
    * [[Sketch.cmsBucket]] constant convention) so the oracle rebuilds
    * the signatures, bands, and candidates bit-for-bit: the curve is
    * verified, not eyeballed.
    *
    * Fixed b = 8 bands × r = 2 rows (16 permutations): theory
    * 1 − (1 − s²)⁸ evaluates by squaring alone (y², y⁴, y⁸) — no `pow`,
    * so both engines produce the identical double. Population: pairs
    * sharing ≥ 1 shingle (disjoint pairs have s = 0 and, with these
    * exact-equality bands, candidate probability 0 — nothing to
    * calibrate). Scale shape: signatures are one map-side-combined
    * (doc, perm) min over the shingle×16 stream; candidates come from
    * the banded equi-self-join; the exact-Jaccard verifier is the
    * inverted-index join ([[ngramJaccardPairs]]'s cost class, the
    * verify-scale baseline).
    */
  def lshCalibrationCurve(docs: DataFrame, textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    val P31 = P31L
    // lazy checkpoint: the distinct shingle table feeds FOUR plan
    // branches (signatures, both self-join sides, sizes) — uncut, each
    // re-tokenizes the corpus (measured ~3 s of redundant scan at sf0.1)
    val sh = ansiShingles(docs, textCol, idCol).localCheckpoint(false)
    val sig = ansiMinhashSig(sh)
    // 8 bands of 2 registers; band key from the wide signature directly
    // (element_at is 1-based) — an 8-per-doc explode, not a re-aggregate
    val bandKeys = sig.select(col("doc_id"),
        explode(array((0 until 8).map { b =>
          struct(lit(b.toLong).as("band"),
            Fns.pmod(element_at(col("sig"), 2 * b + 1) * 131L +
              element_at(col("sig"), 2 * b + 2), lit(P31)).as("bkey"))
        }: _*)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bkey").as("bkey"))
    val cand = bandKeys.as("a").join(bandKeys.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
      .withColumn("is_cand", lit(1L))
    val scored = exactJaccardPairs(sh)
      .join(cand, Seq("da", "db"), "left")
    val bucket = least(floor(col("j") * 10.0), lit(9.0)).cast("long")
    val sMid = (col("bucket").cast("double") + 0.5) / 10.0
    val y = lit(1.0) - sMid * sMid
    val y8 = (y * y) * (y * y) * ((y * y) * (y * y))
    scored.select(bucket.as("bucket"),
        coalesce(col("is_cand"), lit(0L)).as("c"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"), sum(col("c")).as("n_candidates"))
      .select(col("bucket"), round(sMid, 2).as("s_mid"),
        col("n_pairs"), col("n_candidates"),
        graft.functions.Fns.q6(col("n_candidates").cast("double") /
          col("n_pairs").cast("double")).as("measured_rate"),
        round(lit(1.0) - y8, 6).as("theoretical_rate"))
  }

  /** MinHash estimator-quality card: for every pair sharing ≥ 1 shingle,
    * the 16-permutation signature-agreement estimate ĵ = #{p : mᵃ_p =
    * mᵇ_p}/16 against the exact trigram Jaccard, reported per exact-j
    * decile as bias and RMSE — "how many permutations does MY corpus
    * need" answered with data (the textbook says sd = √(j(1−j)/16); this
    * measures it). Same signatures, population, and scale shape as
    * [[lshCalibrationCurve]]; the per-pair agreement count is one
    * (pair)-keyed aggregate over the p-aligned signature join.
    */
  def minhashEstimatorCard(docs: DataFrame, textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    // same four-branch reuse as lshCalibrationCurve — checkpoint once
    val sh = ansiShingles(docs, textCol, idCol).localCheckpoint(false)
    val pairs = exactJaccardPairs(sh)
    // signatures arrive as 16-long arrays straight from the wide
    // aggregate: the pair side joins the N-row signature table twice on
    // the doc key. The agreement count is an UNROLLED 16-term sum of
    // element_at comparisons — p is a compile-time constant, so the
    // whole expression codegens; the zip_with+aggregate lambda chain it
    // replaces ran interpreted over pairs·16 values (the SCALE.md
    // HOF-composition rule). At sf0.1 the card is dominated by the
    // Σdf² exact-Jaccard join, so the measured win is modest (~8%
    // summed task time); the interpreted-eval share grows with pair
    // count, i.e. with scale. Identical counts by construction.
    val sigArr = ansiMinhashSig(sh)
    val agree = (1 to 16).map { p =>
      when(element_at(col("sa"), p) === element_at(col("sb"), p), 1L)
        .otherwise(0L)
    }.reduce(_ + _)
    val est = pairs
      .join(sigArr.select(col("doc_id").as("da"), col("sig").as("sa")), "da")
      .join(sigArr.select(col("doc_id").as("db"), col("sig").as("sb")), "db")
      .select(col("j"),
        round(agree.cast("double") / 16.0, 6).as("est"))
    val bucket = least(floor(col("j") * 10.0), lit(9.0)).cast("long")
    est.select(bucket.as("bucket"), col("j"), col("est"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum(Fns.q6(col("est") - col("j")).cast("decimal(18,6)"))
          .as("sbias"),
        sum(Fns.q9((col("est") - col("j")) * (col("est") - col("j")))
          .cast("decimal(28,9)")).as("se2"))
      .select(col("bucket"), col("n_pairs"),
        graft.functions.Fns.q6(col("sbias").cast("double") / col("n_pairs"))
          .as("mean_bias"),
        Fns.q6(sqrt(col("se2").cast("double") /
          col("n_pairs").cast("double"))).as("rmse"))
  }

  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2003, public literature) — the GUARANTEED-detection fingerprint
    * family beside MinHash (probabilistic): slide a w-window over the
    * k-gram hash sequence and record each window's minimum (ties → the
    * RIGHTMOST position, the paper's robust-winnowing rule); any shared
    * substring of length ≥ w+k−1 tokens between two documents is then
    * certain to share a fingerprint — the property MinHash cannot give
    * and the reason plagiarism/verbatim-reuse detection uses winnowing.
    * This card emits the per-doc selection profile (fingerprint count
    * and density, expected ≈ 2/(w+1)); the fingerprints feed the same
    * hash-join pair machinery as the MinHash band buckets.
    *
    * Hashes are the ANSI-expressible 31-bit shingle polynomial
    * ([[graft.expressions.ShingleUtil.tokenHash31]]) so the oracle
    * reproduces every selection bit-for-bit. Shape: one shingle
    * generate + hash, a w-factor position explode (w is 4 — constant),
    * a (doc, window)-keyed argmin window, one distinct + count — all
    * doc-partitioned, linear in tokens·w. Documents shorter than k
    * tokens emit no row; shorter than w+k−1 have no full window and
    * report 0 fingerprints.
    */
  def winnowingFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(w >= 1, s"need w >= 1, got $w")
    def d6(c: org.apache.spark.sql.Column) =
      graft.functions.Fns.q6(c)
    val mx = shingleHashPositions(docs, k, idCol, textCol).groupBy("doc_id")
      .agg(max("pos").as("mx"), count(lit(1)).as("n_grams"))
    val fp = winnowingSelections(docs, k, w, idCol, textCol)
      .groupBy("doc_id").agg(count(lit(1)).as("n_fingerprints"))
    mx.join(fp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        greatest(col("n_grams") - (w - 1), lit(0L)).as("n_windows"),
        coalesce(col("n_fingerprints"), lit(0L)).as("n_fingerprints"),
        d6(try_divide(
          coalesce(col("n_fingerprints"), lit(0L)).cast("double"),
          greatest(col("n_grams") - (w - 1), lit(0L)).cast("double")))
          .as("density"))
  }

  /** The winnowing SELECTION SET itself — `(doc_id, pos, h)` of every
    * recorded fingerprint ([[winnowingFingerprints]] is its count
    * profile; pair generation hash-joins this on `h` exactly like the
    * MinHash band buckets). Public so the detection guarantee (shared
    * ≥ w+k−1-token run ⇒ shared fingerprint) is testable directly.
    */
  def winnowingSelections(docs: DataFrame, k: Int = 3, w: Int = 4,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(w >= 1, s"need w >= 1, got $w")
    val hs = shingleHashPositions(docs, k, idCol, textCol)
    val mx = hs.groupBy("doc_id").agg(max("pos").as("mx"))
    val wnd = hs.join(mx, "doc_id")
      .select(col("doc_id"), col("pos"), col("h"),
        explode(sequence(col("pos"),
          least(col("pos") + (w - 1), col("mx")))).as("e"))
      .filter(col("e") >= (w - 1))
    val winW = Window.partitionBy("doc_id", "e")
      .orderBy(col("h").asc, col("pos").desc)
    wnd.withColumn("rn", row_number().over(winW))
      .filter(col("rn") === 1).select("doc_id", "pos", "h").distinct()
  }

  private def shingleHashPositions(docs: DataFrame, k: Int, idCol: String,
                                   textCol: String): DataFrame =
    // graft_shingles31: ONE codegen pass emits the positioned 131-poly
    // hashes — the interpreted Fns.shingles + strhash formulation it
    // replaced cost ~4–6 s per evaluation at sf0.1 (winnowing evaluates
    // this subtree in several plan branches)
    docs.select(col(idCol).as("doc_id"),
        posexplode(Fns.callGraft("graft_shingles31", col(textCol), lit(k)))
          .as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))

  /** Verbatim-reuse candidate pairs from the winnowing fingerprints:
    * documents sharing ≥ `minShared` selected hashes — by the
    * [[winnowingSelections]] guarantee, every pair with a common run of
    * ≥ w+k−1 tokens appears here (MinHash can miss it; this cannot).
    * Fingerprints selected by more than `maxDf` documents are dropped
    * before the join — winnowing's min-rule over-selects globally
    * small hashes, so boilerplate-grade fingerprints would otherwise
    * quadratically dominate the bucket join, exactly the
    * `maxShingleFreq` discipline of [[ngramJaccardPairs]]. Shape: the
    * per-doc fingerprint-set distinct, one df aggregate, a
    * fingerprint-keyed equi-self-join, a pair-keyed count — all hash
    * shuffles, pair volume bounded by Σ df² over df ≤ maxDf.
    */
  def winnowingPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
                     minShared: Long = 2L, maxDf: Long = 20L,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(minShared >= 1, s"need minShared >= 1, got $minShared")
    require(maxDf >= 2, s"need maxDf >= 2, got $maxDf")
    // EAGER checkpoint: the selection set feeds THREE plan branches (the
    // df cap and both join sides) — uncut, each re-runs the full
    // shingle→window→argmin subtree (measured 10.5 s vs ~5 s at sf0.1).
    // Eager, not lazy: the df-cap aggregate is broadcast-sized, and a
    // broadcast subtree racing a lazy checkpoint deadlocks (the
    // dedupClusters note).
    val sel = winnowingSelections(docs, k, w, idCol, textCol)
      .select(col("doc_id"), col("h")).distinct().localCheckpoint()
    val keep = sel.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("h")
    val s2 = sel.join(keep, "h")
    s2.as("a").join(s2.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
