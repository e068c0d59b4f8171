package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Text analysis for training-data pipelines: language-ID (marker-token
  * heuristic), quality scoring, token counting, document fingerprinting.
  * Everything is per-row expression work — embarrassingly parallel, no
  * shuffle at all — so throughput is bounded only by scan speed.
  */
object TextAnalysis {

  /** Marker lexicons, fixed priority order for deterministic argmax
    * tie-breaking (first wins).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es" -> Seq("el", "la", "los", "las", "que", "es", "una", "para"),
    "fr" -> Seq("le", "les", "des", "est", "une", "dans", "pour", "avec"),
    "zh" -> Seq("de5", "shi4", "bu4", "le5", "zai4", "you3", "wo3", "ta1"))

  private def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers.map(lit): _*)))

  /** Heuristic language-ID: count marker tokens per language, pick the
    * highest-scoring language (priority order breaks ties; 'und' when no
    * marker hits at all).
    */
  def langId(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = Fns.tokens(col(textCol))
    val scored = docs.select((col(idCol).as("doc_id") +:
      langMarkers.map { case (lang, m) =>
        markerCount(toks, m).cast("long").as(s"s_$lang") }): _*)
    // argmax with fixed priority: lang_i wins iff s_i > all earlier and >= all later.
    val langs = langMarkers.map(_._1)
    val best = langs.zipWithIndex.foldRight(lit("und")) { case ((lang, i), elseCol) =>
      val s = col(s"s_$lang")
      val beatsEarlier = langs.take(i).map(l => s > col(s"s_$l"))
      val beatsLater = langs.drop(i + 1).map(l => s >= col(s"s_$l"))
      val cond = (beatsEarlier ++ beatsLater :+ (s > 0))
        .reduce((a: Column, b: Column) => a && b)
      when(cond, lit(lang)).otherwise(elseCol)
    }
    scored.select((col("doc_id") +: langs.map(l => col(s"s_$l"))) :+ best.as("lang_pred"): _*)
  }

  /** Confusion matrix of [[langId]] against a labeled language column —
    * the eval card that turns the heuristic into a MEASURED component:
    * per (labeled, predicted) pair the count plus its share of the
    * labeled language (the row-normalized recall view; the diagonal is
    * per-language recall). Run it whenever markers change or a new
    * corpus arrives — a quality gate keyed on lang_pred is only as good
    * as these numbers.
    *
    * Cost: the langId scan plus one doc-keyed equi-join against the
    * labels and two small aggregates (output ≤ langs²). Shares are
    * exact-integer divisions, 6-dp-routed.
    */
  def langIdEval(docs: DataFrame, langCol: String = "lang",
                 textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    val pred = langId(docs, textCol, idCol)
      .select(col("doc_id"), col("lang_pred"))
    val conf = docs
      .select(col(idCol).as("doc_id"), col(langCol).as("lang_true"))
      .join(pred, "doc_id")
      .groupBy("lang_true", "lang_pred").agg(count(lit(1)).as("n"))
    val tot = conf.groupBy("lang_true").agg(sum(col("n")).as("t"))
    conf.join(tot, "lang_true")
      .select(col("lang_true"), col("lang_pred"), col("n"),
        Fns.q6(col("n").cast("double") / col("t").cast("double"))
          .as("frac_of_true"))
  }

  /** Deterministic MLM masking plan (BERT-style): select ~`maskFrac` of
    * token positions by a reproducible (doc, pos) hash and assign each
    * the 80/10/10 action split — `[MASK]`, a pseudo-random vocabulary
    * replacement, or keep-original — all decided by hash arithmetic so
    * every run, engine, and partitioning produces the SAME masking plan
    * (a `rand()` plan is neither reproducible nor auditable; this one
    * can be joined back for loss-position bookkeeping).
    *
    * Scale shape: one narrow posexplode scan (no shuffle for the
    * selection — the hash is per-row), the top-`maxVocab` replacement
    * table packed into ONE broadcast row. Output is the masked-position
    * plan (~15% of tokens), not the rewritten corpus — join it to apply.
    */
  def mlmMasking(docs: DataFrame, maskFrac: Double = 0.15,
                 maxVocab: Int = 200, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    require(maskFrac > 0 && maskFrac <= 1, s"bad maskFrac $maskFrac")
    val toks = docs.select(col(idCol).as("doc_id"),
        posexplode(Fns.tokens(col(textCol))).as(Seq("pos", "token")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
    // TWO hash rounds — scatter the doc, then the position. A single
    // affine round (doc·c + pos)·K is linear in both inputs, so
    // neighboring docs would mask nearly the SAME positions (measured:
    // docs 1 and 2 select identical position sets under one round).
    val h = Sampling.samplingHash(Sampling.samplingHash(col("doc_id")) + col("pos"))
    val cut = Sampling.splitCut(maskFrac)
    val vocabArr = vocabulary(docs, maxVocab, textCol, idCol)
      .agg(transform(array_sort(collect_list(
          struct(col("term_id"), col("term")))),
        s => s.getField("term")).as("vocab"))
    val hm = pmod(col("h"), lit(10L))
    toks.withColumn("h", h).filter(col("h") < cut)
      .crossJoin(broadcast(vocabArr))
      .select(col("doc_id"), col("pos"), col("token"),
        when(hm < 8L, lit("mask")).when(hm === 8L, lit("random"))
          .otherwise(lit("keep")).as("action"),
        when(hm < 8L, lit("[MASK]"))
          .when(hm === 8L, element_at(col("vocab"),
            (pmod(expr("h div 10"), size(col("vocab")).cast("long")) + 1L)
              .cast("int")))
          .otherwise(col("token")).as("replacement"))
  }

  /** Quality metrics: token counts, distinct ratio, average token length,
    * stopword ratio. All ratios are single exact-integer divisions →
    * bit-identical across engines.
    */
  val stopwords: Seq[String] =
    Seq("the", "and", "of", "to", "in", "a", "is", "it", "for", "on")

  def quality(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = Fns.tokens(col(textCol))
    // Counts are cast to long: the semantic type at corpus scale, and the
    // natural BIGINT the DuckDB oracle produces.
    docs.select(
      col(idCol).as("doc_id"),
      length(col(textCol)).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      (aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(toks)).as("avg_token_len"),
      (markerCount(toks, stopwords).cast("double") / size(toks)).as("stopword_ratio"),
      (size(array_distinct(toks)).cast("double") / size(toks)).as("distinct_ratio"))
  }

  /** BPE-ish segmentation regex: letter runs, digit runs, punctuation
    * runs. Deliberately ASCII-class-based so Java regex (Spark) and RE2
    * (DuckDB oracle) agree exactly.
    */
  val subwordPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"

  /** Token counting: whitespace tokens, a BPE-ish subword-regex count,
    * and the ceil(chars/4) estimate (the "~4 chars per token" rule).
    */
  def tokenCounts(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = Fns.tokens(col(textCol))
    docs.select(
      col(idCol).as("doc_id"),
      size(toks).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col(textCol), lit(subwordPattern), lit(0)))
        .cast("long").as("n_subwords"),
      aggregate(toks, lit(0L), (acc, t) => acc + floor((length(t) + 3) / 4.0))
        .as("n_bpe_est"))
  }

  /** Repetition scoring (the Gopher/C4-style quality signal): fraction of
    * duplicated word n-grams per document, 1 − distinct/total for n = 2
    * and 3. Distinct counts come from the native `graft_shingles` hash
    * set (64-bit collisions are ~N²/2⁶⁵ — negligible); totals are plain
    * token arithmetic. Pure per-row expressions, no shuffle; ratios are
    * single exact-integer divisions, so the oracle matches bit-for-bit.
    */
  def repetition(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val nToks = size(Fns.tokens(col(textCol))).cast("long")
    def dupRatio(n: Int): Column = {
      val total = greatest(nToks - (n - 1), lit(0L))
      val distinctN = size(Fns.callGraft("graft_shingles", col(textCol), lit(n))).cast("long")
      when(total > 0, lit(1.0) - distinctN.cast("double") / total)
    }
    docs.select(col(idCol).as("doc_id"), nToks.as("n_tokens"),
      dupRatio(2).as("dup2_ratio"), dupRatio(3).as("dup3_ratio"))
  }

  /** Rolling-hash document fingerprint (order-sensitive, unlike the
    * shingle-set dedup keys): Rabin–Karp fold over tokens.
    */
  def fingerprint(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      Fns.rollingFingerprint(Fns.tokens(col(textCol))).as("fingerprint"))

  /** PII-style redaction: URLs then emails replaced with fixed tags
    * (URL first — an address embedded in a URL must not leave a partial
    * match behind). ASCII character classes only, so Java regex (Spark)
    * and RE2 (the DuckDB oracle) agree exactly. Pure per-row expressions,
    * no shuffle — the cheap scrub pass every training corpus runs.
    */
  val urlPattern = "https?://[^ ]+"
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  def scrub(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      regexp_replace(regexp_replace(col(textCol), urlPattern, "<URL>"),
        emailPattern, "<EMAIL>").as("text_scrubbed"))

  /** Canonical text normalization: lowercase, collapse whitespace runs,
    * trim. Pure per-row expressions (narrow, scan-bound); regex classes
    * are ASCII so Java and RE2 agree.
    */
  def normalize(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      trim(regexp_replace(lower(col(textCol)), " +", " ")).as("text_norm"))

  /** Fixed-size token chunking with overlap (the RAG / long-document
    * pretraining splitter): document → chunks of ≤ `chunkLen` whitespace
    * tokens, a new chunk every `chunkLen − overlap` tokens, last chunk
    * truncated. Pure per-row explode — no shuffle, payload-local, so
    * 100 TB chunks at scan parallelism. Chunk k covers tokens
    * [k·step, k·step + chunkLen); k ranges to ⌈(n − chunkLen)/step⌉
    * (min 0), so every token lands in ≥ 1 chunk AND every chunk after
    * the first contributes ≥ 1 token its predecessor didn't — a final
    * chunk that would be a pure suffix of the previous one is skipped
    * (it would systematically duplicate document tails into the corpus).
    */
  def chunk(docs: DataFrame, chunkLen: Int, overlap: Int,
            textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(chunkLen > 0 && overlap >= 0 && overlap < chunkLen,
      s"need 0 <= overlap < chunkLen, got chunkLen=$chunkLen overlap=$overlap")
    val step = chunkLen - overlap
    val kMax = greatest(
      ceil((size(col("toks")) - lit(chunkLen)).cast("double") / step), lit(0L))
    docs
      .select(col(idCol).as("doc_id"), Fns.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), kMax.cast("int")),
          k => concat_ws(" ", slice(col("toks"), k * step + 1, lit(chunkLen))))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col").as("chunk_text"))
  }

  /** Per-document top-k TF-IDF terms — the classic keyword/feature
    * extractor (df-weighted so corpus-wide boilerplate ranks below
    * document-specific vocabulary). Smoothed idf = ln((N+1)/(df+1)).
    *
    * Shuffle shape at corpus scale: one hash shuffle on (doc, term) for
    * the tf counts (map-side partial aggregation absorbs in-document
    * repeats), one much smaller shuffle on term for the df counts, the
    * corpus size N as a broadcast single-row aggregate (no driver
    * action), and the top-k window partitioned by doc — every stage
    * horizontal. Scores are rounded to 6 dp at the edge only; the rank
    * is taken on the raw double (ties broken by term) so ordering never
    * depends on the rounding.
    */
  def tfidfTopK(docs: DataFrame, k: Int,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val terms = docs.select(col(idCol).as("doc_id"),
      explode(Fns.tokens(col(textCol))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"), col("term"),
        col("tf"), col("df"), round(col("tfidf"), 6).as("tfidf"))
  }

  /** Token-budget sequence packing, GLOBAL variant: assign documents (in
    * id order) to training sequences of ~`budget` subword tokens via
    * cumulative token count — seq_id = floor((cumsum − n)/budget), i.e. a
    * document starts a new sequence when the running total crosses the
    * budget.
    *
    * ORACLE-ONLY — the name says so on purpose: the unpartitioned ordered
    * window funnels the whole corpus through a single-partition sort —
    * fine for an sf0.01 correctness dump, wrong at scale. It survives
    * solely as the spec twin of [[packSequencesGlobal]] (the two-level
    * prefix-sum the registered `text_pack` runs, identical output) and of
    * [[packSequencesSharded]] (per-shard equivalence). PlanGuardSpec
    * asserts no registered query plans this window shape.
    */
  def packSequencesGlobalOracleOnly(docs: DataFrame, budget: Int,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = Window.orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val toks = tokenCounts(docs, textCol, idCol).select(col("doc_id"), col("n_subwords"))
    toks.withColumn("cum", sum(col("n_subwords")).over(w))
      .select(col("doc_id"), col("n_subwords"),
        floor((col("cum") - col("n_subwords")) / budget).as("seq_id"))
  }

  /** GLOBAL token-budget packing that scales: the doc_id-ordered running
    * cumsum computed as a two-level distributed prefix-sum instead of the
    * single-partition window above. Level 1 buckets docs by an equal-width
    * split of the [min, max] doc_id range — monotone in doc_id, so bucket
    * order IS global order — and cumsums within each bucket (partitioned
    * window, parallel across executors). Level 2 converts per-bucket token
    * totals into starting offsets with a ≤ buckets² self-join (no window).
    * Output ≡ [[packSequencesGlobalOracleOnly]] (TextAnalysisSpec proves
    * it); this is the registered `text_pack` form. Skewed id ranges skew
    * buckets (correctness unaffected — raise `buckets` or pre-densify
    * ids); [[packSequencesSharded]] remains the form for streams that are
    * independent per language/source anyway.
    */
  def packSequencesGlobal(docs: DataFrame, budget: Int,
                          textCol: String = "text", idCol: String = "doc_id",
                          buckets: Int = 32): DataFrame = {
    val toks = tokenCounts(docs, textCol, idCol).select(col("doc_id"), col("n_subwords"))
    val key = col("doc_id").cast("double")
    val stats = toks.agg(min(key).as("__lo"), max(key).as("__hi"))
    val bucketed = toks.crossJoin(broadcast(stats))
      .withColumn("__bkt",
        when(col("__hi") === col("__lo"), lit(0L)).otherwise(
          floor((key - col("__lo")) * buckets / (col("__hi") - col("__lo") + 1.0))))
      .drop("__lo", "__hi")
    val w = Window.partitionBy(col("__bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = bucketed.withColumn("__cum", sum(col("n_subwords")).over(w))
    val totals = bucketed.groupBy("__bkt").agg(sum(col("n_subwords")).as("__t"))
    val offsets = totals.as("a")
      .join(totals.as("b"), col("b.__bkt") < col("a.__bkt"), "left")
      .groupBy(col("a.__bkt").as("__bkt"))
      .agg(coalesce(sum(col("b.__t")), lit(0L)).as("__off"))
    local.join(broadcast(offsets), "__bkt")
      .select(col("doc_id"), col("n_subwords"),
        floor((col("__off") + col("__cum") - col("n_subwords")) / budget).as("seq_id"))
  }

  /** Token-budget sequence packing, SHARDED (the scale path): the running
    * cumsum window is partitioned by `shardCol` (language, source, a hash
    * bucket — any column training treats as an independent stream), so the
    * pack is one hash shuffle on the shard key and a per-shard sort that
    * parallelizes across executors instead of a global single-partition
    * sort. Sequence ids are per-shard; (shard, seq_id) is the global
    * sequence key. Semantics within a shard are identical to
    * [[packSequencesGlobalOracleOnly]].
    */
  def packSequencesSharded(docs: DataFrame, budget: Int, shardCol: String,
                           textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val toks = docs.select(col(idCol).as("doc_id"), col(shardCol).as("shard"),
      size(regexp_extract_all(col(textCol), lit(subwordPattern), lit(0)))
        .cast("long").as("n_subwords"))
    toks.withColumn("cum", sum(col("n_subwords")).over(w))
      .select(col("doc_id"), col("shard"), col("n_subwords"),
        floor((col("cum") - col("n_subwords")) / budget).as("seq_id"))
  }

  /** Materialize packed training sequences: after [[packSequencesGlobal]]
    * assigns documents to ~`budget`-token sequences, emit one row per
    * sequence with the member texts concatenated in doc order around an
    * `<eos>` separator — the actual bytes a training run streams.
    * One hash shuffle on seq_id; in-sequence order restored with
    * `array_sort ∘ collect_list` (no window).
    */
  def packMaterialize(docs: DataFrame, budget: Int,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    packSequencesGlobal(docs, budget, textCol, idCol)
      .join(docs.select(col(idCol).as("doc_id"), col(textCol).as("__text")), "doc_id")
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_subwords")).as("seq_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("__text")))),
          s => s.getField("__text")), " <eos> ").as("seq_text"))

  /** Hashing-trick bag-of-words vectorizer: every term maps to
    * `strhash(term) mod dim` and the per-document vector is the count in
    * each slot — the fixed-width featurizer that needs NO vocabulary
    * pass, collision-tolerant by design (Weinberger et al.). Output is
    * flattened (doc_id, slot, cnt) with empty slots absent.
    * One narrow explode + one hash shuffle with map-side combine; counts
    * are exact BIGINTs, and the hash is the same `graft_strhash` the CMS
    * oracle rebuilds in ANSI SQL — engine-identical slots.
    */
  def hashingTrickVectors(docs: DataFrame, dim: Int,
                          textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(dim >= 1, s"need dim >= 1, got $dim")
    docs
      .select(col(idCol).as("doc_id"), explode(Fns.tokens(col(textCol))).as("term"))
      .select(col("doc_id"),
        Fns.pmod(Fns.callGraft("graft_strhash", col("term")), lit(dim.toLong)).as("slot"))
      .groupBy("doc_id", "slot").agg(count(lit(1)).as("cnt"))
  }

  /** Frequency-ordered vocabulary: the top `maxVocab` corpus terms with
    * dense ids (0 = most frequent; ties broken by term so the table is a
    * pure function of the corpus) — the id-assignment step of every
    * tokenizer/embedding build.
    *
    * Scale shape: one hash shuffle with map-side combine for the term
    * counts (cardinality = distinct terms, not corpus size), then
    * `orderBy(...).limit(maxVocab)` — Spark plans that as
    * TakeOrderedAndProject (per-partition top-k, no global sort). The id
    * window runs UNPARTITIONED but on ≤ maxVocab rows — the same bounded
    * single-partition exception as the histogram sketch (nBins rows),
    * documented, not a corpus-size sort.
    */
  def vocabulary(docs: DataFrame, maxVocab: Int,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxVocab >= 1, s"need maxVocab >= 1, got $maxVocab")
    val counts = docs
      .select(explode(Fns.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term").asc)
      .limit(maxVocab)
    counts.withColumn("term_id",
        (row_number().over(Window.orderBy(col("freq").desc, col("term").asc)) - 1)
          .cast("long"))
      .select(col("term_id"), col("term"), col("freq"))
  }

  /** BPE merge training: learn the first `nMerges` byte-pair-encoding
    * merges over the corpus — per iteration, count adjacent-token pairs
    * weighted by WORD frequency, merge the most frequent pair (ties →
    * lexicographic) greedily left-to-right in every word, repeat. Output:
    * one row per learned merge (iter, left, right, merged, pair_freq) —
    * the merges.txt a tokenizer ships with.
    *
    * Scale shape — the part that matters at 100 TB: training state is the
    * (word, freq) VOCABULARY table, built once with one corpus-sized
    * combine-heavy shuffle; every iteration after that touches only
    * vocabulary-sized data (pair counts via a per-word lead window, the
    * argmax as a broadcast single row, the greedy application as one more
    * per-word window pass), eager-checkpointed so plan depth stays
    * constant and checkpoint materialization stays single-threaded (the
    * deadlock note in Dedup.dedupClusters — calling this method runs the
    * iterations). Greedy non-overlap is relational, not a fold: candidate
    * starts form islands of consecutive positions, and every EVEN offset
    * within an island merges ("aaaa" + (a,a) → "aa aa") — deterministic,
    * and mirrored CTE-for-CTE by the unrolled DuckDB oracle.
    *
    * Caller contract (ENFORCED): the corpus must still have ≥ 1 adjacent
    * pair at every requested iteration — an exhausted corpus would merge
    * nothing, so the builder counts the merge table and throws rather
    * than silently returning fewer than nMerges rows. nMerges is small by
    * nature (real tokenizers: 10k–100k iterations of THIS exact step).
    */
  def bpeMerges(docs: DataFrame, nMerges: Int,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(nMerges >= 1, s"need nMerges >= 1, got $nMerges")
    // Eager checkpoints for the same reason as dedupClusters/pageRank:
    // lazy checkpoints in a loop that also broadcasts (the argmax row)
    // race to materialize and deadlock on the global RDDCheckpointData
    // monitor; eager keeps materialization in creation order.
    var words = docs.select(explode(Fns.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"), filter(split(col("w"), ""), t => t =!= "").as("toks"))
      .localCheckpoint()
    val wn = Window.partitionBy("w").orderBy("i")
    var merges = List.empty[DataFrame]
    for (k <- 1 to nMerges) {
      val tok = words
        .select(col("w"), col("freq"), posexplode(col("toks")))
        .select(col("w"), col("freq"), col("pos").cast("long").as("i"), col("col").as("t"))
        .withColumn("nxt", lead(col("t"), 1).over(wn))
      val top = tok.filter(col("nxt").isNotNull)
        .groupBy(col("t").as("left"), col("nxt").as("right"))
        .agg(sum(col("freq")).as("pair_freq"))
        .orderBy(col("pair_freq").desc, col("left").asc, col("right").asc)
        .limit(1)
      merges ::= top.select(lit(k.toLong).as("iter"), col("left"), col("right"),
        concat(col("left"), col("right")).as("merged"), col("pair_freq"))
      val cand = tok.crossJoin(broadcast(top))
        .withColumn("is_cand", col("t") === col("left") && col("nxt") === col("right"))
      // Greedy left-to-right: islands of consecutive candidate starts;
      // offsets 0, 2, 4… within an island merge, odd offsets are consumed.
      val starts = cand.filter(col("is_cand"))
        .withColumn("grp", col("i") -
          row_number().over(Window.partitionBy("w").orderBy("i")))
        .withColumn("off",
          row_number().over(Window.partitionBy("w", "grp").orderBy("i")) - 1)
        .filter(col("off") % 2 === 0)
        .select(col("w").as("sw"), col("i").as("si"))
      val starts2 = starts.select(col("sw").as("sw2"), col("si").as("si2"))
      val applied = cand
        .join(starts, col("w") === col("sw") && col("i") === col("si"), "left")
        .withColumn("is_start", col("si").isNotNull).drop("sw", "si")
        .join(starts2, col("w") === col("sw2") && col("i") === col("si2") + 1, "left")
        .withColumn("is_consumed", col("si2").isNotNull).drop("sw2", "si2")
        .filter(!col("is_consumed"))
        .select(col("w"), col("freq"), col("i"),
          when(col("is_start"), concat(col("t"), col("nxt"))).otherwise(col("t")).as("t"))
      words = applied.groupBy("w", "freq")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("t")))),
          s => s.getField("t")).as("toks"))
        .localCheckpoint()
    }
    // Enforce the caller contract loudly: an exhausted corpus makes `top`
    // empty, which would silently shrink the output below nMerges rows.
    // The union is nMerges rows at most, so this count is free (and the
    // loop above already runs eager jobs via localCheckpoint).
    val out = merges.reverse.reduce(_ unionByName _).localCheckpoint()
    val got = out.count()
    require(got == nMerges,
      s"corpus exhausted: only $got of $nMerges iterations found an adjacent pair")
    out.orderBy("iter")
  }

  /** Vocabulary-size coverage curve: for each candidate size s, the
    * fraction of all token OCCURRENCES covered by the top-s terms — the
    * tokenizer-design stat that answers "how big must the vocab be before
    * OOV is negligible". Reuses [[vocabulary]]'s dense ranking (bounded
    * ≤ max(sizes) rows — the same documented single-partition exception,
    * PlanGuardSpec allowlist); the per-size sums come from ONE explode of
    * the size list over the ≤ maxVocab ranked rows, plus a broadcast
    * corpus-total aggregate. Coverage is an exact-integer division.
    */
  def vocabCoverage(docs: DataFrame, sizes: Seq[Int],
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 1), s"need positive sizes, got $sizes")
    val vocab = vocabulary(docs, sizes.max, textCol, idCol)
    val total = docs
      .select(explode(Fns.tokens(col(textCol))).as("term"))
      .agg(count(lit(1)).as("total_tokens"))
    vocab
      .select(col("term_id"), col("freq"),
        explode(array(sizes.distinct.sorted.map(s => lit(s.toLong)): _*)).as("vocab_size"))
      .filter(col("term_id") < col("vocab_size"))
      .groupBy("vocab_size")
      .agg(sum(col("freq")).as("covered_tokens"))
      .crossJoin(broadcast(total))
      .select(col("vocab_size"), col("covered_tokens"), col("total_tokens"),
        (col("covered_tokens").cast("double") / col("total_tokens")).as("coverage"))
  }

  /** Bigram language model, argmax form: for every term, its most likely
    * successor and the conditional probability P(next|term) = c(term,
    * next)/c(term,·) — the cheapest next-token model, used as the
    * text-repair / perplexity-floor baseline and for boilerplate
    * template detection (templated corpora have near-deterministic
    * successor distributions). Adjacent pairs come from the same
    * (doc, position+1) equi-join as [[skipgramCounts]]; the per-term
    * argmax is a term-partitioned window (parallel across the
    * vocabulary), ties break lexicographically on the successor. The
    * probability is one exact-integer IEEE division rounded to 6 dp.
    */
  def bigramModel(docs: DataFrame, minCount: Long = 1L,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val pos = docs
      .select(col(idCol).as("doc_id"), posexplode(Fns.tokens(col(textCol))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"), col("col").as("tok"))
    val pairs = pos.as("a")
      .join(pos.select(col("doc_id"), (col("i") - 1).as("i"),
        col("tok").as("next")).as("b"), Seq("doc_id", "i"))
      .groupBy(col("tok").as("term"), col("next"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("term").agg(sum(col("n")).as("n_term"))
    val w = Window.partitionBy(col("term"))
      .orderBy(col("n").desc, col("next").asc)
    pairs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("n") >= minCount)
      .join(totals, "term")
      .select(col("term"), col("next"), col("n"),
        Fns.q6(col("n").cast("double") / col("n_term")).as("p"))
  }

  /** Zipf-slope corpus-health metric: the least-squares slope of
    * log(freq) against log(rank) over the top `maxVocab` terms — clean
    * natural language sits near −1 (Zipf's law); templated/generated
    * corpora flatten toward 0, shattered OCR steepens. Runs on
    * [[vocabulary]]'s bounded output (≤ maxVocab rows), so the global
    * rank window is constant-bounded (PlanGuard-allowlisted via the
    * vocabulary reuse); the regression is closed-form over 6-dp-rounded
    * ln values summed through DECIMAL — engine-identical, the
    * perplexity/ln convention.
    */
  def zipfSlope(docs: DataFrame, maxVocab: Int = 200,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val v = vocabulary(docs, maxVocab, textCol, idCol)
      .select((col("term_id") + 1).cast("double").as("r"),
        col("freq").cast("double").as("f"))
      .select(round(log(col("r")), 6).as("x"), round(log(col("f")), 6).as("y"))
    def d6(c: org.apache.spark.sql.Column) = c.cast("decimal(28,6)")
    def d12(c: org.apache.spark.sql.Column) = Fns.q6(c).cast("decimal(28,6)")
    v.agg(count(lit(1)).as("n_terms"),
        sum(d6(col("x"))).as("sx"), sum(d6(col("y"))).as("sy"),
        sum(d12(col("x") * col("y"))).as("sxy"),
        sum(d12(col("x") * col("x"))).as("sxx"))
      .select(col("n_terms"),
        Fns.q6((col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double") / col("n_terms")) /
          (col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double") / col("n_terms")))
          .as("zipf_slope"))
  }

  /** Packing-efficiency report over [[packSequencesSharded]] output: per
    * shard, how many sequences the packer produced, the token mass they
    * carry, and the utilization tokens/(sequences·budget) — the
    * padding-waste observability every training-data packing stage
    * ships with (utilization directly prices the padding FLOPs a batch
    * wastes). One hash aggregate on the shard key; the ratio is one IEEE
    * division rounded to 6 dp.
    */
  def packStats(packed: DataFrame, budget: Int,
                shardCol: String = "shard"): DataFrame = {
    require(budget >= 1, s"need budget >= 1, got $budget")
    packed.groupBy(col(shardCol))
      .agg(countDistinct(col("seq_id")).as("n_seqs"),
        count(lit(1)).as("n_docs"),
        sum(col("n_subwords")).as("n_tokens"))
      .select(col(shardCol), col("n_seqs"), col("n_docs"), col("n_tokens"),
        Fns.q6(try_divide(col("n_tokens").cast("double"),
          col("n_seqs").cast("double") * budget)).as("utilization"))
  }

  /** Tokenizer fertility per language: subwords-per-word (how many
    * pieces the subword tokenizer shatters an average word into) and
    * chars-per-subword — THE cross-lingual tokenizer-quality metric (a
    * language with fertility 3× English pays 3× the context budget for
    * the same content, the standard argument for vocab rebalancing).
    * Words are whitespace tokens, subwords the same BPE-ish
    * [[subwordPattern]] regex used by selectByBudget/packing.
    *
    * All three inputs are exact BIGINT sums into one hash aggregate on
    * the language key (map-side combined); each ratio is a single IEEE
    * division rounded to 6 dp — engine-identical. Zero-word / zero-
    * subword groups yield NULL via try_divide (the entropy convention).
    */
  def fertility(docs: DataFrame, langCol: String = "lang",
                textCol: String = "text"): DataFrame =
    docs
      .select(col(langCol).as("lang"),
        size(Fns.tokens(col(textCol))).cast("long").as("w"),
        size(regexp_extract_all(col(textCol), lit(subwordPattern), lit(0)))
          .cast("long").as("s"),
        length(col(textCol)).cast("long").as("c"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("n_words"),
        sum(col("s")).as("n_subwords"),
        sum(col("c")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_subwords"),
        Fns.q6(try_divide(col("n_subwords").cast("double"), col("n_words")))
          .as("fertility"),
        Fns.q6(try_divide(col("n_chars").cast("double"), col("n_subwords")))
          .as("chars_per_subword"))

  /** Hapax-legomenon profile per source: of the source's distinct terms,
    * how many occur exactly once (hapax) — the vocabulary-richness /
    * OCR-noise signal (clean natural text runs ~40–60% hapax by Zipf; a
    * template farm sits far below, shattered OCR far above). Two hash
    * aggregates (term counts on the (source, term) key, then the source
    * rollup) — both map-side combined; the ratio is one IEEE division
    * rounded to 6 dp.
    */
  def hapaxProfile(docs: DataFrame, srcCol: String = "source",
                   textCol: String = "text"): DataFrame =
    docs
      .select(col(srcCol).as("source"),
        explode(Fns.tokens(col(textCol))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("f"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_terms"), col("n_hapax"),
        Fns.q6(try_divide(col("n_hapax").cast("double"), col("n_terms")))
          .as("hapax_ratio"))

  /** Mean segmental type–token ratio (MSTTR) per source: chop each
    * document's token stream into consecutive FULL segments of `segLen`
    * tokens, take each segment's distinct-token ratio, and average —
    * the lexical-diversity measure that, unlike the raw corpus TTR
    * ([[sourceProfile]]'s mean_distinct_ratio), does not collapse as
    * documents get longer (Johnson 1944), so sources of different
    * document lengths compare on one scale. Partial tail segments are
    * excluded by construction — that is what makes the statistic
    * length-invariant.
    *
    * Scale shape: one posexplode, one hash aggregate on the
    * (source, doc, segment) key — cardinality tokens/segLen, far below
    * token count — then one per-source reduce; no windows, no joins.
    * Determinism: counts are exact integers; each segment TTR is a
    * 6-dp-rounded DECIMAL term, the mean DECIMAL-routed at the edge.
    */
  def msttr(docs: DataFrame, srcCol: String = "source",
            textCol: String = "text", idCol: String = "doc_id",
            segLen: Int = 50): DataFrame = {
    require(segLen >= 2, s"need segLen >= 2, got $segLen")
    val segs = docs
      .select(col(srcCol).as("source"), col(idCol).as("doc_id"),
        posexplode(Fns.tokens(col(textCol))))
      .select(col("source"), col("doc_id"),
        floor(col("pos") / lit(segLen)).cast("long").as("seg"),
        col("col").as("term"))
      .groupBy("source", "doc_id", "seg")
      .agg(count(lit(1)).as("n_tok"),
        countDistinct(col("term")).as("n_distinct"))
      .filter(col("n_tok") === segLen)
    segs.groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_segments"),
        sum(Fns.q6(col("n_distinct").cast("double") / lit(segLen.toDouble))
          .cast("decimal(18,6)")).as("st"))
      .select(col("source"), col("n_docs"), col("n_segments"),
        Fns.q6(try_divide(col("st").cast("double"),
          col("n_segments").cast("double"))).as("msttr"))
  }

  /** Per-(source, language) corpus profile: document counts, token sums
    * and mean distinct-token ratio — the "dataset card" summary every
    * curated corpus ships with, and the input to mixture reweighting.
    * One hash shuffle on the (source, lang) key; the quality mean rides a
    * 6-dp-rounded DECIMAL sum (order-free).
    */
  def sourceProfile(docs: DataFrame, srcCol: String = "source",
                    langCol: String = "lang", textCol: String = "text"): DataFrame = {
    // Degenerate inputs follow the entropy convention: a zero-token doc
    // has NO distinct-token ratio (try_divide -> NULL, not NaN — a NaN
    // would poison the DECIMAL cast under ANSI and the group mean), so
    // the mean is over token-bearing docs only; an all-empty group gets a
    // NULL mean.
    val toks = Fns.tokens(col(textCol))
    docs
      .select(col(srcCol).as("source"), col(langCol).as("lang"),
        size(toks).cast("long").as("n_toks"),
        try_divide(size(array_distinct(toks)).cast("double"), size(toks)).as("ratio"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(Fns.q6(col("ratio")).cast("decimal(18,6)")).as("sr"),
        count(col("ratio")).as("nr"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        Fns.q6(try_divide(col("sr").cast("double"), col("nr"))).as("mean_distinct_ratio"))
  }

  /** Per-source quality gate — the quantile-thresholded filter every
    * web-scale corpus pipeline runs per DOMAIN, not globally: a global
    * cutoff on a quality score deletes whole low-register sources
    * (forums, transcripts) while passing boilerplate from high-register
    * ones; gating each doc against its OWN source's `p`-quantile keeps
    * the per-source quality distribution's upper mass everywhere.
    * Score here is the distinct-token ratio (the cheap templated-text
    * signal); the shape composes with any per-doc score column.
    *
    * Returns every doc with its verdict: (doc_id, source, score, thr,
    * kept). Zero-token docs have NULL score (try_divide — the
    * [[entropy]] degenerate-input convention), never pass the gate, and
    * are excluded from the quantile estimation on both engines
    * (percentile and quantile_cont both skip NULLs).
    *
    * Shuffle shape: one hash aggregate onto the (few) source keys for
    * the exact interpolated percentile, broadcast back onto the corpus —
    * no window over N rows, no second corpus scan. Score and threshold
    * are both 6-dp-rounded BEFORE the comparison so the kept verdict is
    * engine-exact (raw scores are exact small-integer divisions; the
    * interpolated quantile is the one value whose last bits could
    * disagree).
    */
  def qualityGate(docs: DataFrame, p: Double = 0.25,
                  srcCol: String = "source", textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    require(p > 0 && p < 1, s"need p in (0,1), got $p")
    val toks = Fns.tokens(col(textCol))
    val scored = docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
      Fns.q6(try_divide(size(array_distinct(toks)).cast("double"), size(toks)))
        .as("score"))
    val thr = scored.groupBy("source")
      .agg(Fns.q6(percentile(col("score"), lit(p))).as("thr"))
    scored.join(broadcast(thr), "source")
      .select(col("doc_id"), col("source"), col("score"), col("thr"),
        coalesce(col("score") >= col("thr"), lit(false)).as("kept"))
  }

  /** Declared-vs-detected language disagreement report — the metadata
    * validation step of multilingual corpus curation: a feed whose
    * declared `lang` tag disagrees with content-based [[langId]] is
    * mislabeled upstream (wrong crawler config, mixed-language shards),
    * and language-balanced sampling built on the bad tag silently skews.
    * One row per document: declared tag, predicted tag, and the
    * disagreement flag (an `und` prediction — no marker hits — counts as
    * a mismatch against any declared tag: unverifiable is not verified).
    *
    * Scale shape: [[langId]]'s flat per-row marker scan plus one
    * id-keyed join back to the declared column — no new shuffles beyond
    * the join, which co-partitions on the id.
    */
  def langMismatch(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id", declaredCol: String = "lang"): DataFrame =
    langId(docs, textCol, idCol)
      .select(col("doc_id"), col("lang_pred"))
      .join(docs.select(col(idCol).as("doc_id"),
        col(declaredCol).as("lang_declared")), "doc_id")
      .select(col("doc_id"), col("lang_declared"), col("lang_pred"),
        (col("lang_pred") =!= col("lang_declared")).as("mismatch"))

  /** Per-document RARE-TOKEN ratio — the gibberish/OCR-noise detector
    * that complements the distinct-ratio quality score: a document whose
    * tokens are mostly corpus-hapax (document frequency ≤ `maxDf`) is
    * typically mojibake, shredded OCR, or base64 debris — vocabulary the
    * rest of the corpus never corroborates. Ratio counts token
    * OCCURRENCES whose term is rare over total occurrences; `flagged`
    * when the ratio strictly exceeds `maxRatio`.
    *
    * Scale shape: document frequency from a distinct (term, doc)
    * aggregate (never more rows than the token stream), joined back
    * term-keyed onto the exploded stream, re-aggregated doc-keyed — two
    * hash shuffles with map-side combine, no windows, ratio is a flat
    * per-row expression. The df side shrinks with vocabulary, not corpus.
    */
  def rareTokenRatio(docs: DataFrame, maxDf: Long = 1L, maxRatio: Double = 0.5,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxDf >= 1, s"need maxDf >= 1, got $maxDf")
    val toks = docs
      .select(col(idCol).as("doc_id"), explode(Fns.tokens(col(textCol))).as("term"))
    val df = toks.distinct().groupBy("term").agg(count(lit(1)).as("df"))
    toks.join(df, "term")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("df") <= maxDf, 1L).otherwise(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_tokens"), col("n_rare"),
        Fns.q6(col("n_rare").cast("double") / col("n_tokens")).as("rare_ratio"))
      .withColumn("flagged", col("rare_ratio") > maxRatio)
  }

  /** Corpus encoding — the tokenizer-APPLY step between [[vocabulary]]
    * and sequence packing: each document becomes its array of vocabulary
    * term-ids in token order, out-of-vocabulary tokens as the
    * conventional -1 unk sentinel (lossiness stays visible instead of
    * silently dropping tokens). The step every training-data export runs
    * over the full corpus.
    *
    * Scale shape: the vocabulary is ≤ maxVocab rows and rides as a
    * BROADCAST to a narrow posexplode of the corpus (no shuffle to look
    * up ids), then one hash shuffle on doc_id re-assembles each doc's id
    * array in token order. Nothing global anywhere except vocabulary()'s
    * documented ≤ maxVocab id window.
    */
  def encode(docs: DataFrame, maxVocab: Int,
             textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val vocab = vocabulary(docs, maxVocab, textCol, idCol).select("term", "term_id")
    val toks = docs
      .select(col(idCol).as("doc_id"), posexplode(Fns.tokens(col(textCol))))
      .toDF("doc_id", "pos", "term")
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        transform(
          sort_array(collect_list(struct(col("pos"),
            coalesce(col("term_id"), lit(-1L)).as("tid")))),
          s => s.getField("tid")).as("token_ids"))
      .select(col("doc_id"), col("token_ids"), col("n_tokens"))
  }

  /** Inverse of [[encode]]: token ids back to text via the same vocab
    * (id −1 → `<unk>`) — the round-trip that PROVES the tokenizer
    * plumbing lossless for in-vocab text, and the detokenization step
    * any generation/inspection pipeline needs. One narrow posexplode,
    * one broadcast vocab join, one doc-keyed reassembly (`sort_array ∘
    * collect_list`, the [[encode]] discipline — no window).
    */
  def decode(encoded: DataFrame, vocab: DataFrame): DataFrame = {
    val ex = encoded.select(col("doc_id"),
      posexplode(col("token_ids")).as(Seq("pos", "tid")))
    ex.join(broadcast(vocab.select(col("term_id").as("tid"), col("term"))),
        Seq("tid"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tid") === -1L, 1L).otherwise(0L)).as("n_unk"),
        array_join(transform(sort_array(collect_list(struct(col("pos"),
          coalesce(col("term"), lit("<unk>")).as("t")))),
          s => s.getField("t")), " ").as("decoded"))
  }

  /** Corpus n-gram statistics: the top `k` word n-grams with counts —
    * the LM-data profile (bigram/trigram tables, boilerplate discovery,
    * contamination probes). Duplicates inside a document count once each
    * (occurrence counts, not document frequency).
    *
    * One narrow explode (no shuffle until the count), one hash shuffle
    * with map-side combine on the n-gram key, then the bounded
    * TakeOrderedAndProject top-k. N-gram strings shuffle only AFTER the
    * partial aggregation collapsed repeats.
    */
  def ngramCounts(docs: DataFrame, n: Int, k: Int,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    require(k >= 1, s"need k >= 1, got $k")
    docs
      .select(Fns.tokens(col(textCol)).as("toks"))
      .select(explode(Fns.shingles(col("toks"), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("ngram").asc)
      .limit(k)
  }

  /** Inverted postings index: one row per term with its document
    * frequency and the SORTED posting list of containing doc ids — the
    * search-index build step (BM25 serving, decontamination probes read
    * exactly this structure). Terms with df > `maxDf` are dropped
    * entirely (stopword posting lists are corpus-sized rows — the classic
    * index skew — and carry no discriminative value; the df cap is the
    * same knob as `maxShingleFreq` in the dedup family).
    *
    * One narrow explode + distinct, one hash shuffle on term with
    * map-side combine; the list is assembled with `sort_array ∘
    * collect_list` (order restored deterministically, no window).
    */
  def postingsIndex(docs: DataFrame, maxDf: Long = Long.MaxValue,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), explode(Fns.tokens(col(textCol))).as("term"))
      .distinct()
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(col("doc_id"))).as("postings"))
      .filter(col("df") <= maxDf)

  /** Skip-gram co-occurrence counts: (center, context) token pairs within
    * ± `window` positions, aggregated corpus-wide, top `k` by count — the
    * word2vec/GloVe training-pair extraction step.
    *
    * Plan: positions explode narrowly; the context lookup is an equi-join
    * on (doc, position+offset) — a hash join on exact keys, NOT a range
    * self-join (offsets are a tiny generated array, so the join blows up
    * by at most 2·window, the true output size). One hash shuffle with
    * map-side combine for the counts, then TakeOrderedAndProject.
    */
  def skipgramCounts(docs: DataFrame, window: Int, k: Int,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(window >= 1, s"need window >= 1, got $window")
    require(k >= 1, s"need k >= 1, got $k")
    val pos = docs
      .select(col(idCol).as("doc_id"), posexplode(Fns.tokens(col(textCol))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"), col("col").as("tok"))
    val offsets = ((-window to window).filter(_ != 0)).map(o => lit(o.toLong))
    val centers = pos.select(col("doc_id"), col("tok").as("center"),
        explode(array(offsets: _*)).as("o"), col("i"))
      .select(col("doc_id"), col("center"), (col("i") + col("o")).as("j"))
    centers
      .join(pos.select(col("doc_id"), col("i").as("j"), col("tok").as("context")),
        Seq("doc_id", "j"))
      .groupBy("center", "context").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("center").asc, col("context").asc)
      .limit(k)
  }

  /** BM25 top-k lexical retrieval: score every document against a bag of
    * query terms with the Lucene-style formula
    * `idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))`,
    * `w(t,d) = idf · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))`,
    * and return the `k` best (score desc, doc_id tiebreak). This is the
    * retrieval primitive of RAG-corpus curation and of query-targeted
    * contamination probes.
    *
    * Shuffle shape: the token explode is filtered to the query terms
    * BEFORE it widens, so only matching (doc, term) rows shuffle — one
    * hash shuffle with map-side combine for tf, a |queryTerms|-row df
    * aggregate and a single-row (N, avgdl) aggregate both riding as
    * broadcasts, then TakeOrderedAndProject for the top-k (per-partition
    * heaps, no global sort). Per-term scores are summed through an exact
    * DECIMAL(18,9) after a 9-dp round so the per-document total is
    * order-independent — bit-identical across engines and cluster
    * re-partitionings; the exposed score is rounded to 6 dp.
    */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    require(k >= 1, s"need k >= 1, got $k")
    val toks = docs.select(col(idCol).as("doc_id"), Fns.tokens(col(textCol)).as("toks"))
    // avgdl as exact-integer sum / count (not avg()) so the double is a
    // single division — identical in any engine and partitioning.
    val stats = toks.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(size(col("toks"))).cast("double") / count(lit(1))).as("avgdl"))
    val tf = toks
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        explode(filter(col("toks"), t => t.isInCollection(queryTerms))).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val perTerm = tf.join(broadcast(df), "term").crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w",
        col("idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    perTerm
      .groupBy("doc_id")
      .agg(sum(round(col("w"), 9).cast("decimal(18,9)")).as("s"),
        count(lit(1)).as("n_terms_hit"))
      .select(col("doc_id"), round(col("s").cast("double"), 6).as("score"),
        col("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Pointwise mutual information of adjacent token pairs:
    * `pmi(a,b) = ln( (c_ab / M) / ((c_a / N)·(c_b / N)) )` with N = total
    * tokens, M = total bigrams — the collocation detector used to mine
    * multi-word expressions for tokenizer merges and stop-phrase lists.
    * Pairs below `minCount` are dropped (PMI is noise at tiny counts);
    * output is the top `k` by (pmi desc, bigram asc), pmi rounded to 6 dp.
    *
    * Shuffle shape: bigram and unigram counts are two hash shuffles with
    * map-side combine (cardinality = vocabulary², vocabulary — corpus
    * repeats collapse map-side); the two totals ride one broadcast
    * single-row aggregate. The unigram join keys are post-aggregation
    * (vocabulary-sized, not corpus-sized) so AQE picks broadcast when the
    * vocabulary is small and a plain exchange when it is web-scale; the
    * final top-k is TakeOrderedAndProject. The PMI double is a fixed
    * expression over exact BIGINT counts — identical in any engine.
    */
  def pmiBigrams(docs: DataFrame, k: Int, minCount: Long = 5L,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val toks = docs.select(Fns.tokens(col(textCol)).as("toks"))
    val uni = toks.select(explode(col("toks")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val bi = toks.select(explode(Fns.shingles(col("toks"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
    val totals = uni.agg(sum(col("c")).cast("double").as("n_tok"))
      .crossJoin(bi.agg(sum(col("c_ab")).cast("double").as("n_big")))
    bi.filter(col("c_ab") >= minCount)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
      .join(uni.withColumnRenamed("t", "w1").withColumnRenamed("c", "c_a"), "w1")
      .join(uni.withColumnRenamed("t", "w2").withColumnRenamed("c", "c_b"), "w2")
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"),
        round(log((col("c_ab") / col("n_big")) /
          ((col("c_a") / col("n_tok")) * (col("c_b") / col("n_tok")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(k)
  }

  /** Per-document Shannon entropy of the token distribution (nats):
    * `H = ln(n) − (Σ c·ln c)/n` over the per-term counts c — the classic
    * "natural text vs generated sludge" quality signal (low entropy =
    * repetitive/templated; high = diverse vocabulary). `norm_entropy`
    * divides by the max possible `ln(n_distinct)` (NULL for single-term
    * docs, where the ratio is 0/0).
    *
    * Determinism: Σ c·ln c runs per-term doubles through a 6-dp round +
    * exact DECIMAL sum, so the per-doc total is order-free; the outer
    * arithmetic is a fixed per-row expression. One hash shuffle on
    * (doc, term) with map-side combine, one on doc — both ∝ vocabulary
    * use, not corpus bytes.
    */
  def entropy(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(Fns.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val agg = tf.groupBy("doc_id").agg(
      sum(col("c")).as("n_tokens"),
      count(lit(1)).as("n_distinct"),
      sum(round(col("c") * log(col("c")), 6).cast("decimal(18,6)")).as("sclogc"))
    val hRaw = log(col("n_tokens")) - col("sclogc").cast("double") / col("n_tokens")
    agg.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
      round(hRaw, 6).as("entropy"),
      round(try_divide(hRaw, log(col("n_distinct"))), 6).as("norm_entropy"))
  }

  /** Per-source mean conditional character-bigram entropy H(c₂|c₁) over
    * each document's first `maxChars` characters — the character-level
    * gibberish detector: natural language has structured character
    * transitions (low conditional entropy given the preceding char),
    * while encoding noise, base64 blobs and OCR sludge approach the
    * unconditional alphabet entropy. Complements [[entropy]] (token
    * distribution) at the sub-token level where tokenizers see nothing.
    *
    * Computed per doc via the chain rule without any p = c/n division:
    * H(c₁c₂) − H(c₁) = (Σ_{c₁} c·ln c − Σ_{cells} c·ln c)/n, each sum
    * a 6-dp-rounded DECIMAL ([[entropy]]'s discipline) — order-free,
    * engine-exact. Scale shape: the bigram explode is capped at
    * `maxChars` per doc; two hash aggregates on (doc, cell) keys
    * bounded by alphabet², then doc- and source-keyed reduces. No
    * joins except the doc-keyed cell/prefix merge.
    */
  def charBigramEntropy(docs: DataFrame, srcCol: String = "source",
                        textCol: String = "text", idCol: String = "doc_id",
                        maxChars: Int = 256): DataFrame = {
    require(maxChars >= 2, s"need maxChars >= 2, got $maxChars")
    val cells = docs
      .select(col(srcCol).as("source"), col(idCol).as("doc_id"),
        substring(col(textCol), 1, maxChars).as("s"))
      .filter(length(col("s")) >= 2)
      .select(col("source"), col("doc_id"),
        explode(expr("transform(sequence(1, length(s) - 1), i -> substr(s, i, 2))"))
          .as("bg"))
      .groupBy("source", "doc_id", "bg").agg(count(lit(1)).as("c"))
    val pre = cells
      .select(col("source"), col("doc_id"),
        substring(col("bg"), 1, 1).as("c1"), col("c"))
      .groupBy("source", "doc_id", "c1").agg(sum(col("c")).as("c"))
    def slog(df: DataFrame, tag: String) = df.groupBy("source", "doc_id")
      .agg(sum(col("c")).as(s"n_$tag"),
        sum(round(col("c") * log(col("c")), 6).cast("decimal(18,6)"))
          .as(s"s_$tag"))
    val perDoc = slog(cells, "bg").join(slog(pre, "c1"), Seq("source", "doc_id"))
      .select(col("source"), col("doc_id"), col("n_bg"),
        Fns.q6((col("s_c1") - col("s_bg")).cast("double") /
          col("n_bg").cast("double"))
          .cast("decimal(18,6)").as("h6"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bg")).as("n_bigrams"),
        (sum(col("h6")).cast("double") / count(lit(1)).cast("double"))
          .as("mraw"))
      .select(col("source"), col("n_docs"), col("n_bigrams"),
        graft.functions.Fns.q6(col("mraw"))
          .as("mean_cond_entropy"))
  }

  /** Per-document perplexity under the corpus unigram MLE language model:
    * `ln PP(d) = −(1/n_d)·Σ_w c_{d,w}·ln(c_w/N)` — the CCNet-style
    * "how surprising is this document to the corpus itself" filter
    * (high perplexity = noise/outlier text, low = boilerplate-ish).
    *
    * Per-term contributions are 6-dp-rounded and DECIMAL-summed per doc
    * (order-free); everything else is fixed per-row arithmetic. Shuffle
    * shape: (doc, term) tf with map-side combine, a vocabulary-sized term
    * total join (AQE broadcasts small vocabularies), one doc-keyed
    * aggregate. Output: n_tokens, log-perplexity and perplexity (both
    * 6-dp).
    */
  def perplexity(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(Fns.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val tot = tf.groupBy("term").agg(sum(col("c")).as("cw"))
    val n = tot.agg(sum(col("cw")).as("n_corpus"))
    val agg = tf.join(tot, "term").crossJoin(broadcast(n))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        sum(round(col("c") * log(col("cw") / col("n_corpus")), 6)
          .cast("decimal(18,6)")).as("slogp"))
    val lnPp = -(col("slogp").cast("double")) / col("n_tokens")
    agg.select(col("doc_id"), col("n_tokens"),
      Fns.q6(lnPp).as("log_perplexity"),
      round(exp(lnPp), 6).as("perplexity"))
  }

  /** Per-document perplexity under a Jelinek–Mercer interpolated corpus
    * BIGRAM language model — the CCNet-style quality filter one order up
    * from [[perplexity]]: `p(w_i | w_{i−1}) = λ·c(w_{i−1} w_i)/c(w_{i−1}·)
    * + (1−λ)·c(w_i)/N`, scored over every in-document bigram event and
    * folded to `ln PP(d) = −(1/m_d)·Σ ln p`. The unigram back-off term
    * keeps every bigram in-vocabulary (the corpus trains the model, so
    * `c(w_i) ≥ 1` always) — no zero-probability events, no ad-hoc floors.
    * Repetitive/templated text scores LOW (its bigrams dominate their
    * contexts), disfluent or shuffled text scores HIGH even when its
    * unigram mix looks normal — exactly the failure mode the unigram
    * filter cannot see. Docs with < 2 tokens have no bigram events and
    * drop out (callers union them back with a policy verdict if needed).
    *
    * Determinism: per-(doc, bigram-type) contributions are 6-dp-rounded
    * and DECIMAL-summed (order-free); λ is a binary-exact literal and the
    * probability is assembled with a fixed association
    * (`λ·(cb/cp) + (1−λ)·(cw/N)`) so both engines execute the identical
    * IEEE sequence. The FINAL 6-dp rounding of `−slogp/m` is done in
    * exact BIGINT arithmetic (`(2x + m) div 2m` half-up on the
    * 10⁶-scaled sum), NOT on the double quotient: slogp is a 6-dp
    * decimal, so the quotient lands EXACTLY on the 0.5×10⁻⁶ rounding
    * tie whenever the scaled sum ≡ m/2 (mod m) — about one doc in m —
    * and two engines' double rounding is allowed to disagree there
    * (observed twice at sf0.1). Shuffle shape at scale: one doc-keyed shuffle for the
    * lag window (docs are bounded, so partitions stay balanced), map-side
    * combined (doc, prev, cur) counts, then three vocabulary-sized model
    * joins — bigram types, context totals, unigram totals — that AQE
    * broadcasts at small vocabularies and hash-joins on bounded keys
    * otherwise. The model tables are corpus-global and reusable: at
    * 100 TB they are built once and joined against any slice.
    */
  def perplexityBigram(docs: DataFrame, lambda: Double = 0.75,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, "lambda must be in (0, 1)")
    val w = Window.partitionBy("doc_id").orderBy("i")
    val toks = docs
      .select(col(idCol).as("doc_id"), posexplode(Fns.tokens(col(textCol))))
      .select(col("doc_id"), col("pos").as("i"), col("col").as("term"))
    // Per-doc bigram term frequencies: ONE doc-keyed window shuffle, then
    // map-side-combined counts on (doc, prev, cur). Eagerly checkpointed:
    // the model tables (cb, cp) AND the scoring join all read it, and
    // without the cut each consumer would re-run the tokenize + window
    // pass (3× the corpus scan — the mixtureCard precedent).
    val docBg = toks
      .withColumn("prev", lag(col("term"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("doc_id"), col("prev"), col("term"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    // Corpus model tables, all derived from frames already shuffled on
    // their keys: bigram-type counts, context totals, unigram totals.
    val cb = docBg.groupBy("prev", "term").agg(sum(col("c")).as("cb"))
    val cp = cb.groupBy("prev").agg(sum(col("cb")).as("cp"))
    val uni = toks.groupBy("term").agg(count(lit(1)).as("cw"))
    val n = uni.agg(sum(col("cw")).as("n_corpus"))
    val p = lit(lambda) * (col("cb").cast("double") / col("cp")) +
      lit(1.0 - lambda) * (col("cw").cast("double") / col("n_corpus"))
    val agg = docBg
      .join(cb, Seq("prev", "term")).join(cp, Seq("prev"))
      .join(uni, Seq("term")).crossJoin(broadcast(n))
      .groupBy("doc_id")
      // Tie exposure (documented, accepted): round(c·ln p, 6) on a DOUBLE
      // is the shortest-repr-vs-exact-binary rounding class fixed
      // elsewhere in the integer domain (SparkEntry.q8) — IF c·ln p's
      // shortest decimal repr lands exactly on a 0.5×10⁻⁶ boundary the
      // engines can split. Unlike q8's products of 2-dp inputs, ln of a
      // rational is transcendental (never exactly a 7-dp half), so a tie
      // needs the DOUBLE's shortest repr to terminate at the boundary —
      // none across sf0.001–0.1 and the perturbed-seed sweep. Same
      // accepted exposure as the unigram perplexity's contribution round.
      .agg(sum(col("c")).as("n_bigrams"),
        sum(round(col("c") * log(p), 6).cast("decimal(18,6)")).as("slogp"))
    // x = −slogp in exact 10⁻⁶ units (ln p ≤ 0 always, so x ≥ 0); the
    // 6-dp half-up round of x/m is the tie-exact integer (2x+m) div 2m.
    val lnPp6 = agg
      .withColumn("x", (-col("slogp") * lit(1000000)).cast("long"))
      .withColumn("lnpp6", expr("(x * 2 + n_bigrams) div (n_bigrams * 2)"))
    val lnPpRaw = -(col("slogp").cast("double")) / col("n_bigrams")
    lnPp6.select(col("doc_id"), col("n_bigrams"),
      (col("lnpp6").cast("double") / 1000000.0).as("log_perplexity"),
      round(exp(lnPpRaw), 6).as("perplexity"))
  }

  /** Length-quantile bucketing: assign each document to one of `nTiles`
    * token-length buckets split at exact corpus quartile boundaries — the
    * sequence-length batching step that keeps padding waste down in
    * training/inference (batch shape ∝ bucket, not corpus max).
    *
    * Same broadcast-boundary recipe as [[graft.analytics.Analytics.rfm]]:
    * ONE tiny aggregate computes the (nTiles−1) exact interpolated
    * quantiles, broadcasts them, and each row scores itself as
    * `1 + #boundaries strictly below its length` — a flat projection, no
    * ntile window (which would be a single-partition sort over the
    * corpus). Integer lengths make the boundary comparisons cross-engine
    * stable (the rfm argument).
    */
  def lengthBuckets(docs: DataFrame, nTiles: Int = 4,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(nTiles >= 2, s"need nTiles >= 2, got $nTiles")
    val lens = docs.select(col(idCol).as("doc_id"),
      size(regexp_extract_all(col(textCol), lit(subwordPattern), lit(0)))
        .cast("long").as("n_subwords"))
    val qs = (1 until nTiles).map(_.toDouble / nTiles)
    val bounds = lens.agg(
      percentile(col("n_subwords"), lit(qs.toArray)).as("bnds"))
    lens.crossJoin(broadcast(bounds))
      .select(col("doc_id"), col("n_subwords"),
        (lit(1L) + size(filter(col("bnds"),
          b => col("n_subwords").cast("double") > b)).cast("long")).as("bucket"))
  }

  /** Boilerplate n-gram removal (the CCNet/C4 cleanup step, word-gram
    * flavored because this corpus has no line structure): any word
    * `n`-gram present in ≥ `maxDocFrac` of all documents is boilerplate;
    * every token position covered by an occurrence of a hot gram is
    * dropped and the survivors are reassembled in order. Output keeps one
    * row per input document: the cleaned text, original/removed token
    * counts and the removed fraction.
    *
    * Shuffle shape at corpus scale: gram document-frequency is one hash
    * shuffle with map-side combine; the hot-gram list is tiny BY
    * CONSTRUCTION (a gram needs ≥ frac·N documents, so there can be at
    * most occurrences/(frac·N) of them) and broadcasts to the occurrence
    * scan, so marking covered positions is shuffle-free; the rebuild is
    * one hash shuffle on doc_id with the order restored by array_sort
    * over (pos, token) structs — no window, no global sort.
    */
  def boilerplateRemove(docs: DataFrame, n: Int = 3, maxDocFrac: Double = 0.3,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    require(maxDocFrac > 0 && maxDocFrac <= 1, s"need 0 < maxDocFrac <= 1, got $maxDocFrac")
    val toksDf = docs.select(col(idCol).as("doc_id"), Fns.tokens(col(textCol)).as("toks"))
    // (doc, start position, gram) — 1-based start so oracle subscripts match.
    val grams = toksDf
      .select(col("doc_id"), posexplode(Fns.shingles(col("toks"), n)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("start"), col("col").as("gram"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val hot = grams.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("gram_df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("gram_df") >= ceil(col("n_docs") * maxDocFrac))
      .select("gram")
    val covered = grams.join(broadcast(hot), "gram")
      .select(col("doc_id"), explode(sequence(col("start"), col("start") + (n - 1))).as("pos"))
      .distinct()
    val posTokens = toksDf
      .select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("token"))
    val kept = posTokens.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("token")))),
          s => s.getField("token")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    toksDf.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise((col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
            .cast("double") / col("n_tokens")).as("boilerplate_ratio"))
  }

  /** Quality-ordered token-budget corpus selection: rank documents by a
    * quality score (distinct-token ratio — boilerplate-ish, repetitive
    * docs rank last), walk the ranking best-first, and keep documents
    * while the running subword-token total stays ≤ `budget` — the
    * "best N tokens" cut every dataset-curation recipe ends with.
    *
    * Scale shape: the running total is the same two-level distributed
    * prefix sum as [[packSequencesGlobal]] — level 1 buckets documents by
    * an equal-width split of the [min, max] score range (monotone in the
    * sort key, so bucket order IS global order) and cumsums within each
    * bucket in parallel; level 2 turns per-bucket totals into starting
    * offsets with a ≤ buckets² broadcast join. No single-partition
    * window anywhere. Selection is exact-integer (BIGINT cumsum vs
    * budget) over a score that is a single exact division — bit-identical
    * in any engine, with doc_id breaking score ties.
    */
  def selectByBudget(docs: DataFrame, budget: Long,
                     textCol: String = "text", idCol: String = "doc_id",
                     buckets: Int = 32): DataFrame = {
    require(budget >= 1, s"need budget >= 1, got $budget")
    // Zero-token docs get score 0.0 (rank last, cost nothing) rather than
    // the NaN a plain division would emit — NaN poisons the min/max
    // bucket stats that drive the distributed prefix sum.
    val scored = docs.select(
      col(idCol).as("doc_id"),
      coalesce(
        try_divide(size(array_distinct(Fns.tokens(col(textCol)))).cast("double"),
          size(Fns.tokens(col(textCol)))),
        lit(0.0)).as("score"),
      size(regexp_extract_all(col(textCol), lit(subwordPattern), lit(0)))
        .cast("long").as("n_subwords"))
    val stats = scored.agg(min(col("score")).as("__lo"), max(col("score")).as("__hi"))
    // Bucket index descends with score so bucket order == selection order.
    val bucketed = scored.crossJoin(broadcast(stats))
      .withColumn("__bkt",
        when(col("__hi") === col("__lo"), lit(0L)).otherwise(
          least(floor((col("__hi") - col("score")) * buckets /
            (col("__hi") - col("__lo"))), lit(buckets - 1L))))
      .drop("__lo", "__hi")
    val w = Window.partitionBy(col("__bkt"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = bucketed.withColumn("__cum", sum(col("n_subwords")).over(w))
    val totals = bucketed.groupBy("__bkt").agg(sum(col("n_subwords")).as("__t"))
    val offsets = totals.as("a")
      .join(totals.as("b"), col("b.__bkt") < col("a.__bkt"), "left")
      .groupBy(col("a.__bkt").as("__bkt"))
      .agg(coalesce(sum(col("b.__t")), lit(0L)).as("__off"))
    local.join(broadcast(offsets), "__bkt")
      .withColumn("cum_tokens", col("__off") + col("__cum"))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("score"), col("n_subwords"), col("cum_tokens"))
  }

  /** C4-style line-level boilerplate dedup: a line that occurs in more
    * than `maxDocs` DISTINCT documents corpus-wide is boilerplate
    * (nav bars, cookie banners, license headers) and is dropped from
    * EVERY document; surviving lines are reassembled in line order.
    *
    * Input is a pre-split lines frame (doc_id, line_no, line) — the
    * caller owns the split policy (newline split, sentence split, fixed
    * token windows), keeping the operator independent of any one corpus
    * layout.
    *
    * Scale shape: one hash groupBy on the line text for the document
    * frequency (map-side partial countDistinct), one equi-join back on
    * the line (NOT broadcast — the hot-line set is corpus-sized in the
    * worst case), one groupBy doc_id to reassemble. No windows, no
    * driver actions; every shuffle is keyed and partial-aggregated.
    * Reassembly order comes from array_sort on (line_no, line) structs —
    * deterministic without any ordered window.
    */
  def dedupLines(lines: DataFrame, maxDocs: Long,
                 idCol: String = "doc_id", lineNoCol: String = "line_no",
                 lineCol: String = "line"): DataFrame = {
    require(maxDocs >= 1, s"need maxDocs >= 1, got $maxDocs")
    val base = lines.select(col(idCol).as("doc_id"),
      col(lineNoCol).cast("long").as("line_no"), col(lineCol).as("line"))
    val hot = base.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("line_df"))
      .filter(col("line_df") > maxDocs)
      .select("line")
    val kept = base.join(hot, Seq("line"), "left_anti")
      .groupBy("doc_id")
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
          s => s.getField("line")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    base.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Per-document n-gram NOVELTY against the earlier corpus — the
    * dataset-curation curve ("how much does each new document add?"):
    * for every doc, the share of its distinct n-grams whose FIRST
    * corpus occurrence (minimum doc_id — ingestion order) is this doc.
    * Duplicate-heavy feeds trend toward 0; a healthy crawl stays high.
    * The aggregate novelty-over-id curve is the standard "is this
    * source exhausted?" signal before buying/scraping more of it.
    *
    * Scale shape: one native-shingle explode ([[Dedup.shingleSets]] —
    * single pass, no lambda HOFs), distinct, a shingle-keyed min
    * aggregate with map-side combine (state ∝ distinct grams, the same
    * bound as every inverted-index dedup here), one join back on the
    * shingle key, and a doc-keyed count — all hash exchanges on keys
    * that shard evenly. The ratio is one exact integer division.
    */
  def ngramNovelty(docs: DataFrame, n: Int = 3,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sets = Dedup.shingleSets(docs, n, textCol, idCol).distinct()
    val first = sets.groupBy("shingle").agg(min(col("doc_id")).as("first_doc"))
    sets.join(first, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        Fns.q6(col("n_novel").cast("double") / col("n_grams")).as("novelty"))
  }

  /** WITHIN-document repeated-span removal — the intra-doc counterpart
    * of [[dedupLines]]: any n-gram whose exact token sequence already
    * occurred earlier in the SAME document marks its n-token span
    * redundant, and every token covered by a redundant span is dropped
    * (first occurrence survives). The "self-repeating sludge" cleaner
    * for crawl text (navigation loops, chat echo, copy-paste stutter)
    * that corpus-level dedup never sees.
    *
    * Mechanics (all doc-partitioned windows — parallel across the
    * corpus, no cross-doc data motion): grams form per position via
    * `lead` (one window); a position is a duplicate START when an equal
    * gram exists at a smaller position (min-over-(doc, gram) window);
    * span coverage folds into a RUNNING MAX of duplicate-span ends (one
    * window) — position p is dropped iff max end > p, which handles
    * arbitrary overlapping/chained spans in linear time instead of a
    * per-doc range join; survivors reassemble with the [[dedupLines]]
    * collect_list pattern. Output: (doc_id, clean_text, n_tokens,
    * n_removed).
    */
  def dedupSpans(docs: DataFrame, n: Int = 3,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(n >= 2, s"need n >= 2, got $n")
    val base = docs.select(col(idCol).as("doc_id"),
      posexplode(Fns.tokens(col(textCol))).as(Seq("i", "t")))
    val wSeq = Window.partitionBy("doc_id").orderBy("i")
    val gram = base.withColumn("gram",
      concat_ws(" ", (col("t") +: (1 until n).map(k => lead(col("t"), k).over(wSeq))): _*))
      // a position can only START a gram when n tokens remain
      .withColumn("gram",
        when(lead(col("t"), n - 1).over(wSeq).isNotNull, col("gram")))
    val firstAt = Window.partitionBy("doc_id", "gram")
    val marked = gram.withColumn("dup_start",
      col("gram").isNotNull && col("i") > min(col("i")).over(firstAt))
    val cover = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = marked.withColumn("cov_end",
      max(when(col("dup_start"), col("i") + n)).over(cover))
      .withColumn("dropped", coalesce(col("cov_end") > col("i"), lit(false)))
    val kept = flagged.filter(!col("dropped"))
      .groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("i"), col("t")))),
        s => s.getField("t")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    flagged.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Language-ID with a confidence margin: the [[langId]] marker scores
    * plus top1 − top2 margin and top1/total share — the signals a corpus
    * filter thresholds on ("keep only confidently-English documents").
    * Zero-marker documents get margin 0 and NULL share (try_divide).
    * Pure per-row expressions over the fixed 5-language score vector.
    */
  def langIdMargin(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    val scored = langId(docs, textCol, idCol)
    val langs = langMarkers.map(_._1)
    val arr = sort_array(array(langs.map(l => col(s"s_$l")): _*), asc = false)
    val total = langs.map(l => col(s"s_$l")).reduce(_ + _)
    scored.select(col("doc_id"), col("lang_pred"),
      element_at(arr, 1).as("top1"),
      (element_at(arr, 1) - element_at(arr, 2)).as("margin"),
      Fns.q6(try_divide(element_at(arr, 1).cast("double"), total)).as("share"))
  }

  /** Corpus-wide token-length histogram: one narrow explode, one
    * bounded-domain groupBy (token lengths are small integers), output
    * rows = distinct lengths. The shuffle moves only (length, partial
    * count) pairs — register-sized regardless of corpus size.
    */
  def wordLengthHistogram(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(Fns.tokens(col(textCol))).as("tok"))
      .groupBy(length(col("tok")).cast("long").as("token_len"))
      .agg(count(lit(1)).as("n_tokens"), count_distinct(col("tok")).as("n_distinct"))

  /** Per-source character-class profile: total characters plus the
    * fraction that are ASCII letters / digits / whitespace / other — the
    * cheap script/garbage signal web-crawl pipelines gate on before any
    * tokenization (a "text" source that is 40% `other` is markup,
    * base64, or a non-Latin script the langid stage must look at).
    *
    * Counts come from length-difference over `regexp_replace` (one
    * codegen'd regex pass per class, no explode — rows never leave the
    * narrow stage until the per-source aggregate), summed as BIGINTs so
    * the fractions are one exact division at the end. Shuffle: one
    * hash aggregate keyed by source, carrying four counters per row
    * group — register-sized at any corpus scale.
    */
  def charClassProfile(docs: DataFrame, textCol: String = "text",
                       srcCol: String = "source"): DataFrame = {
    def cnt(re: String) =
      (length(col(textCol)) - length(regexp_replace(col(textCol), re, ""))).cast("long")
    def frac(c: Column, n: Column) =
      Fns.q6(try_divide(c.cast("double"), n.cast("double")))
    val agg = docs.groupBy(col(srcCol).as("source"))
      .agg(sum(length(col(textCol)).cast("long")).as("n_chars"),
        sum(cnt("[A-Za-z]")).as("n_alpha"),
        sum(cnt("[0-9]")).as("n_digit"),
        sum(cnt("\\s")).as("n_space"))
    agg.select(col("source"), col("n_chars"),
      frac(col("n_alpha"), col("n_chars")).as("frac_alpha"),
      frac(col("n_digit"), col("n_chars")).as("frac_digit"),
      frac(col("n_space"), col("n_chars")).as("frac_space"),
      frac(col("n_chars") - col("n_alpha") - col("n_digit") - col("n_space"),
        col("n_chars")).as("frac_other"))
  }

  /** Per-source lexical diversity (Simpson/repeat-rate): the probability
    * that two tokens drawn without replacement from the source are the
    * SAME type, Σ f·(f−1) / (N·(N−1)), and its complement as the
    * diversity index. Low diversity flags template/boilerplate-heavy
    * sources that length or langid filters miss. The statistic is a pure
    * integer ratio until the final division, so both engines agree
    * bit-for-bit with no rounding choreography.
    *
    * Shuffle shape: one explode + hash aggregate on (source, token)
    * (map-side combinable), then a per-source rollup of the f·(f−1)
    * moments — counters only, never token text, past the first stage.
    */
  def simpsonDiversity(docs: DataFrame, textCol: String = "text",
                       srcCol: String = "source"): DataFrame = {
    val freqs = docs
      .select(col(srcCol).as("source"), explode(Fns.tokens(col(textCol))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("f"))
    freqs.groupBy(col("source"))
      .agg(sum(col("f")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        // f·(f−1) through DECIMAL(19)×DECIMAL(19): exact and
        // overflow-free even for a token with billions of occurrences.
        sum(col("f").cast("decimal(19,0)") *
          (col("f") - 1).cast("decimal(19,0)")).as("rep_mass"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        Fns.q6(lit(1.0) - try_divide(col("rep_mass").cast("double"),
          col("n_tokens").cast("double") *
            (col("n_tokens") - 1).cast("double")))
          .as("simpson_diversity"))
  }

  /** Heaps'-law vocabulary-growth fit: order the corpus by doc id, cut
    * it into `nBuckets` equal-width id prefixes, measure cumulative
    * token mass and cumulative distinct types at each cut, and OLS-fit
    * log(types) = β·log(tokens) + c. β (typically 0.4–0.6 for natural
    * text) prices how much NEW vocabulary further crawling buys —
    * β near 0 means the corpus has saturated, β near 1 means it is
    * ID-like/unbounded (tokenizer poison). Same determinism recipe as
    * [[zipfSlope]]: 6-dp-rounded logs into DECIMAL sums, one closed-form
    * division at the end.
    *
    * Scale shape: the cumulative-distinct count NEVER windows over
    * tokens — each type contributes exactly one row (its FIRST bucket,
    * a min aggregate), and the cumulative sums run over `nBuckets` rows.
    * Two hash aggregates ((bucket) token mass, (token) first-bucket),
    * one bounded window over nBuckets rows, one tiny OLS aggregate.
    */
  def heapsLaw(docs: DataFrame, nBuckets: Int = 10,
               textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(nBuckets >= 2, s"need nBuckets >= 2, got $nBuckets")
    val bounds = docs.agg(min(col(idCol)).cast("long").as("lo"),
      max(col(idCol)).cast("long").as("hi"))
    // equal-width id buckets 0..nBuckets-1 (hi lands in the last one)
    val toks = docs.crossJoin(broadcast(bounds))
      .select(least(lit(nBuckets - 1),
          floor(((col(idCol).cast("long") - col("lo")) * nBuckets) /
            greatest(col("hi") - col("lo") + 1, lit(1L)))).cast("long").as("b"),
        explode(Fns.tokens(col(textCol))).as("tok"))
    val massPerBucket = toks.groupBy("b").agg(count(lit(1)).as("mass"))
    val firstBucket = toks.groupBy("tok").agg(min(col("b")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = massPerBucket.join(firstBucket, Seq("b"), "left")
      .select(col("b"), sum(col("mass")).over(w).as("cum_tokens"),
        sum(coalesce(col("new_types"), lit(0L))).over(w).as("cum_types"))
      .select(round(log(col("cum_tokens").cast("double")), 6).as("x"),
        round(log(col("cum_types").cast("double")), 6).as("y"))
    def d6(c: Column) = c.cast("decimal(28,6)")
    def d12(c: Column) = Fns.q6(c).cast("decimal(28,6)")
    pts.agg(count(lit(1)).as("n_points"),
        sum(d6(col("x"))).as("sx"), sum(d6(col("y"))).as("sy"),
        sum(d12(col("x") * col("y"))).as("sxy"),
        sum(d12(col("x") * col("x"))).as("sxx"))
      .select(col("n_points"),
        Fns.q6((col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double") / col("n_points")) /
          (col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double") / col("n_points")))
          .as("heaps_beta"))
  }

  /** Readability scores per document: Flesch reading-ease and
    * Flesch–Kincaid grade from regex-counted words, sentence
    * terminators and vowel-group "syllables" — the classic text-quality
    * prior (too-hard and too-trivial documents both correlate with low
    * training value). The syllable count is the standard vowel-run
    * approximation, stated as such; a corpus with no terminators reads
    * as one long sentence (max(1, ·)). Pure per-row regex counting +
    * two fixed-order rounded formulas — one narrow scan, trivially
    * engine-identical. Docs with zero words are excluded (both formulas
    * divide by words).
    */
  def readability(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val words = size(regexp_extract_all(col(textCol),
      lit("[A-Za-z0-9]+"), lit(0))).cast("long")
    val sents = greatest(lit(1L),
      size(regexp_extract_all(col(textCol), lit("[.!?]"), lit(0)))
        .cast("long"))
    val sylls = size(regexp_extract_all(col(textCol),
      lit("[aeiouyAEIOUY]+"), lit(0))).cast("long")
    docs.select(col(idCol).as("doc_id"), words.as("n_words"),
        sents.as("n_sentences"), sylls.as("n_syllables"))
      .filter(col("n_words") > 0L)
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        Fns.q6(lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") /
            col("n_sentences").cast("double")) -
          lit(84.6) * (col("n_syllables").cast("double") /
            col("n_words").cast("double"))).as("flesch_ease"),
        Fns.q6(lit(0.39) * (col("n_words").cast("double") /
            col("n_sentences").cast("double")) +
          lit(11.8) * (col("n_syllables").cast("double") /
            col("n_words").cast("double")) - lit(15.59))
          .as("fk_grade"))
  }

  /** Term burstiness (dispersion) over the top-`maxVocab` vocabulary:
    * per term, document frequency, total count, and the
    * variance-to-mean ratio of its PER-DOCUMENT count including zeros
    * (Church & Gale) — VMR ≈ 1 is Poisson-uniform filler, VMR ≫ 1 is a
    * bursty topical term that piles into few documents. The content-vs-
    * function-word axis a stopword list approximates by hand.
    *
    * Moments from exact integers: per-doc counts c are BIGINT, Σc and
    * Σc² exact, mean/E[x²] one rounded division each over the doc
    * count (zero-docs contribute zero to both sums, so only (doc,term)
    * rows that EXIST are touched — cardinality = corpus postings, not
    * docs×vocab). Output ≤ maxVocab rows.
    */
  def termDispersion(docs: DataFrame, maxVocab: Int = 200,
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    val v = vocabulary(docs, maxVocab, textCol, idCol).select("term")
    val dt = docs
      .select(col(idCol).as("doc_id"), explode(Fns.tokens(col(textCol))).as("term"))
      .join(broadcast(v), "term")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("c"))
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    dt.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("c").as("freq"),
        sum(col("c") * col("c")).as("s2"))
      .crossJoin(broadcast(nDocs))
      .select(col("term"), col("df"), col("freq"),
        Fns.q6((col("s2").cast("double") / col("nd").cast("double") -
          (col("freq").cast("double") / col("nd").cast("double")) *
            (col("freq").cast("double") / col("nd").cast("double"))) /
          (col("freq").cast("double") / col("nd").cast("double")))
          .as("vmr"))
  }

  /** Distinctive-terms ("keyness") report: for each source, the
    * `topK` most over-represented vocabulary terms by z-scored
    * smoothed log-odds ratio versus the REST of the corpus (the
    * Monroe et al. weighted-log-odds shape with a ±0.5 Haldane prior)
    * — the dataset-card row that says WHAT a source talks about, not
    * just how much. Restricted to the top-`maxVocab` corpus vocabulary
    * so the per-source ranking window is constant-bounded.
    *
    * z = Δ/√(1/(y_s+½) + 1/(y_o+½)), Δ = ln-odds(source) −
    * ln-odds(rest); counts are exact BIGINTs, the four ln operands are
    * exact-integer-plus-half doubles composed in fixed order, z is
    * 6-dp-rounded before the (z DESC, term ASC) rank — membership
    * discipline. Cost: the vocabulary pass, one (source, term)
    * aggregate, a sources×vocab spine join, a per-source ≤maxVocab
    * window.
    */
  def keynessTopTerms(docs: DataFrame, topK: Int = 5, maxVocab: Int = 200,
                      sourceCol: String = "source", textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    require(topK >= 1, s"need topK >= 1, got $topK")
    val v = vocabulary(docs, maxVocab, textCol, idCol)
      .select(col("term"), col("freq").as("y_w"))
    val sw = docs
      .select(col(sourceCol).as("source"), explode(Fns.tokens(col(textCol))).as("term"))
      .join(broadcast(v.select("term")), "term")
      .groupBy("source", "term").agg(count(lit(1)).as("y_sw"))
    val sources = sw.groupBy("source").agg(sum("y_sw").as("n_s"))
    val tot = sources.agg(sum("n_s").as("n"))
    val spine = sources.crossJoin(broadcast(v))
      .join(sw, Seq("source", "term"), "left")
      .na.fill(0L, Seq("y_sw"))
      .crossJoin(broadcast(tot))
    val ys = col("y_sw").cast("double") + 0.5
    val bs = (col("n_s") - col("y_sw")).cast("double") + 0.5
    val yo = (col("y_w") - col("y_sw")).cast("double") + 0.5
    val bo = (col("n") - col("n_s") - (col("y_w") - col("y_sw")))
      .cast("double") + 0.5
    val z = round((log(ys / bs) - log(yo / bo)) /
      sqrt(lit(1.0) / ys + lit(1.0) / yo), 6)
    val w = Window.partitionBy("source").orderBy(col("z").desc, col("term").asc)
    spine.withColumn("z", z)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("source"), col("rank").cast("long").as("rank"),
        col("term"), col("y_sw"), col("z"))
  }

  /** Gini coefficient of the top-`maxVocab` term-frequency distribution
    * — the vocabulary-concentration scalar (0 = uniform usage, →1 = a
    * few terms dominate) that complements [[zipfSlope]]'s power-law fit
    * and [[simpsonIndex]]'s collision probability on a dataset card.
    *
    * Uses [[vocabulary]]'s frequency-ranked ids directly: with ids
    * 0-based DESCENDING, the ascending rank is n − term_id, so the
    * classic sorted-form numerator Σ fᵢ(2i − n − 1) becomes
    * Σ f·(n − 2·term_id − 1) — BIGINT-exact, order-free (ties in freq
    * contribute the same sum under any within-tie ordering), one final
    * rounded division. Cost: the vocabulary pass plus a single-row
    * reduce.
    */
  /** Per-group regex-pattern scan report (the PII-audit shape: emails,
    * phone numbers, IP addresses — any leak-detection pattern list): for
    * each group, the row count plus, per pattern, the total match count
    * and how many rows matched at least once. ONE conditional-aggregation
    * pass over the corpus — all patterns evaluate per row inside the same
    * projection, so N patterns never mean N scans; output cardinality is
    * the group count. Patterns must stay in the regex dialect both
    * engines share (character classes, bounded repeats — no lookaround).
    */
  def patternScan(df: DataFrame, textCol: String, groupCol: String,
                  patterns: Seq[(String, String)]): DataFrame = {
    require(patterns.nonEmpty, "need at least one pattern")
    val aggs = patterns.flatMap { case (name, re) =>
      val cnt = size(regexp_extract_all(col(textCol), lit(re), lit(0)))
        .cast("long")
      Seq(sum(cnt).as(s"n_$name"),
        sum(when(cnt > 0L, 1L).otherwise(0L)).as(s"rows_$name"))
    }
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  def giniConcentration(docs: DataFrame, maxVocab: Int = 200,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val v = vocabulary(docs, maxVocab, textCol, idCol)
    val tot = v.agg(count(lit(1)).as("n_terms"), sum("freq").as("total"))
    v.crossJoin(broadcast(tot))
      .agg(min("n_terms").as("n_terms"), min("total").as("total"),
        sum(col("freq") * (col("n_terms") - lit(2L) * col("term_id") - lit(1L)))
          .as("num"))
      .select(col("n_terms"), col("total"),
        Fns.q6(col("num").cast("double") /
          (col("n_terms").cast("double") * col("total").cast("double")))
          .as("gini"))
  }

  /** Dunning G² (log-likelihood ratio) collocations: for each adjacent
    * bigram, the 2×2 contingency table over bigram positions —
    * k11 = c(ab), k12 = c(a·)−c(ab), k21 = c(·b)−c(ab), k22 = rest —
    * scored `G² = 2·Σ k·ln(k·M/(R·C))`. Dunning (1993)'s fix for
    * exactly [[pmiBigrams]]'s failure mode: PMI explodes on rare pairs,
    * G² rewards pairs that are BOTH surprising and well-attested — the
    * collocation ranking you actually feed a tokenizer-merge list.
    *
    * Scale shape: one bigram count shuffle (map-side combined), two
    * marginal aggregates REUSING the bigram counts (vocabulary-sized,
    * never a second corpus pass), one broadcast total, top-k via
    * TakeOrderedAndProject. G² is a fixed per-row double expression
    * over exact BIGINT counts (zero cells contribute 0 by `when`
    * guards), rounded once.
    */
  def g2Collocations(docs: DataFrame, k: Int, minCount: Long = 5L,
                     textCol: String = "text"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val bi = docs.select(Fns.tokens(col(textCol)).as("toks"))
      // Project barrier under the Generate (Fns.shingles contract)
      .select(explode(Fns.shingles(col("toks"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("k11"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    val r = bi.groupBy(col("w1")).agg(sum(col("k11")).as("ra"))
    val c = bi.groupBy(col("w2")).agg(sum(col("k11")).as("cb"))
    val tot = bi.agg(sum(col("k11")).as("m"))
    def term(kc: Column, row: Column, colm: Column) =
      when(kc > 0, kc.cast("double") *
        log(kc.cast("double") * col("m").cast("double") /
          (row.cast("double") * colm.cast("double")))).otherwise(lit(0.0))
    val k12 = col("ra") - col("k11")
    val k21 = col("cb") - col("k11")
    val k22 = col("m") - col("ra") - col("cb") + col("k11")
    bi.filter(col("k11") >= minCount)
      .join(r, "w1").join(c, "w2")
      .crossJoin(broadcast(tot))
      .select(col("bigram"), col("k11").as("c_ab"),
        col("ra").as("c_a_first"), col("cb").as("c_b_second"),
        round(lit(2.0) * (
          term(col("k11"), col("ra"), col("cb")) +
          term(k12, col("ra"), col("m") - col("cb")) +
          term(k21, col("m") - col("ra"), col("cb")) +
          term(k22, col("m") - col("ra"), col("m") - col("cb"))), 6)
          .as("g2"))
      .orderBy(col("g2").desc, col("bigram").asc)
      .limit(k)
  }

  /** Pairwise Jensen–Shannon divergence between per-source unigram
    * distributions — the symmetric, bounded (≤ ln 2) "how different are
    * these corpora" number behind data-mixing decisions ("is source X
    * redundant with Y?") and drift tracking. For each source pair
    * (a < b): `JSD = ½Σ p·ln(2p/(p+q)) + ½Σ q·ln(2q/(p+q))` over the
    * union of supports (a term absent from one side contributes its
    * full ½·p·ln 2).
    *
    * Scale shape: one (source, term) count shuffle (map-side combined,
    * vocabulary-sized), the tiny source-pair frame broadcast onto it
    * twice, then a full-outer join keyed on (pair, term) — vocab × pairs
    * rows, never corpus-sized — and one aggregate per pair. Per-term
    * contributions are 9-dp-rounded and DECIMAL-summed (order-free);
    * probabilities divide exact BIGINTs.
    */
  def jsdBySource(docs: DataFrame, sourceCol: String = "source",
                  textCol: String = "text"): DataFrame = {
    val sc = docs.select(col(sourceCol).as("src"),
        explode(Fns.tokens(col(textCol))).as("t"))
      .groupBy("src", "t").agg(count(lit(1)).as("c"))
    val n = sc.groupBy("src").agg(sum(col("c")).as("n"))
    val pt = sc.join(n, "src")
      .select(col("src"), col("t"),
        (col("c").cast("double") / col("n").cast("double")).as("p"))
    val srcs = n.select(col("src"))
    val pairs = srcs.as("a").join(srcs.as("b"),
        col("a.src") < col("b.src"))
      .select(col("a.src").as("sa"), col("b.src").as("sb"))
    val left = pairs.join(pt.withColumnRenamed("src", "sa")
      .withColumnRenamed("p", "pa"), Seq("sa"))
    val right = pairs.join(pt.withColumnRenamed("src", "sb")
      .withColumnRenamed("p", "pb"), Seq("sb"))
    val full = left.join(right, Seq("sa", "sb", "t"), "full_outer")
      .select(col("sa"), col("sb"),
        coalesce(col("pa"), lit(0.0)).as("pa"),
        coalesce(col("pb"), lit(0.0)).as("pb"))
    def half(p: Column, q: Column) =
      when(p > 0, p * log(lit(2.0) * p / (p + q))).otherwise(lit(0.0))
    full.groupBy(col("sa").as("source_a"), col("sb").as("source_b"))
      .agg(count(lit(1)).as("n_terms_union"),
        sum(round(lit(0.5) * (half(col("pa"), col("pb")) +
          half(col("pb"), col("pa"))), 9).cast("decimal(18,9)")).as("jd"))
      .select(col("source_a"), col("source_b"), col("n_terms_union"),
        Fns.q6(col("jd").cast("double")).as("jsd"),
        Fns.q6(sqrt(col("jd").cast("double"))).as("jsd_distance"))
  }

  /** Yule's characteristic K per source: 10⁴·(Σf² − N)/N² over the
    * source's term frequencies f (N = token count) — the classic
    * length-invariant vocabulary-repetitiveness constant (Yule 1944;
    * ~Simpson's index ×10⁴ on terms). Low K ≈ rich diction; a template
    * farm or boilerplate-heavy source runs an order of magnitude higher
    * — the corpus-level cousin of [[repetitionScore]], and the cheap
    * pre-filter before per-doc scoring. Since Σ m²·V_m = Σ f², no
    * frequency-of-frequency pass is needed.
    *
    * Two hash aggregates ((source, term) counts, then the source
    * rollup); Σf² rides DECIMAL(38,0) (BIGINT would overflow once a
    * source's top term passes ~3·10⁹ occurrences); one double division,
    * DECIMAL(24,12)-routed. Sources of < 2 tokens get NULL via
    * try_divide.
    */
  def yuleK(docs: DataFrame, srcCol: String = "source",
            textCol: String = "text"): DataFrame =
    docs
      .select(col(srcCol).as("source"),
        explode(Fns.tokens(col(textCol))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("f"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"), sum(col("f")).as("n_tokens"),
        sum(col("f").cast("decimal(19,0)") * col("f").cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("sff"))
      .select(col("source"), col("n_terms"), col("n_tokens"),
        Fns.q6(try_divide(
            lit(10000.0) * (col("sff").cast("double") -
              col("n_tokens").cast("double")),
            col("n_tokens").cast("double") * col("n_tokens").cast("double")))
          .as("yule_k"))

  /** Term burstiness (Fano factor) for the top `maxVocab` corpus terms:
    * variance-to-mean ratio of the term's PER-DOCUMENT count over ALL
    * documents (absences count as zeros — that is the point). Content
    * words clump (a doc about a topic repeats its nouns: Fano ≫ 1),
    * function words spread evenly (Fano ≈ 1, Poisson); the
    * Church–Gale burstiness signal that separates keyword-stuffed spam
    * from natural prose and calibrates df-based IDF against tf-based
    * scores. Zero-count docs enter through the closed form — only n is
    * needed, never materialized zero rows.
    *
    * Determinism: with integer counts, Fano =
    * (n·Σc² − (Σc)²)/(n·Σc) — centered moment formed EXACTLY in
    * DECIMAL(38,0) (ADVICE discipline: a term appearing once per doc
    * everywhere yields numerator exactly 0, never rounding noise), one
    * double division out. Scale shape: one (term, doc) hash aggregate
    * (cardinality ≤ postings, map-side combined), a vocab-level
    * semi-join against the top-k table, one term rollup, one broadcast
    * doc-count scalar.
    */
  def termBurstiness(docs: DataFrame, maxVocab: Int = 200,
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    require(maxVocab >= 1, s"need maxVocab >= 1, got $maxVocab")
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val perDoc = docs
      .select(col(idCol).as("doc_id"),
        explode(Fns.tokens(col(textCol))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("c"))
    val top = vocabulary(docs, maxVocab, textCol, idCol)
      .select(col("term"))
    val m = perDoc.join(top, Seq("term"), "left_semi")
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        sum(col("c")).as("sc"),
        sum(col("c").cast("decimal(19,0)") * col("c").cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("scc"))
      .crossJoin(broadcast(nDocs))
    val cxx = (col("n_docs").cast("decimal(38,0)") * col("scc") -
      col("sc").cast("decimal(38,0)") * col("sc").cast("decimal(38,0)"))
      .cast("double")
    m.select(col("term"), col("df"), col("sc").as("total"),
      Fns.q6(try_divide(cxx,
          col("n_docs").cast("double") * col("sc").cast("double")))
        .as("fano"))
  }
}
