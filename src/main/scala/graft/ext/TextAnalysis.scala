package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Artifacts

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, document fingerprinting.
  * All pure narrow column expressions (whole-stage codegen, zero shuffle) —
  * at 100 TB these run at scan speed with predicate/column pushdown intact.
  */
object TextAnalysis {

  /** Executor-side zlib state for [[compressionRatio]] — one per task
    * thread, reset per row.
    */
  private[ext] val deflaterPerThread: ThreadLocal[java.util.zip.Deflater] =
    ThreadLocal.withInitial(() => new java.util.zip.Deflater())

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(text, " +")

  /** Token count (whitespace tokens). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count estimate: word-boundary pieces + digit runs +
    * punctuation, the standard pre-tokenizer regex shape.
    *
    * Computed by the COUNT identity the oracle already states (r17,
    * guide step 4): every non-alnum char is its own piece and every
    * maximal alnum run is one piece, so
    * `n = #alnum-runs + #non-alnum-chars` — one no-alloc regex pass
    * plus a `translate` char scan, instead of materializing every piece
    * through a lookaround split and an INTERPRETED higher-order filter
    * (HOFs are CodegenFallback; measured 7.1 s single-task for 50 k docs
    * at ×10 vs 0.6 s for this form). Parity with the split form is
    * pinned in EvalFunctionsSpec against the test-side
    * `TextAnalysisTwins.subwordCountSplit` for BMP text; on astral-plane characters this form counts CODE POINTS
    * (`length`/`translate` semantics — exactly what the DuckDB oracle's
    * identity computes), where the old UTF-16 split counted each
    * surrogate half as its own piece. The corpora contain no astral
    * characters (the old form would have been oracle-red otherwise), so
    * every declared result is unchanged; the astral behavior is pinned
    * to the ORACLE's semantics in the spec.
    */
  def subwordCount(text: Column): Column =
    graft.functions.GraftFunctions.regex_count(text, "[A-Za-z0-9]+") +
      length(translate(text, AlnumChars, ""))

  private[graft] val AlnumChars =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"

  /** Canonical text normalization for dedup keys: lowercase, strip
    * punctuation, collapse whitespace runs, trim. Exact dedup over the
    * NORMALIZED text catches the near-identical copies (case or
    * punctuation edits) that byte-exact hashing misses — the standard
    * CCNet/RefinedWeb canonicalization step before content hashing.
    * Restricted to Java/RE2-common regex syntax like [[redactPii]], so
    * an external auditor reproduces the same canonical form.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[\\.,;:!\\?'\"()\\[\\]{}]", ""),
      "\\s+", " "))

  /** Plain-text extraction from HTML markup — the WET-style step a web
    * corpus runs before any text op: drop `<script>`/`<style>` payloads
    * and comments wholesale, replace every remaining tag with a
    * separator (so adjacent block elements never fuse words), decode
    * the six ubiquitous entities, and collapse whitespace. A regex
    * chain, not a DOM parse — the Trafilatura-class extraction quality
    * a production crawl pipeline wants needs a real parser, which plugs
    * in behind [[graft.ext.HtmlExtraction.extractWithParser]] (the
    * [[graft.ext.Multimodal]] stub pattern, with byte-for-byte parity
    * to this kernel pinned in tests); this is
    * the codegen-friendly narrow kernel for the 80 % case, and every
    * pattern is RE2-portable so other engines reproduce it exactly.
    *
    * `&amp;` decodes LAST: an input like `&amp;lt;` means a literal
    * "&lt;" and must not double-decode into a real `<`.
    */
  def extractHtmlText(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<(script|style)[^>]*>.*?</(script|style)\\s*>", " ")
    val noComments = regexp_replace(noScript, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComments, "<[^>]*>", " ")
    // entity patterns are LITERAL strings: StringReplace (a plain char
    // scan) replaces the same left-to-right non-overlapping occurrences
    // as a literal-pattern regexp_replace at a fraction of the cost
    // (r17; the stub parser twin applies the same substitution, so
    // byte parity is unchanged)
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  private[graft] val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for")

  /** Quality signals: char length, token count, mean token length,
    * punctuation ratio, stopword ratio. Heuristics of the C4/Gopher-rule
    * family, as single-pass expressions.
    */
  def qualitySignals(df: DataFrame, textCol: String): DataFrame = {
    // ONE byte scan for the three integers (r17, guide step 4): the
    // split-array form allocated every token per row and counted
    // stopwords through an INTERPRETED higher-order filter (HOFs are
    // CodegenFallback) plus a regex pass for the punctuation count —
    // measured 6.2 s single-task for 50 k docs at ×10 vs <1 s for this
    // form. Value-identical by construction (piece count = space-run
    // count + 1 under split's limit=-1; ASCII bytes never occur inside
    // UTF-8 multi-byte sequences), pinned bitwise against the test-side
    // `TextAnalysisTwins.qualitySignalsSplit` in EvalFunctionsSpec.
    val st = graft.functions.GraftFunctions.space_token_stats(col(textCol), Stopwords)
    val nTok = st.getField("n_tokens")
    df.withColumn("n_chars_m", length(col(textCol)))
      .withColumn("n_tokens", nTok)
      .withColumn("mean_token_len",
        (length(col(textCol)) - nTok + 1).cast("double") / nTok)
      .withColumn("punct_ratio",
        st.getField("n_punct").cast("double") / length(col(textCol)))
      .withColumn("stopword_ratio", st.getField("n_stop").cast("double") / nTok)
  }

  /** Quality FILTER: the decision step over [[qualitySignals]] — C4/Gopher
    * rule shape: drop too-short documents, implausibly long average
    * tokens, punctuation-heavy text, and text with no stopword mass
    * (gibberish/non-prose). `reason` is the FIRST failing rule in fixed
    * order (null = kept), so drops are attributable; `keep` is its null
    * check. Pure narrow expressions on top of the signal pass — still one
    * scan, no shuffle.
    */
  // Default rule thresholds — referenced by the registry oracles too, so
  // a tuning change cannot desynchronize the Spark side from the SQL side.
  val DefaultMinTokens = 20
  val DefaultMaxMeanTokenLen = 6.0
  val DefaultMaxPunctRatio = 0.1
  val DefaultMinStopwordRatio = 0.05

  def qualityFilter(df: DataFrame, textCol: String,
                    minTokens: Int = DefaultMinTokens,
                    maxMeanTokenLen: Double = DefaultMaxMeanTokenLen,
                    maxPunctRatio: Double = DefaultMaxPunctRatio,
                    minStopwordRatio: Double = DefaultMinStopwordRatio): DataFrame =
    qualitySignals(df, textCol)
      .withColumn("reason",
        when(col("n_tokens") < minTokens, "short")
          .when(col("mean_token_len") > maxMeanTokenLen, "long_tokens")
          .when(col("punct_ratio") > maxPunctRatio, "punct")
          .when(col("stopword_ratio") < minStopwordRatio, "low_stopword"))
      .withColumn("keep", col("reason").isNull)

  /** Language-ID by marker-token voting: count hits against small per-
    * language lexicons, argmax with deterministic tie-break on language
    * code order. (An n-gram heuristic in the fastText spirit; lexicons are
    * intentionally tiny — the operator shape is what scales, the lexicon is
    * pluggable.)
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "and", "is", "of", "to", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  def languageId(df: DataFrame, textCol: String, out: String = "lang_pred"): DataFrame = {
    // ONE aggregate over the token array: a struct accumulator counts every
    // lexicon simultaneously (one isin per lexicon per token) and the
    // argmax folds inside the aggregate's finish lambda — the accumulator
    // is a bound lambda variable there, so Catalyst cannot re-inline the
    // scoring pass per language (the 5-filter form re-tokenized and
    // re-scanned per lexicon: 5 scans per document).
    val zero = struct(LangMarkers.map { case (l, _) => lit(0).as(s"s_$l") }: _*)
    def merge(acc: Column, t: Column): Column =
      struct(LangMarkers.map { case (l, markers) =>
        (acc.getField(s"s_$l") + when(t.isin(markers: _*), 1).otherwise(0)).as(s"s_$l")
      }: _*)
    def finish(acc: Column): Column = {
      // argmax with ties broken by language-code order: fold a running best
      val first = LangMarkers.head._1
      LangMarkers.tail.foldLeft(
        struct(acc.getField(s"s_$first").as("s"), lit(first).as("l"))) {
        case (best, (lang, _)) =>
          when(acc.getField(s"s_$lang") > best.getField("s"),
               struct(acc.getField(s"s_$lang").as("s"), lit(lang).as("l"))).otherwise(best)
      }.getField("l")
    }
    df.withColumn(out, aggregate(tokens(col(textCol)), zero, merge, finish))
  }

  /** Repetition signal (Gopher rule family): the fraction of a document's
    * tokens taken by its single most frequent token — near 1.0 flags
    * degenerate/repetitive text. Explode → two hash aggregates (per-doc
    * token counts, then per-doc max/total); both map-side combined, keys
    * are (doc, token) — scales with corpus size, never with vocabulary.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("_t"))
      .filter(length(col("_t")) > 0)
      .groupBy(col(idCol), col("_t")).agg(count(lit(1)).as("_c"))
      .groupBy(col(idCol))
      .agg((max(col("_c")) / sum(col("_c"))).as("top_token_ratio"),
        count(lit(1)).as("n_distinct_tokens"))

  /** Vocabulary building: corpus-wide token frequencies, top `k` by
    * (count desc, token asc) — the seed step for tokenizer/BPE training.
    * One explode + hash aggregate (map-side combined: the shuffle carries
    * one (token, partial count) per distinct token per partition, not one
    * row per token occurrence) + distributed TakeOrdered for the top-k —
    * no full sort of the vocabulary.
    */
  def vocabulary(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), col("token"))
      .limit(k)

  /** N-gram frequency top-k (n ≥ 2; n = 1 is [[vocabulary]]) — the
    * language-model co-occurrence statistic. The token array materializes
    * BELOW a posexplode Generate node (an optimization barrier), so the
    * split runs once per document and each n-gram is n O(1) element_at
    * reads — the per-row HOF shingle form re-inlined the split per
    * element (measured 5 s vs 0.5 s at sf0.1). Then the same map-side-
    * combined aggregate → TakeOrdered shape as [[vocabulary]].
    */
  def ngramCounts(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame =
    df.select(tokens(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) >= n)
      .select(col("_toks"),
        posexplode(sequence(lit(0), size(col("_toks")) - n)).as(Seq("_p", "_d")))
      .select(concat_ws(" ",
        (1 to n).map(j => element_at(col("_toks"), col("_p") + j)): _*).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), col("ngram"))
      .limit(k)

  /** Document fingerprint: order-sensitive 64-bit rolling hash of the
    * whitespace tokens — a chained `xxhash64(acc, token)` fold (hash
    * chaining rather than `Σ h·31^k`: identical dedup-key semantics,
    * without the mod-2^64 overflow ANSI mode rejects).
    */
  def fingerprint(text: Column): Column =
    aggregate(
      tokens(text),
      lit(1125899906842597L),
      (acc, t) => xxhash64(acc, t))

  /** Gopher-style intra-document repetition via n-grams: the fraction of
    * a document's n-gram occurrences that duplicate an earlier one
    * (`1 − distinct/total`) — high values mark looped/boilerplate text
    * the quality rules should drop. Entirely per-row (token-hash array →
    * gram-hash array → `array_distinct`): ZERO shuffle, so it composes
    * into an ingest stream as a narrow projection like
    * [[qualityFilter]]. Same hashed-n-gram identity as
    * [[graft.ext.Dedup.jaccardVerify]].
    *
    * Output: (idCol, n_ngrams, n_distinct, dup_frac rounded to 1e-6;
    * documents shorter than n tokens report (0, 0, 0.0)).
    */
  def dupNgramStats(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // the gram array is built through Dedup.shingleHashArray's let-bound
    // form: HOF lambdas run interpreted, so an INLINE token-hash array
    // would be re-tokenized per element_at — O(tokens²·chars) per doc
    // (measured ~10 ms/doc at sf0.1; the lesson of the test-side
    // `TextAnalysisTwins.winnowFingerprintsHof`)
    df.select(col(idCol), Dedup.shingleHashArray(col(textCol), n).as("_grams"))
      // projection barrier: keep CollapseProject from inlining _grams
      // into both size() consumers below (as in `winnowFingerprintsHof`)
      .select(col(idCol), col("_grams"), explode(array(lit(0))).as("_b1"))
      .select(col(idCol),
        size(col("_grams")).cast("long").as("n_ngrams"),
        size(array_distinct(col("_grams"))).cast("long").as("n_distinct"))
      .withColumn("dup_frac",
        when(col("n_ngrams") > 0,
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams"), 6))
          .otherwise(lit(0.0)))
      .drop("_b1")
  }

  /** Per-document language-model quality score: the mean natural-log
    * probability of the document's token bigrams under an add-one-
    * smoothed bigram model fit on the whole corpus —
    * `P(w2|w1) = (c(w1 w2) + 1) / (c(w1·) + V)` with `c(w1·)` the
    * bigram-prefix count and `V` the corpus vocabulary size. Low scores
    * mark documents whose word transitions are atypical for the corpus
    * (the cheap LM-perplexity filter of training-data pipelines).
    *
    * Scale shape: tokens travel as 64-bit `xxhash64` keys. The LM is two
    * map-side-combined aggregates — bigram counts from the pair rows,
    * prefix counts summed from the ALREADY-SHRUNK bigram table (never a
    * second pass over pair rows) — and scoring is one hash join of pair
    * rows against the LM plus a per-doc aggregate. GroupBy (not window)
    * throughout: partial aggregation absorbs hot-bigram skew that a
    * `count over (partition by bigram)` window would concentrate in one
    * task. At 100 TB the LM table is built once and persisted (the
    * [[graft.ext.Similarity.bandedSignatureRows]] write-once lifecycle);
    * this method states the one-shot form.
    *
    * Output: (idCol, n_bigrams: bigint, avg_logprob: double) — documents
    * with fewer than 2 tokens have no bigrams and drop.
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("_id"),
      transform(tokens(col(textCol)), t => xxhash64(t)).as("_th"))
    val pairs = toks.filter(size(col("_th")) >= 2)
      .select(col("_id"), col("_th"),
        posexplode(sequence(lit(0), size(col("_th")) - 2)).as(Seq("_p", "_d")))
      .select(col("_id"),
        element_at(col("_th"), col("_p") + 1).as("_w1"),
        element_at(col("_th"), col("_p") + 2).as("_w2"))
    val c2 = pairs.groupBy("_w1", "_w2").agg(count(lit(1)).as("_c2"))
    val c1 = c2.groupBy("_w1").agg(sum(col("_c2")).cast("long").as("_c1"))
    val vocab = toks.select(explode(col("_th")).as("_t"))
      .agg(countDistinct(col("_t")).as("_v"))
    val lm = c2.join(c1, "_w1").crossJoin(broadcast(vocab))
      .select(col("_w1"), col("_w2"),
        log((col("_c2") + 1).cast("double") / (col("_c1") + col("_v"))).as("_lp"))
    pairs.join(lm, Seq("_w1", "_w2"))
      .groupBy(col("_id").as(idCol))
      .agg(count(lit(1)).as("n_bigrams"), avg(col("_lp")).as("avg_logprob"))
  }

  /** Byte-pair-encoding merge learning over the corpus — the tokenizer
    * TRAINING step of a data pipeline: learn the top `numMerges` BPE
    * merges (Sennrich et al. 2016) from corpus word frequencies.
    *
    * Scale shape: the corpus collapses ONCE to the distinct-word
    * frequency table (sublinear by Heaps' law) and every iteration runs
    * on that table only — an adjacent-pair frequency aggregate
    * (map-side combined, keyed on the pair), a distributed
    * TakeOrdered(1) for the winning pair (ties break count-desc, then
    * left/right-asc, so the learned table is deterministic), and a
    * narrow greedy left-to-right fold that applies the merge to each
    * word's symbol array. State is `localCheckpoint`ed per round (the
    * [[graft.ext.Dedup.duplicateClusters]] pattern) so lineage stays
    * flat across iterations; each round releases the previous round's
    * blocks. The driver holds only the merge table itself —
    * `numMerges` rows, the learned artifact — never the vocabulary.
    *
    * Stops early when no adjacent pair remains (every word fully
    * merged). Output: (merge_rank, left, right, pair_count) in learn
    * order.
    */
  def bpeLearn(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(numMerges > 0, s"need numMerges > 0, got $numMerges")
    var state = bpeInitialWords(df, textCol).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val top = bpePairCounts(state)
        .orderBy(col("_c").desc, col("_l"), col("_r")).limit(1)
        .as[(String, String, Long)].collect()
      if (top.isEmpty) exhausted = true
      else {
        val l = top.head._1
        val r = top.head._2
        merges += ((rank, l, r, top.head._3))
        val next = state
          .withColumn("_syms", applyMergeFold(col("_syms"), l, r))
          .localCheckpoint()
        Artifacts.release(state)
        state = next
        rank += 1
      }
    }
    Artifacts.release(state)
    merges.toSeq.toDF("merge_rank", "left", "right", "pair_count")
  }

  /** [[bpeLearn]] with EXACT batched rounds — the scale path toward
    * production vocabularies (32 k merges), where one Spark job per
    * merge is impractical. Each round counts adjacent pairs ONCE, pulls
    * the top `topK` rows of the (count desc, left, right) order to the
    * driver, and admits the longest PREFIX of that order whose members
    * the sequential learner provably selects in exactly that order:
    *
    *  - '''count invariance''': a later member shares no boundary
    *    symbol with any earlier one (`pj.l != pi.r`, `pj.r != pi.l`,
    *    and neither of pj's symbols equals pi's concatenation string),
    *    so applying the earlier merge cannot change the later pair's
    *    count — which also makes the recorded `pair_count` the
    *    sequential learner's number;
    *  - '''creation bound''': applying (l, r) only CREATES pairs whose
    *    every occurrence consumes an occurrence of a current FEEDER
    *    pair — some (x, l) or (r, y) — so a created pair's count is at
    *    most the largest current feeder count. A later member is
    *    admitted only while its count is STRICTLY above every earlier
    *    member's feeder bound (pairs beyond the collected top-K are
    *    bounded by the K-th count), so no created pair can outrank it;
    *  - '''symbol-collision stop''': if a member's concatenation string
    *    already exists as a symbol — including one created by an EARLIER
    *    member of this same round — the round ends at that member: the
    *    merge conflates two spellings of one symbol, a conflated pair's
    *    count can sum ABOVE every individual feeder bound, and only the
    *    next round's full recount sees the conflated table (exactly as
    *    the sequential learner would).
    *
    * The batch applies as one chained [[applyMergeFold]] in rank order —
    * one pair-count job per ROUND instead of per merge — and by the
    * invariance condition the learned table is BITWISE identical to
    * [[bpeLearn]]'s (pinned in tests on the Sennrich fixture and on
    * corpus data). Worst case every round admits one merge and the
    * loop degenerates to the sequential learner.
    *
    * '''Two regimes.''' The state table's ROW count is constant through
    * learning (one row per distinct word — merges shorten symbol
    * arrays, never add rows) and sublinear in the corpus (Heaps' law),
    * so it is checked ONCE: at or below `driverVocabLimit` rows, the
    * table collects and the whole merge sequence is learned in one
    * driver pass with the engine's exact semantics — same per-position
    * pair counts, same (count desc, left asc, right asc) tie-break via
    * Spark's own `UTF8String` comparator (driver `String.compareTo`
    * orders UTF-16 units, which DISAGREES with the engine's UTF-8 byte
    * order for supplementary code points), same greedy fold. Above the
    * limit, the batched distributed rounds run as before. The driver
    * tail exists because interaction-heavy corpora cap batches at 1–2
    * merges (measured 54 rounds for 89 merges on the bench corpus): a
    * small vocabulary spending one Spark job per round is pure
    * scheduling overhead, while a 100 TB vocabulary (~10⁸ rows) stays
    * safely on the distributed path. Both paths are parity-pinned in
    * tests; pass `driverVocabLimit = 0` to force the distributed
    * rounds.
    */
  def bpeLearnBatched(df: DataFrame, textCol: String, numMerges: Int,
                      maxBatch: Int = 16, topK: Int = 256,
                      driverVocabLimit: Long = 1L << 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(numMerges > 0, s"need numMerges > 0, got $numMerges")
    require(maxBatch > 0 && topK >= maxBatch,
      s"need maxBatch > 0 and topK >= maxBatch, got $maxBatch / $topK")
    val words0 = bpeInitialWords(df, textCol).localCheckpoint()
    // Regime probe bounded by the limit itself: a plain count() would
    // scan the full vocabulary (~1e8 rows at corpus scale) only to
    // learn it exceeds the cap.
    val probeCap = math.min(driverVocabLimit, Int.MaxValue - 1L).toInt
    if (driverVocabLimit > 0 &&
        words0.limit(probeCap + 1).count() <= driverVocabLimit) {
      val collected = words0.select(col("_f"), col("_syms")).collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toArray))
      Artifacts.release(words0)
      return bpeLearnDriverTail(collected, numMerges).toDF(
        "merge_rank", "left", "right", "pair_count")
    }
    // The rounds (and the alphabet collect below) run with AQE off:
    // everything after the corpus-scale bpeInitialWords aggregate
    // (which ran under AQE, before the re-bind) is a fixed-width
    // shuffle of the vocab-sized state table, where AQE's query-stage
    // materialization only multiplies the per-round job count. The
    // override lives on a CLONED session (shared SparkContext and
    // blocks, private SQLConf), so concurrent queries on the caller's
    // session keep their own settings and there is no save/restore
    // window to race on. The already-checkpointed words0 re-binds to
    // the clone (blocks are shared); the round loop's checkpoint
    // rotation releases it like any other round state.
    var state = org.apache.spark.sql.graftbridge.onClonedSession(
      words0,
      "spark.sql.adaptive.enabled" -> "false")
    // symbols live in the driver only as the collision guard: the
    // initial alphabet, plus one concatenation per learned merge
    val symbols = scala.collection.mutable.Set[String]()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var rank = 1
    var exhausted = false
    // The fold chain is checkpointed every few rounds, not every round:
    // between checkpoints the lineage grows by one batch of folds per
    // round over the vocab-sized table (cheap to recompute), and the
    // previous checkpoint's blocks are released only after the next one
    // materializes, so no live lineage ever points at freed blocks.
    val cpEvery = 6
    var sinceCp = 0
    var lastCp = state
    try {
    symbols ++= state.select(explode(col("_syms")).as("_s"))
      .distinct().as[String].collect()
    while (rank <= numMerges && !exhausted) {
      val top = bpePairCounts(state)
        .orderBy(col("_c").desc, col("_l"), col("_r")).limit(topK)
        .as[(String, String, Long)].collect()
      if (top.isEmpty) exhausted = true
      else {
        // counts of pairs NOT collected are bounded by the K-th count
        val outsideBound = if (top.length == topK) top.last._3 else 0L
        def feederBoundOf(l: String, r: String): Long =
          (outsideBound +: top.collect {
            case (x, y, c) if y == l || x == r => c }).max
        val batch = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        val batchConcats = scala.collection.mutable.Set[String]()
        var feederBound = Long.MinValue
        var open = true
        val roomLeft = math.min(maxBatch, numMerges - rank + 1)
        top.foreach { case (l, r, c) =>
          if (open && batch.length < roomLeft) {
            val admissible = batch.isEmpty ||
              (c > feederBound && !batch.exists { case (bl, br, _) =>
                l == br || r == bl || (l == bl && r == br) ||
                  l == bl + br || r == bl + br })
            if (!admissible) open = false
            else {
              batch += ((l, r, c))
              // close on pre-existing symbols AND on a concat already
              // produced by this round: two same-round merges spelling
              // one symbol conflate counts the feeder bound can't see
              if (symbols.contains(l + r) || batchConcats.contains(l + r)) open = false
              else {
                batchConcats += (l + r)
                feederBound = math.max(feederBound, feederBoundOf(l, r))
              }
            }
          }
        }
        batch.foreach { case (l, r, c) =>
          merges += ((rank, l, r, c)); rank += 1; symbols += l + r
        }
        state = state.withColumn("_syms", batch.foldLeft(col("_syms")) {
          case (syms, (l, r, _)) => applyMergeFold(syms, l, r) })
        sinceCp += 1
        if (sinceCp >= cpEvery) {
          val next = state.localCheckpoint()
          Artifacts.release(lastCp)
          lastCp = next
          state = next
          sinceCp = 0
        }
      }
    }
    } finally {
      Artifacts.release(lastCp)
    }
    merges.toSeq.toDF("merge_rank", "left", "right", "pair_count")
  }

  /** The small-vocabulary tail of [[bpeLearnBatched]]: the sequential
    * learner over the COLLECTED word-frequency table, replicating the
    * engine's semantics exactly — per-adjacent-position pair counts
    * weighted by word frequency, winner by (count desc, left asc, right
    * asc) under Spark's `UTF8String` byte comparator (NOT
    * `String.compareTo`, which orders UTF-16 units and disagrees on
    * supplementary code points), and the same greedy left-to-right fold
    * as `applyMergeFold`. O(total symbols) per merge — the naive exact
    * loop, right for vocabularies under the collect limit; large-vocab
    * learning stays on the distributed rounds.
    */
  private def bpeLearnDriverTail(words: Array[(Long, Array[String])],
                                 numMerges: Int): Seq[(Int, String, String, Long)] = {
    import org.apache.spark.unsafe.types.UTF8String
    def less(a: String, b: String): Boolean =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    val freqs = words.map(_._1)
    val bufs: Array[scala.collection.mutable.ArrayBuffer[String]] =
      words.map { case (_, syms) => scala.collection.mutable.ArrayBuffer.from(syms) }
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var wi = 0
      while (wi < bufs.length) {
        val b = bufs(wi); val f = freqs(wi)
        var i = 0
        while (i < b.length - 1) {
          val k = (b(i), b(i + 1))
          pc.update(k, pc.getOrElse(k, 0L) + f)
          i += 1
        }
        wi += 1
      }
      if (pc.isEmpty) exhausted = true
      else {
        var bestL: String = null; var bestR: String = null; var bestC = 0L
        pc.foreach { case ((l, r), c) =>
          val better = bestL == null || c > bestC || (c == bestC &&
            (less(l, bestL) || (l == bestL && less(r, bestR))))
          if (better) { bestL = l; bestR = r; bestC = c }
        }
        merges += ((rank, bestL, bestR, bestC))
        wi = 0
        while (wi < bufs.length) {
          val b = bufs(wi)
          if (b.length >= 2) {
            val out = new scala.collection.mutable.ArrayBuffer[String](b.length)
            var i = 0
            while (i < b.length) {
              val s = b(i)
              if (out.nonEmpty && out.last == bestL && s == bestR)
                out(out.length - 1) = bestL + bestR
              else out += s
              i += 1
            }
            bufs(wi) = out
          }
          wi += 1
        }
        rank += 1
      }
    }
    merges.toSeq
  }

  /** Apply a learned [[bpeLearn]] merge table to text — the ENCODE half
    * of the tokenizer lifecycle: each whitespace word splits to code
    * points and every merge applies in rank order as the same greedy
    * left-to-right fold the learner used, so encode(learn-corpus)
    * reproduces the learner's final symbol states exactly. One native
    * codegen'd expression ([[graft.functions.BpeEncodeExpr]], the
    * WinnowSelect precedent) — no shuffle, no state; the merge table is
    * plan-constant like the [[graft.ext.Similarity]] JL matrix. The
    * original interpreted expression-CHAIN form (one `aggregate` lambda
    * per merge, measured 33 s warm at sf0.1 for 12 merges once the
    * bench drained real output) survives as the test-side
    * `TextAnalysisTwins.bpeEncodeHof` for parity pinning.
    *
    * Output: (idCol, subwords: array<string>).
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame =
    df.select(col(idCol),
      graft.functions.GraftFunctions.bpe_encode(col(textCol), merges).as("subwords"))

  /** [[bpeEncode]] at production vocabulary scale. The expression-chain
    * encoder nests one fold per merge in the PLAN, which is right at a
    * dozen merges (whole-stage codegen, zero shuffle) and fatal at a
    * 32 k-merge production table (codegen blows past JIT limits long
    * before that). This shape keeps the plan CONSTANT in the merge
    * count: the corpus collapses to its DISTINCT word table (sublinear
    * by Heaps' law), each word type encodes ONCE in a single JVM pass
    * over the broadcast merge table, and the subword arrays join back
    * to the corpus tokens by word — a vocab-keyed hash join, then a
    * doc-keyed reassembly aggregate.
    *
    * The JVM pass replays [[bpeEncode]]'s exact semantics — each merge
    * applied exhaustively in RANK order with the same greedy
    * left-to-right fold (bitwise parity pinned in tests). That order
    * matters: best-rank-first encoding (the priority-queue shape) is
    * equivalent only when no merge's concatenation collides with an
    * earlier symbol spelling, and learned tables CAN carry such
    * collisions — rank-order replay is always exact. Each word skips a
    * non-applicable merge in O(1) via a symbol-presence count, so a
    * 32 k-merge table costs 32 k hash probes per word TYPE, not per
    * corpus token. Null and empty texts both encode to the empty array
    * (the narrow encoder returns null for null text — one documented
    * contract difference). Row identity for the reassembly is the
    * (id, 64-bit text hash) pair: duplicate ids with distinct texts
    * encode independently, and exact-duplicate rows encode once and fan
    * back out with identical arrays — the dedup lane's standard 8-byte
    * trade-off (a hash collision between two DIFFERENT texts under one
    * id would conflate them).
    *
    * Broadcast lifetime: the merge table broadcasts once per CALL and
    * lives as long as the returned frame's plan can re-execute — the
    * operator cannot destroy it without breaking the lazily-returned
    * frame. The table is merge-count-sized (a 32 k-merge vocabulary is
    * ~1 MB), so the cost per call is small, but a long-lived session
    * encoding MANY times should memoize per merge table (the
    * `bpe100For` registry memo shape) rather than re-call per batch;
    * Spark's ContextCleaner reclaims the blocks once the frame is
    * unreachable.
    */
  def bpeEncodeScalable(df: DataFrame, idCol: String, textCol: String,
                        merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(merges.toArray)
    val encodeWord = udf { (w: String) =>
      // split by CODE POINT, matching bpeInitialWords/bpeEncode's Spark
      // substr semantics — UTF-16 units would shear astral-plane chars
      // into lone surrogates that no learned merge symbol can match
      var syms = new scala.collection.mutable.ArrayBuffer[String](w.length)
      var ci = 0
      while (ci < w.length) {
        val n = Character.charCount(w.codePointAt(ci))
        syms += w.substring(ci, ci + n)
        ci += n
      }
      val present = scala.collection.mutable.HashMap.empty[String, Int]
      syms.foreach(s => present(s) = present.getOrElse(s, 0) + 1)
      bc.value.foreach { case (l, r) =>
        if (present.getOrElse(l, 0) > 0 && present.getOrElse(r, 0) > 0) {
          val next = new scala.collection.mutable.ArrayBuffer[String](syms.length)
          syms.foreach { s =>
            if (next.nonEmpty && next.last == l && s == r) {
              next(next.length - 1) = l + r
              present(l) -= 1
              present(r) -= 1
              present(l + r) = present.getOrElse(l + r, 0) + 1
            } else next += s
          }
          syms = next
        }
      }
      syms.toSeq
    }
    val keyed = df.select(col(idCol), col(textCol))
      .withColumn("_h", xxhash64(col(textCol)))
    val toks = keyed.select(col(idCol), col("_h"),
      posexplode(filter(tokens(col(textCol)), w => length(w) > 0))
        .as(Seq("_p", "_w")))
    val vocab = toks.select("_w").distinct()
      .withColumn("_sub", encodeWord(col("_w")))
    // collect_set (not _list): exact-duplicate rows fold into one
    // (id, _h) group, and the set collapses their repeated (_p, _sub)
    // token entries back to a single copy of the row's positions
    val encoded = toks.join(vocab, "_w")
      .groupBy(col(idCol), col("_h"))
      .agg(flatten(transform(
        array_sort(collect_set(struct(col("_p"), col("_sub")))),
        s => s.getField("_sub"))).as("subwords"))
    keyed.select(col(idCol), col("_h"))
      .join(encoded, Seq(idCol, "_h"), "left")
      .select(col(idCol),
        coalesce(col("subwords"), array().cast("array<string>")).as("subwords"))
  }

  /** The distinct-word frequency/symbol table [[bpeLearn]] starts from —
    * exposed (like [[graft.ext.Dedup.clusterRound]]) so the plan audit
    * can sweep the production builders of the iterative loop, whose
    * registry queries otherwise audit as driver-side LocalRelations.
    */
  private[graft] def bpeInitialWords(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("_w"))
      .filter(length(col("_w")) > 0)
      .groupBy("_w").agg(count(lit(1)).as("_f"))
      .select(col("_f"), transform(sequence(lit(0), length(col("_w")) - 1),
        i => col("_w").substr(i + lit(1), lit(1))).as("_syms"))

  /** One round's adjacent-pair frequency aggregate over the word-symbol
    * state — the plan [[bpeLearn]] TakeOrders each iteration.
    */
  private[graft] def bpePairCounts(state: DataFrame): DataFrame =
    state
      .select(col("_f"), col("_syms"),
        posexplode(slice(col("_syms"), lit(1), size(col("_syms")) - 1))
          .as(Seq("_p", "_l")))
      .select(col("_f"), col("_l"),
        element_at(col("_syms"), col("_p") + 2).as("_r"))
      .groupBy("_l", "_r").agg(sum(col("_f")).as("_c"))

  /** The ONE greedy left-to-right merge fold shared by [[bpeLearn]]
    * (applying each round's winner) and [[bpeEncode]] (replaying the
    * table): a single implementation makes the learner/encoder parity
    * invariant structural rather than coincidental.
    */
  private[graft] def applyMergeFold(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(l) && s === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
      .otherwise(concat(acc, array(s))))

  /** Tokenizer-vocabulary coverage: per document, the fraction of token
    * OCCURRENCES outside the corpus's top-`vocabSize` tokens — the
    * OOV-rate check run before committing to a tokenizer vocabulary
    * (high per-doc OOV flags domains the vocabulary underserves).
    *
    * Scale shape: the vocabulary is a bounded TakeOrdered over the
    * distinct-token table (sublinear by Heaps' law; ties break
    * count-desc then token-asc, so the cut is deterministic), BROADCAST
    * to the probe side; the per-doc aggregate is map-side combined. The
    * corpus-sized token stream shuffles once, on the doc id.
    *
    * Output: (idCol, n_tokens, oov_frac). Empty documents drop out.
    */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
              vocabSize: Int): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("_t"))
      .filter(length(col("_t")) > 0)
    val vocab = tok.groupBy("_t").agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("_t")).limit(vocabSize)
    tok.join(broadcast(vocab.select(col("_t"), lit(1).as("_in"))), Seq("_t"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(when(col("_in").isNull, 1.0).otherwise(0.0)), 6).as("oov_frac"))
  }

  /** Compression-ratio quality signal: deflated size over raw UTF-8
    * size per document — the Gopher/RefinedWeb-family repetition
    * detector (highly repetitive or templated text compresses far
    * below prose; near-random noise compresses above it). Deflate at
    * the default level with a fixed strategy is DETERMINISTIC for a
    * given input, so the signal is reproducible run to run — but it is
    * engine-internal (no SQL twin), hence rows-only at the oracle
    * gate with the ordering pinned in tests.
    *
    * A JVM closure, not a Catalyst expression — justified like the
    * sketch probes: the codec is library code, and the column is a
    * narrow per-row map with no shuffle. Empty documents report 1.0.
    *
    * Output: (idCol, n_bytes: long, compression_ratio rounded 1e-6).
    */
  def compressionRatio(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ratio = udf { (s: String) =>
      val raw = if (s == null) Array.emptyByteArray
                else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (raw.isEmpty) (0L, 1.0)
      else {
        // one native zlib state per task thread, reset per row — a
        // fresh Deflater per document would pay native init/teardown
        // on every row of the corpus
        val d = TextAnalysis.deflaterPerThread.get()
        d.reset(); d.setInput(raw); d.finish()
        var buf = new Array[Byte](raw.length / 2 + 64)
        var n = 0
        while (!d.finished()) {
          if (n == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
          n += d.deflate(buf, n, buf.length - n)
        }
        (raw.length.toLong, math.rint(n.toDouble / raw.length * 1e6) / 1e6)
      }
    }
    df.select(col(idCol), ratio(col(textCol)).as("_r"))
      .select(col(idCol), col("_r._1").as("n_bytes"),
        col("_r._2").as("compression_ratio"))
  }

  /** BM25 relevance of every document to a keyword query — the
    * retrieval primitive behind corpus inspection ("show me the docs
    * about X") and retrieval-augmented data curation. Okapi BM25 with
    * the (k1+1) numerator; idf = ln((N − df + ½)/(df + ½) + 1), always
    * positive.
    *
    * Scale shape: the corpus-sized explode filters to the |query|
    * terms BEFORE anything groups, so the (doc, term) frame carries at
    * most |query| rows per matching document; document frequencies and
    * the (N, avgdl) scalars are one-row/|query|-row broadcasts. One
    * shuffle on the doc id for the final per-doc sum. Only documents
    * containing at least one query term appear.
    *
    * Output: (idCol, bm25: double).
    */
  def bm25Score(df: DataFrame, idCol: String, textCol: String,
                query: Seq[String], k1: Double = 1.2,
                b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "need at least one query term")
    val toks = df.select(col(idCol), tokens(col(textCol)).as("_ts"))
      .select(col(idCol), col("_ts"), size(col("_ts")).cast("double").as("_dl"))
    val stats = broadcast(toks.agg(
      count(lit(1)).cast("double").as("_n"), avg(col("_dl")).as("_avgdl")))
    val tf = toks.select(col(idCol), col("_dl"), explode(col("_ts")).as("_t"))
      .filter(col("_t").isin(query.distinct: _*))
      .groupBy(col(idCol), col("_dl"), col("_t"))
      .agg(count(lit(1)).cast("double").as("_tf"))
    val dfT = broadcast(tf.groupBy("_t").agg(count(lit(1)).cast("double").as("_df")))
    tf.join(dfT, "_t").crossJoin(stats)
      .withColumn("_idf",
        log((col("_n") - col("_df") + 0.5) / (col("_df") + 0.5) + 1.0))
      .withColumn("_s", col("_idf") * col("_tf") * (k1 + 1.0) /
        (col("_tf") + (col("_dl") / col("_avgdl") * b + (1.0 - b)) * k1))
      .groupBy(col(idCol)).agg(sum(col("_s")).as("bm25"))
  }

  /** Global dataset release card — the one-row summary a corpus
    * version publishes: volumes, source/language breadth, exact-dup
    * rate, and the language-distribution entropy (nats; the diversity
    * number mixture tuning watches). Two map-side-combinable
    * aggregates: a global pass over the narrow (lang, source, token
    * count, content hash) projection, and a language-count pass
    * collapsed to entropy via the exact identity
    * H = ln(N) − (Σ c·ln c)/N — no per-language share column
    * materializes, so nothing here scales with anything but the
    * language count.
    *
    * Output: (n_docs, n_tokens, n_sources, n_langs, dup_frac,
    * mean_doc_tokens, lang_entropy).
    */
  def datasetCard(df: DataFrame, sourceCol: String, langCol: String,
                  textCol: String): DataFrame = {
    val t = df.select(col(langCol).as("_lang"), col(sourceCol).as("_src"),
      tokenCount(col(textCol)).cast("long").as("_ntok"),
      xxhash64(col(textCol)).as("_h"))
    val global = t.agg(
      count(lit(1)).as("n_docs"),
      sum(col("_ntok")).as("n_tokens"),
      countDistinct(col("_src")).as("n_sources"),
      countDistinct(col("_lang")).as("n_langs"),
      round(lit(1.0) - countDistinct(col("_h")) / count(lit(1)).cast("double"), 6)
        .as("dup_frac"),
      round(avg(col("_ntok")), 6).as("mean_doc_tokens"))
    val entropy = t.groupBy("_lang").agg(count(lit(1)).cast("double").as("_c"))
      .agg(round(log(sum(col("_c"))) -
        sum(col("_c") * log(col("_c"))) / sum(col("_c")), 6).as("lang_entropy"))
    global.crossJoin(broadcast(entropy))
  }

  /** Cross-source duplication matrix: for every pair of ingest sources,
    * the number of DISTINCT token `n`-grams they share — the overlap
    * diagnostic that catches one source mirroring another (or common
    * boilerplate) before mixture weights are chosen.
    *
    * Scale shape: n-grams travel as 64-bit hashes
    * ([[graft.ext.Dedup.shingleHashRows]]); the (source, gram) frame
    * dedups on the compact pair, then grams group ONCE and collect
    * their source SET — bounded by the number of sources (dozens), not
    * the corpus — and ordered pairs explode from the sorted set. No
    * gram-keyed self-join exists, so a boilerplate gram present in
    * every source costs |sources|² pair rows, not a skewed join
    * bucket; the final count aggregate map-side combines.
    *
    * Output: (source_a, source_b, shared_ngrams), source_a < source_b;
    * pairs sharing nothing are absent.
    */
  def sourceOverlap(df: DataFrame, sourceCol: String, textCol: String,
                    n: Int): DataFrame = {
    val srcGrams = Dedup.shingleHashRows(
        df.select(col(sourceCol).as("_sid"), col(textCol)), "_sid", textCol, n)
      .select(col("_id").as("_src"), col("_sh")).distinct()
    val perGram = srcGrams.groupBy("_sh")
      .agg(sort_array(collect_set(col("_src"))).as("_ss"))
      .filter(size(col("_ss")) > 1)
    perGram
      .select(explode(flatten(transform(col("_ss"), (a, i) =>
        transform(slice(col("_ss"), i + lit(2), size(col("_ss"))),
          b => struct(a.as("source_a"), b.as("source_b")))))).as("_pair"))
      .groupBy(col("_pair.source_a").as("source_a"),
        col("_pair.source_b").as("source_b"))
      .agg(count(lit(1)).as("shared_ngrams"))
  }

  /** Per-source corpus curation report — the release-notes table a
    * Dolma/RedPajama-style corpus ships per ingest source: document and
    * token volume, exact-duplicate rate, and the dominant language with
    * its share. One row per source.
    *
    * Scale shape: two map-side-combinable hash aggregates (keyed by
    * source and by (source, lang)) over a single narrow projection —
    * the text column collapses to a token COUNT and an 8-byte content
    * hash at scan time, so nothing document-sized shuffles; the final
    * join moves #sources rows. The dominant language is a
    * `max(struct(count, lang))` accumulator (ties break toward the
    * lexicographically larger lang), never a per-source sort. The
    * sketch-tier twin for ad-hoc profiling is
    * [[graft.ext.Sketches.approxProfile]].
    *
    * Output: (source, n_docs, n_tokens, distinct_docs, dup_frac,
    * mean_tokens, top_lang, top_lang_share).
    */
  def sourceReport(df: DataFrame, sourceCol: String, langCol: String,
                   textCol: String): DataFrame = {
    val t = df.select(col(sourceCol).as("source"), col(langCol).as("lang"),
      tokenCount(col(textCol)).cast("long").as("_ntok"),
      xxhash64(col(textCol)).as("_h"))
    val agg = t.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("_ntok")).as("n_tokens"),
      countDistinct(col("_h")).as("distinct_docs"),
      round(lit(1.0) - countDistinct(col("_h")) / count(lit(1)).cast("double"), 6)
        .as("dup_frac"),
      round(avg(col("_ntok")), 6).as("mean_tokens"))
    val lc = t.groupBy("source", "lang").agg(count(lit(1)).as("_cnt"))
    val top = lc.groupBy("source").agg(max(struct(col("_cnt"), col("lang"))).as("_top"))
      .select(col("source"), col("_top.lang").as("top_lang"),
        col("_top._cnt").as("_topCnt"))
    agg.join(top, "source")
      .withColumn("top_lang_share", round(col("_topCnt") / col("n_docs").cast("double"), 6))
      .drop("_topCnt")
  }

  /** Domain-mix diagnostics: KL(P_group ‖ P_corpus) of the token
    * distribution of each group (source, language, shard…) against the
    * whole corpus — the standard check that one domain's language isn't
    * drifting from the mixture it feeds. Every group token exists in
    * the corpus distribution by construction, so the divergence is
    * always finite.
    *
    * Scale shape: one (group, token) count aggregate (map-side
    * combined), group totals and corpus token totals derived FROM it
    * (vocabulary-keyed frames, never a second corpus scan), corpus size
    * as a broadcast 1-row aggregate, and the p·ln(p/q) sum reduced per
    * group.
    *
    * Output: (groupCol, n_tokens: long, kl: double).
    */
  def sourceDivergence(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(groupCol), explode(tokens(col(textCol))).as("_t"))
      .filter(length(col("_t")) > 0)
    val ft = tok.groupBy(col(groupCol), col("_t")).agg(count(lit(1)).as("_c"))
    val st = ft.groupBy(col(groupCol)).agg(sum(col("_c")).as("_ns"))
    val ct = ft.groupBy("_t").agg(sum(col("_c")).as("_ct"))
    val n = broadcast(ct.agg(sum(col("_ct")).as("_n")))
    val p = col("_c").cast("double") / col("_ns")
    val q = col("_ct").cast("double") / col("_n")
    ft.join(st, groupCol).join(ct, "_t").crossJoin(n)
      .groupBy(col(groupCol))
      .agg(max(col("_ns")).cast("long").as("n_tokens"),
        sum(p * log(p / q)).as("kl"))
  }

  /** Zipf rank–frequency slope: the least-squares slope of ln(freq) on
    * ln(rank) over the corpus's top-`k` tokens (natural text ≈ −1; a
    * repetitive or templated corpus flattens toward 0 — a cheap
    * corpus-health scalar). The top-k slice is a distributed
    * TakeOrdered; the rank window runs over that bounded k-row frame
    * only.
    */
  def zipfSlope(df: DataFrame, textCol: String, k: Int = 100): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("token").asc)
    vocabulary(df, textCol, k)
      .withColumn("rank", row_number().over(w))
      .agg(expr("regr_slope(ln(freq), ln(rank))").as("slope"))
  }

  /** The distinct (`_id`, `_sh`) hashed-n-gram pair table [[ngramNovelty]]
    * consumes — build once, store (partitioned by `_sh`), pass back as
    * `gramRows` on every later run.
    */
  def ngramPairs(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Dedup.shingleHashRows(df, idCol, textCol, n)
      .select(col("_id"),
        // stamp the build-time gram length as field metadata (survives
        // the parquet round-trip) so a stored table rebuilt at a
        // different n fails loudly at verify time instead of yielding
        // silently wrong Jaccard values — see Dedup.jaccardVerify
        col("_sh").as("_sh", new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("gram_k", n.toLong).build()))
      .distinct()

  /** Per-document n-gram novelty / boilerplate profile: for each
    * document, the fraction of its DISTINCT token `n`-grams that appear
    * in no other document (`novel_frac`, the CCNet/RefinedWeb novelty
    * signal) and the fraction that appear in at least `boilerplateDf`
    * documents (`boilerplate_frac` — template/boilerplate mass a corpus
    * build drops or downweights). Complements [[Dedup.decontaminate]]
    * (overlap vs a held-out set) with corpus-internal overlap.
    *
    * Scale shape: n-grams travel only as 64-bit hashes (the
    * [[Dedup.shingleHashRows]] Generate path — no n-gram strings cross
    * the wire). Three hash-partitioned aggregates: distinct (doc, gram)
    * pairs, document frequency per gram (map-side combined), and the
    * per-doc fraction reduce; the gram→df join is equi on the gram hash.
    * Nothing in the plan is quadratic in corpus size, and no global
    * ordering exists anywhere.
    *
    * The distinct (doc, gram) subplan feeds BOTH the df count and the
    * join-back, and Catalyst plans them as two independent scans of the
    * corpus (the count branch is rewritten into a fused two-phase
    * aggregate, so the exchanges differ and cannot be reused). Two
    * narrow scans are the right default at bench scale; at 100 TB write
    * the [[ngramPairs]] table once and run
    * [[ngramNoveltyFromPairs]] against it — the same build-once /
    * probe-many lifecycle as the stored LSH signature index — so every
    * novelty run reads 16-byte pairs instead of re-shingling the corpus
    * twice.
    *
    * Output: (idCol, n_ngrams: long, novel_frac, boilerplate_frac).
    * Documents shorter than `n` tokens have no n-grams and drop out,
    * like [[Dedup.decontaminate]]'s guard.
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String, n: Int,
                   boilerplateDf: Int = 3): DataFrame =
    ngramNoveltyFromPairs(ngramPairs(df, idCol, textCol, n), idCol, boilerplateDf)

  /** [[ngramNovelty]] over a PRECOMPUTED (stored) [[ngramPairs]] table.
    * A separate entry point rather than an optional parameter: the pair
    * table fixes `n` at build time, so there is no `n` argument here to
    * silently disagree with the table's — the mismatch is
    * unrepresentable.
    */
  def ngramNoveltyFromPairs(gramRows: DataFrame, idCol: String,
                            boilerplateDf: Int = 3): DataFrame = {
    val dfCounts = gramRows.groupBy("_sh").agg(count(lit(1)).as("_df"))
    gramRows.join(dfCounts, "_sh")
      .groupBy(col("_id").as(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        round(avg(when(col("_df") === 1, 1.0).otherwise(0.0)), 6).as("novel_frac"),
        round(avg(when(col("_df") >= boilerplateDf, 1.0).otherwise(0.0)), 6)
          .as("boilerplate_frac"))
  }

  /** PII patterns for [[redactPii]] — deliberately restricted to syntax
    * Java regex and RE2 (DuckDB/Go scrubbers) interpret identically:
    * character classes, bounded repetition, ASCII `\b`/`\d` — no
    * lookaround, no backreferences, so a redaction run is re-derivable
    * by an external auditor on any engine.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** PII redaction: replace emails, IPv4 addresses, and phone-shaped
    * numbers with typed placeholder tags, and report the per-document
    * match counts (counted on the ORIGINAL text, each pattern
    * independently). A narrow zero-shuffle projection — the standard
    * pre-training scrub pass runs at ingest rate.
    *
    * Replacement order (email → ip → phone) is part of the contract —
    * a re-derivation must apply the same order. The counts are
    * per-pattern over the ORIGINAL text, so they are order-independent
    * and individually auditable; they are NOT guaranteed to equal the
    * tag counts in `redacted` when matches overlap (an email whose
    * local part is itself an IPv4 or phone string is consumed by the
    * earlier email replacement: n_ips counts it, `redacted` shows one
    * `<EMAIL>` and no `<IP>`). The replacement tags contain no digits
    * or `@`, so replacements never CREATE later matches.
    *
    * Output: df plus n_emails, n_ips, n_phones (int) and `redacted`.
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    // Pass accounting (r17, guide step 4): the email count and the email
    // replace run over the SAME original text with the SAME pattern, so
    // one fused find-loop produces both (the count of a replace-all IS
    // its match count) — 5 regex passes instead of 6, and the count
    // passes stop allocating per-match arrays (regex_count vs
    // size(regexp_extract_all)). The ip/phone counts must stay separate
    // passes over the ORIGINAL text (they are defined pre-redaction,
    // and an email may contain an ip/phone substring), and their
    // replaces chain sequentially per the documented order contract.
    // Bitwise parity with the regexp chain pinned in EvalFunctionsSpec
    // against the test-side `TextAnalysisTwins.redactPiiRegexp`.
    val t = col(textCol)
    val em = graft.functions.GraftFunctions.regex_count_replace(t, EmailRe, "<EMAIL>")
    df.withColumn("n_emails", em.getField("n"))
      .withColumn("n_ips", graft.functions.GraftFunctions.regex_count(t, Ipv4Re))
      .withColumn("n_phones", graft.functions.GraftFunctions.regex_count(t, PhoneRe))
      .withColumn("redacted",
        regexp_replace(regexp_replace(em.getField("replaced"),
          Ipv4Re, "<IP>"), PhoneRe, "<PHONE>"))
  }

  /** TF-IDF top-`k` terms per document: tf = in-document term count,
    * idf = ln(N / df) over the corpus, ties broken by token ascending.
    *
    * Scale shape: tokenize-explode → (doc, token) count (map-side
    * combined) → document-frequency aggregate joined back ON TOKEN (a
    * hash join keyed by the vocabulary, not the corpus) → corpus size as
    * a broadcast 1-row aggregate → per-document top-k via a window
    * partitioned by document id (parallelism = #documents). Nothing
    * global, nothing quadratic.
    *
    * Output: (idCol, token, tf: long, rank: int, tfidf: double).
    */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("_df"))
    val n = broadcast(df.agg(count(lit(1)).as("_n")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("token").asc)
    tf.join(dfreq, "token").crossJoin(n)
      .withColumn("tfidf", col("tf") * log(col("_n").cast("double") / col("_df")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("token"), col("tf"), col("rank"), col("tfidf"))
  }

  /** Winnowing document fingerprints (Schleimer et al. 2003, the MOSS
    * scheme): hash every k-gram of tokens, then slide a w-gram window
    * and keep each window's MINIMUM hash (rightmost on ties) — the
    * guarantee is that any shared run of w + k − 1 tokens between two
    * documents shares at least one selected fingerprint, at a density
    * of ~2/(w+1) instead of every position. The positional complement
    * to [[fingerprint]]/MinHash: selected (position, hash) pairs
    * LOCALIZE where documents overlap, which is what plagiarism-style
    * span attribution needs.
    *
    * Hashes are portable arithmetic, not engine hashes: token hash =
    * char-code polynomial mod 2³¹−1 (base 31), k-gram hash = token-hash
    * polynomial (base 131) — deliberately re-derivable in plain SQL so
    * the whole selection is oracle-checkable (the same trade as
    * [[graft.prep.Prep.portableHash]]; xxhash64 would be faster and
    * stays the right choice where the hash itself need not be
    * re-derived, as in [[fingerprint]]).
    *
    * One narrow per-document chain — no shuffle, no state: the whole
    * hash-select runs as ONE codegen'd kernel call per row
    * ([[graft.functions.WinnowSelect]], the CosineSim precedent), which
    * replaced the interpreted higher-order-function chain this operator
    * shipped with (kept as the test-side
    * `TextAnalysisTwins.winnowFingerprintsHof`, the parity reference) at
    * ~6× the throughput. Documents shorter than k tokens
    * have no k-gram and emit nothing; documents with fewer than w grams
    * are winnowed as one window.
    *
    * Output: (idCol, pos, gram_hash) — distinct selected fingerprints,
    * `pos` the 0-based token offset of the selected k-gram.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 5): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1, got $k / $w")
    val fps = graft.functions.GraftFunctions.winnow_select(col("_ws"), k, w)
    df.select(col(idCol), tokens(col(textCol)).as("_ws"))
      .filter(size(col("_ws")) >= k)
      .select(col(idCol), fps.as("_fps"))
      // explode_OUTER, not explode: InferFiltersFromGenerate would
      // synthesize `size(_fps) > 0` from a plain explode and evaluate
      // the kernel a second time per row in that filter. Equivalent:
      // ≥ k tokens ⇒ ≥ 1 gram ⇒ ≥ 1 window ⇒ _fps is never empty.
      .select(col(idCol), explode_outer(col("_fps")).as("_fp"))
      .select(col(idCol), col("_fp.pos").as("pos"),
        // build-time (k, w) stamped as field metadata (survives the
        // parquet round-trip) so a stored fingerprint index probed at
        // different parameters fails loudly — the ngramPairs contract
        col("_fp.gram_hash").as("gram_hash",
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("winnow_k", k.toLong).putLong("winnow_w", w.toLong)
            .build()))
  }

  /** Corpus collocation mining: adjacent token pairs scored by
    * pointwise mutual information — the lexical-statistics step that
    * surfaces multiword expressions ("new york") worth protecting from
    * tokenizers and augmenting retrieval with. PMI uses the bigram
    * table's own marginals (pmi = ln(c₂·N / (c_l·c_r)) with N = Σc₂),
    * so the score is self-consistent and fully re-derivable from the
    * pair counts alone; pairs under `minCount` are dropped (rare pairs
    * make PMI explode — the standard noise gate).
    *
    * Scale shape: one Generate + pair-keyed hash aggregate (map-side
    * combined; the shuffle carries observed bigram TYPES, Heaps-bounded,
    * not occurrences), marginals as two aggregates OF that table (tiny),
    * and a broadcast N. No windows, no driver state. Output: (left,
    * right, pair_count, pmi) for every qualifying pair.
    */
  def collocations(df: DataFrame, textCol: String,
                   minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, s"need minCount >= 1, got $minCount")
    val pairs = df.select(tokens(col(textCol)).as("_ws"))
      .filter(size(col("_ws")) >= 2)
      .select(col("_ws"),
        posexplode(sequence(lit(0), size(col("_ws")) - 2)).as(Seq("_p", "_d")))
      .select(element_at(col("_ws"), col("_p") + 1).as("left"),
        element_at(col("_ws"), col("_p") + 2).as("right"))
    val c2 = pairs.groupBy("left", "right")
      .agg(count(lit(1)).as("pair_count"))
    val cl = c2.groupBy("left").agg(sum(col("pair_count")).as("_cl"))
    val cr = c2.groupBy("right").agg(sum(col("pair_count")).as("_cr"))
    val n = broadcast(c2.agg(sum(col("pair_count")).as("_n")))
    c2.filter(col("pair_count") >= minCount)
      .join(cl, "left").join(cr, "right").crossJoin(n)
      .select(col("left"), col("right"), col("pair_count"),
        // products in DOUBLE: at corpus scale c·N and c_l·c_r overflow
        // Long (N ~ 1e12 × marginals ~ 1e10 wraps silently); counts
        // stay < 2^53 so the double products are still exact where the
        // Long ones were
        log(col("pair_count").cast("double") * col("_n").cast("double") /
          (col("_cl").cast("double") * col("_cr").cast("double"))).as("pmi"))
  }

  /** Overlapping token-window chunking — the context-window prep step
    * that turns variable-length documents into fixed-size training /
    * retrieval units: chunk starts every `stride` tokens, each chunk
    * spans up to `chunkLen` tokens, and trailing fragments shorter than
    * `minChunk` are dropped (a tail the stride already covered
    * `chunkLen - stride` tokens of). `stride < chunkLen` gives the
    * standard overlapping-context shape; `stride = chunkLen` gives
    * disjoint packing.
    *
    * One narrow Generate per document (split → start sequence →
    * posexplode → slice): no shuffle, no state — at corpus scale this
    * runs at scan speed and streams per-document, so a 100 TB corpus
    * chunks in one map stage. Contrast [[graft.window.Windows.temporalize]],
    * which windows a VALUE SERIES across rows (chunk+halo exchange);
    * here every chunk is contained in its own row.
    *
    * Output: (idCol, chunk_id, start_pos, n_tokens, chunk_text) — one
    * row per kept chunk, `chunk_id` 0-based in start order,
    * `start_pos` the 0-based token offset so spans can be mapped back
    * to the source document.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkLen: Int, stride: Int,
                     minChunk: Int = 1): DataFrame = {
    require(chunkLen > 0 && stride > 0 && stride <= chunkLen,
      s"need 0 < stride <= chunkLen, got stride=$stride chunkLen=$chunkLen")
    require(minChunk >= 1 && minChunk <= chunkLen,
      s"need 1 <= minChunk <= chunkLen, got $minChunk")
    df.select(col(idCol), tokens(col(textCol)).as("_ws"))
      // same output (no chunk of a shorter doc survives the per-chunk
      // minChunk filter), but also drops NULL text, whose size(-1)
      // would make sequence() throw and kill the stage
      .filter(size(col("_ws")) >= minChunk)
      .select(col(idCol), col("_ws"),
        posexplode(sequence(lit(0), size(col("_ws")) - 1, lit(stride)))
          .as(Seq("chunk_id", "start_pos")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("start_pos").cast("long").as("start_pos"),
        slice(col("_ws"), col("start_pos") + 1, lit(chunkLen)).as("_chunk"))
      .filter(size(col("_chunk")) >= minChunk)
      .select(col(idCol), col("chunk_id"), col("start_pos"),
        size(col("_chunk")).cast("long").as("n_tokens"),
        array_join(col("_chunk"), " ").as("chunk_text"))
  }
}
