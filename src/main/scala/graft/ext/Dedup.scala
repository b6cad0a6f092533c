package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Artifacts

/** Deduplication operators for training-data pipelines, each designed
  * around one shuffle on a compact key (never on document text):
  *
  *  - exact:   hash-groupBy on a 64-bit content hash
  *  - minhash: shingle → k minhashes → LSH bands → bucket join
  *  - simhash: 64-bit locality hash → band join
  *  - n-gram Jaccard: exact verification on candidate pairs only
  *  - embedding cosine: see Similarity.cosineNearDuplicates
  *
  * At 100 TB: the candidate-generation joins shuffle only (hash, docId)
  * pairs — a few dozen bytes per document per band — and AQE handles the
  * skew of hot buckets. Exact Jaccard verification touches only the
  * candidate pairs.
  */
object Dedup {

  /** Exact dedup: keep the lowest doc id per identical text. The groupBy
    * key is `xxhash64(text)` (compact shuffle); full-text equality inside a
    * hash bucket is assumed (64-bit collision ≈ 5e-20 per pair).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(xxhash64(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))

  /** Incremental exact dedup — the corpus-VERSION lifecycle [[exact]]
    * lacks: a new batch dedupes against the stored content-hash table of
    * everything already ingested, without rescanning the old corpus.
    * Survivors are new-batch rows whose hash is (a) absent from
    * `seenHashes` (left-anti join on the 8-byte key) and (b) first
    * within their own batch (lowest id per batch-internal duplicate
    * group). Append `survivors.select(hash)` to the seen table after
    * each batch — the stored state is 8 bytes per distinct document
    * ever seen, the same never-the-text contract as [[exact]], and the
    * anti join is a plain hash join that AQE can broadcast while the
    * new batch is small relative to history.
    *
    * Output: the surviving rows of `batch`, then their `content_hash`
    * as the last column.
    */
  def exactIncremental(batch: DataFrame, idCol: String, textCol: String,
                       seenHashes: DataFrame): DataFrame = {
    val hashed = batch.withColumn("content_hash", xxhash64(col(textCol)))
    val unseen = hashed.join(seenHashes, Seq("content_hash"), "left_anti")
    firstPerHash(unseen, idCol)
  }

  /** Bloom filter over a stored content-hash table — build once per
    * corpus version (the filter is order-insensitive and mergeable, so
    * the build is a treeAggregate; `org.apache.spark.util.sketch
    * .BloomFilter` is serializable for storing alongside the hash
    * table). Size by the DISTINCT hash count and target false-positive
    * probability: ln(1/fpp)/ln(2)² BITS per item (≈ 1.2 bytes at 1 %),
    * e.g. ~1.2 GB for 10⁹ documents — broadcastable; for a larger
    * history, range-partition the hash space and build one bloom per
    * range.
    */
  def seenBloom(seenHashes: DataFrame, hashCol: String, expectedItems: Long,
                fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter =
    seenHashes.stat.bloomFilter(hashCol, expectedItems, fpp)

  /** [[exactIncremental]] with a [[seenBloom]] prefilter — the shape the
    * anti join takes when history dwarfs the batch: rows whose hash the
    * bloom has never seen (the common case for mostly-new batches) are
    * kept IMMEDIATELY with no join at all, and only the suspects —
    * true duplicates plus an `fpp` fraction of false positives — reach
    * the exact left-anti join against the stored hash table. A bloom
    * has NO false negatives, so the output is row-for-row IDENTICAL to
    * [[exactIncremental]] (pinned in tests) at any fpp; the fpp only
    * tunes how much join work the prefilter saves.
    *
    * The probe is a per-row closure over the broadcast filter — a
    * deserialization barrier justified like the count–min probe: the
    * sketch is a JVM object, not a Catalyst expression, and the barrier
    * sits on the narrow no-shuffle leg.
    */
  def exactIncrementalBloom(batch: DataFrame, idCol: String, textCol: String,
                            seenHashes: DataFrame,
                            bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame =
    firstPerHash(bloomGatedUnseen(batch, textCol, seenHashes, bloom), idCol)

  /** The bloom-gated unseen-rows stage shared by [[exactIncrementalBloom]]
    * and [[graft.streaming.StreamingOps.incrementalDedupAtIngest]]: rows
    * the broadcast bloom has never seen pass with a narrow stateless
    * probe; suspects take the left-anti join against the stored hash
    * table. ONE implementation, so the batch and ingest paths cannot
    * drift. Returns the input rows plus `content_hash`.
    *
    * Cost contract: the two union legs each reference the input, so the
    * BATCH is scanned (and hashed + bloom-probed) twice. That is the
    * deliberate trade — the alternative single-reference shape routes
    * EVERY row through the seenHashes join and shuffles the whole batch,
    * which is strictly worse whenever the bloom admits most rows; and a
    * persist here would leak (this frame is returned lazily, streaming
    * inputs cannot persist at all, and no release point exists inside
    * the operator). The double scan is two NARROW passes over the batch
    * only — never over history — and incremental ingest's contract is
    * batch ≪ history. A batch caller for whom the re-scan is expensive
    * (e.g. batch derived from a prior shuffle) should persist or
    * `localCheckpoint` the input `df` itself, where it owns the release.
    */
  private[graft] def bloomGatedUnseen(df: DataFrame, textCol: String,
                                      seenHashes: DataFrame,
                                      bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(bloom)
    val maybeSeen = udf((h: Long) => bc.value.mightContainLong(h))
    val hashed = df.withColumn("content_hash", xxhash64(col(textCol)))
      .withColumn("_suspect", maybeSeen(col("content_hash")))
    hashed.filter(!col("_suspect"))
      .unionByName(hashed.filter(col("_suspect"))
        .join(seenHashes, Seq("content_hash"), "left_anti"))
      .drop("_suspect")
  }

  /** Lowest-id winner per batch-internal duplicate group — the second
    * stage both incremental paths share. Output: the input columns
    * other than `content_hash`, then `content_hash`.
    */
  private def firstPerHash(unseen: DataFrame, idCol: String): DataFrame = {
    // the aggregate's key gets its own name: a join of a frame to an
    // aggregate of itself on `content_hash == content_hash` compares one
    // attribute with itself and is right only through an analyzer rewrite
    val firstInBatch = unseen.groupBy(col("content_hash").as("_first_hash"))
      .agg(min(col(idCol)).as("_keep"))
    unseen.join(firstInBatch,
        col("content_hash") === col("_first_hash") && col(idCol) === col("_keep"))
      .select(unseen.columns.filter(_ != "content_hash").map(col) :+ col("content_hash"): _*)
  }

  /** Snapshot diff between two corpus VERSIONS by distinct content:
    * how many documents were added, removed, and kept — the audit line
    * a release publishes next to [[exactIncremental]]'s ingest. Both
    * sides collapse to distinct 8-byte content hashes before any join
    * (text never crosses the wire, the [[exact]] identity), and ONE
    * full-outer join on that compact key classifies every hash —
    * added, removed, or kept — in a single pass that collapses to one
    * counter row.
    *
    * Output: one row (n_added, n_removed, n_unchanged).
    */
  def corpusDiff(v1: DataFrame, v2: DataFrame, textCol: String): DataFrame = {
    val h1 = v1.select(xxhash64(col(textCol)).as("content_hash")).distinct()
      .withColumn("_in1", lit(1))
    val h2 = v2.select(xxhash64(col(textCol)).as("content_hash")).distinct()
      .withColumn("_in2", lit(1))
    // ONE full-outer join on the compact key classifies every hash in a
    // single pass — the three-separate-joins form re-scanned and
    // re-hashed both corpora per count leg
    h1.join(h2, Seq("content_hash"), "full_outer")
      .agg(
        sum(when(col("_in1").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("_in2").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("_in1").isNotNull && col("_in2").isNotNull, 1L)
          .otherwise(0L)).as("n_unchanged"))
  }

  /** One row per (doc, shingle-hash): the token-hash array is materialized
    * BELOW the Generate node, so it's computed once per document (Generate
    * does not collapse into the projection under it — unlike HOF lambdas,
    * which re-inline shared subexpressions), and no shingle strings are
    * ever built. 6× faster than string shingles on the bench.
    */
  private[ext] def shingleHashRows(df: DataFrame, idCol: String, textCol: String,
                                   shingleLen: Int): DataFrame =
    df.select(col(idCol).as("_id"),
        transform(split(col(textCol), " +"), t => xxhash64(t)).as("_th"))
      .filter(size(col("_th")) >= shingleLen) // guard: sequence(0, <0) counts down
      .select(col("_id"), col("_th"),
        posexplode(sequence(lit(0), size(col("_th")) - shingleLen)).as(Seq("_pos", "_d")))
      .select(col("_id"),
        xxhash64((1 to shingleLen).map(j => element_at(col("_th"), col("_pos") + j)): _*).as("_sh"))

  /** Per-row array of hashed `n`-token shingles — the narrow (no explode,
    * no shuffle) twin of [[shingleHashRows]], bitwise-identical hashes.
    * Documents shorter than `n` tokens yield an empty array.
    *
    * The token-hash array is LET-BOUND as the lambda variable of a
    * single-element `transform`: HOF lambdas evaluate interpreted, so if
    * `th` were an inline expression every `element_at(th, …)` would
    * re-split and re-hash the whole document — O(tokens²·chars) per row
    * (the CollapseProject lesson of the test-side
    * `TextAnalysisTwins.winnowFingerprintsHof`, which a Column-level
    * function can't solve with projection staging). A lambda
    * variable is evaluated once and read O(1) thereafter.
    */
  def shingleHashArray(text: Column, n: Int): Column =
    element_at(
      transform(array(transform(split(text, " +"), t => xxhash64(t))), th =>
        when(size(th) >= n,
            transform(sequence(lit(0), size(th) - n),
              pos => xxhash64((1 to n).map(j => element_at(th, pos + j)): _*)))
          .otherwise(array().cast("array<bigint>"))),
      lit(1))

  /** Per-ROW form of the exploded-aggregate minhash signature: identical
    * values to [[minhashCandidates]]'s internal signature (same token
    * hashes, same k-token shingle hash, same per-seed min fold), computed
    * without any shuffle — the shape a STREAMING pipeline needs, where a
    * row must carry its own signature through a stateful operator.
    * Documents with fewer than `shingleLen` tokens have no shingles
    * ([[shingleHashArray]] yields an empty array), so the fold returns
    * an all-MaxValue signature; filter them upstream like the batch
    * path does.
    */
  def minhashSignatureHashed(text: Column, shingleLen: Int, numHashes: Int): Column = {
    val shs = shingleHashArray(text, shingleLen)
    aggregate(shs, array_repeat(lit(Long.MaxValue), numHashes),
      (acc, sh) => zip_with(acc, sequence(lit(0), lit(numHashes - 1)),
        (a, i) => least(a, xxhash64(sh, i))))
  }

  /** The LSH band keys of a signature array — the same
    * `xxhash64(h_{b·r} … h_{(b+1)·r − 1}, b)` banding [[minhashCandidates]]
    * joins on, so batch and streaming candidates agree bucket-for-bucket.
    */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(((b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => element_at(sig, i + 1)) :+ lit(b)): _*)
    }: _*)

  /** MinHash LSH candidate pairs: band the signature (`bands` bands of
    * `rows` hashes), hash each band, self-join on (band, bandHash).
    *
    * Signature computation is explode + hash-aggregate: shingle hashes
    * explode to rows once, each `min(xxhash64(shingleHash, seed))` is a
    * map-side partial aggregate — the shuffle carries only (docId,
    * numHashes longs), never text. Pairs deduped with id1 < id2.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int = 3, bands: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val numHashes = bands * rowsPerBand
    val exploded = shingleHashRows(df, idCol, textCol, shingleLen)
    val sig = exploded.groupBy("_id")
      .agg(min(xxhash64(col("_sh"), lit(0))).as("_h0"),
        (1 until numHashes).map(seed =>
          min(xxhash64(col("_sh"), lit(seed))).as(s"_h$seed")): _*)
    val banded = sig
      .select(col("_id"), posexplode(
        array((0 until bands).map { b =>
          val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"_h$i"))
          xxhash64(cols :+ lit(b): _*)
        }: _*))
        .as(Seq("band", "band_hash")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id1"), col("b._id").as("id2"))
      .distinct()
  }

  /** Splitmix shingle-key array of a text column — the twin analogue of
    * [[shingleHashArray]]: per-token `mix(restatableTokenKey)`, then the
    * order-sensitive right fold `mix(m_p ⊕ mix(m_{p+1} ⊕ …))` per
    * shingle, let-bound so tokenization runs once per document.
    */
  def splitmixShingleKeys(text: Column, n: Int): Column = {
    import graft.functions.GraftFunctions
    element_at(
      transform(array(transform(split(text, " +"),
          t => GraftFunctions.splitmix64(restatableTokenKey(t)))), th =>
        when(size(th) >= n,
            transform(sequence(lit(0), size(th) - n), pos =>
              (n to 1 by -1).foldLeft(lit(0L): Column)((acc, j) =>
                GraftFunctions.splitmix64(element_at(th, pos + j).bitwiseXOR(acc)))))
          .otherwise(array().cast("array<bigint>"))),
      lit(1))
  }

  /** Per-ROW splitmix band keys (array of `bands` longs) — the twin
    * analogue of `bandHashes(minhashSignatureHashed(…))` for the
    * STREAMING parity row: lane minima via an in-row fold (no shuffle),
    * band key = the right-fold combiner `mix(h_{b·r} ⊕ mix(h_{b·r+1} ⊕ …))`
    * so the bucket is one long, like the production op shuffles on.
    */
  def splitmixBandKeys(text: Column, shingleLen: Int = 3, bands: Int = 8,
                       rowsPerBand: Int = 2): Column = {
    import graft.functions.{GraftFunctions, SplitMix64}
    val numHashes = bands * rowsPerBand
    val laneConsts = (0 until numHashes).map(j => SplitMix64.mix(j.toLong))
    val shs = splitmixShingleKeys(text, shingleLen)
    val sig = aggregate(shs, array_repeat(lit(Long.MaxValue), numHashes),
      (acc, sh) => zip_with(acc, typedlit(laneConsts),
        (a, l) => least(a, GraftFunctions.splitmix64(sh.bitwiseXOR(l)))))
    element_at(transform(array(sig), sg =>
      array((0 until bands).map { b =>
        (rowsPerBand to 1 by -1).foldLeft(lit(0L): Column)((acc, r) =>
          GraftFunctions.splitmix64(
            element_at(sg, b * rowsPerBand + r).bitwiseXOR(acc)))
      }: _*)), lit(1))
  }

  /** MinHash-LSH candidate pairs with every hash DuckDB-restatable — the
    * `x_minhash_lsh_splitmix` oracle twin of [[minhashCandidates]],
    * preserving its exact structure (shingle key → per-lane min-fold →
    * banding → band-equality self-join → id1<id2 distinct) with the
    * xxhash64 seeding swapped for splitmix64 chains:
    *
    *  - shingle s = [[splitmixShingleKeys]]
    *  - lane j hash = `mix(s ⊕ mix(j))` (lane constants are themselves
    *    mixed, so the oracle regenerates them from `generate_series`)
    *  - a band's key is its `rowsPerBand` raw lane minima joined as a
    *    struct — band-hash compression is an optimization this twin
    *    skips so the oracle needs no extra mix chain (the STREAMING
    *    parity twin needs a single-long bucket and uses
    *    [[splitmixBandKeys]]' combiner instead).
    *
    * Same shuffle shape as production: shingle rows explode once, the
    * per-lane minima are map-side partial aggregates, the join is
    * (band, lane-minima) equi-keyed.
    */
  def minhashCandidatesSplitmix(df: DataFrame, idCol: String, textCol: String,
                                shingleLen: Int = 3, bands: Int = 8,
                                rowsPerBand: Int = 2): DataFrame = {
    import graft.functions.{GraftFunctions, SplitMix64}
    val numHashes = bands * rowsPerBand
    val exploded = df.select(col(idCol).as("_id"),
      explode(splitmixShingleKeys(col(textCol), shingleLen)).as("_s"))
    val sig = exploded.groupBy("_id")
      .agg(min(GraftFunctions.splitmix64(col("_s").bitwiseXOR(lit(SplitMix64.mix(0L)))))
          .as("_h0"),
        (1 until numHashes).map(j =>
          min(GraftFunctions.splitmix64(col("_s").bitwiseXOR(lit(SplitMix64.mix(j.toLong)))))
            .as(s"_h$j")): _*)
    val banded = sig.select(col("_id"), posexplode(
        array((0 until bands).map { b =>
          struct((0 until rowsPerBand)
            .map(r => col(s"_h${b * rowsPerBand + r}").as(s"k$r")): _*)
        }: _*))
      .as(Seq("band", "band_key")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id1"), col("b._id").as("id2"))
      .distinct()
  }

  /** Near-dup candidate pairs from winnowing fingerprints
    * ([[graft.ext.TextAnalysis.winnowFingerprints]]): documents sharing
    * at least `minShared` selected fingerprints. Where MinHash banding
    * answers "how SIMILAR are these sets" probabilistically, winnowing
    * candidates carry the exact-substring guarantee — any shared run of
    * w + k − 1 tokens shares a fingerprint, so sufficiently long copies
    * are caught with certainty — and the portable hashes make the whole
    * candidate set oracle-checkable, which no xxhash-seeded lane can be.
    *
    * Scale shape: per-doc fingerprint sets are ~2/(w+1) of gram count;
    * fingerprints appearing in more than `maxDocFreq` documents are
    * dropped before pairing (a stop-gram fingerprint shared by f docs
    * would emit f²/2 pairs — the same quadratic boilerplate blow-up the
    * LSH bucket caps guard against; callers wanting those spans should
    * run [[duplicatedSpans]], which aggregates them per-document
    * instead of per-pair). The pair join is a fingerprint-keyed equi
    * join with id1 < id2 as residual, then one pair-keyed count.
    *
    * Output: (id1, id2, n_shared), id1 < id2.
    */
  def winnowCandidates(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 4, w: Int = 5,
                       maxDocFreq: Long = 64L, minShared: Long = 2L): DataFrame = {
    // >= 1 like winnowCandidatesFromStored: at maxDocFreq = 1 only
    // fingerprints unique in the corpus survive — so no pair can ever
    // share one and the batch result is legitimately empty, not an error
    require(maxDocFreq >= 1 && minShared >= 1,
      s"need maxDocFreq >= 1 and minShared >= 1, got $maxDocFreq / $minShared")
    val idHash = graft.ext.TextAnalysis.winnowFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol).as("_id"), col("gram_hash")).distinct()
      // both self-join sides and the stop-gram count read this frame —
      // materialize the 16-byte-per-row selection once (the
      // winnowMatches trade; measured 2× otherwise)
      .localCheckpoint()
    winnowPairsFrom(idHash.join(winnowRare(idHash, maxDocFreq), "gram_hash"),
      minShared)
  }

  /** Fingerprint hashes under the stop-gram document-frequency cap —
    * the gate BOTH the pair count and the position join must sit
    * behind: an ungated fingerprint shared by f documents costs f²/2
    * join rows wherever it appears.
    */
  private def winnowRare(idHash: DataFrame, maxDocFreq: Long): DataFrame =
    idHash.groupBy("gram_hash")
      .agg(count(lit(1)).as("_df")).filter(col("_df") <= maxDocFreq)
      .select("gram_hash")

  /** The pair half of [[winnowCandidates]] over an already-gated
    * distinct (_id, gram_hash) frame — shared with [[winnowMatches]]
    * so the composite fingerprints the corpus once.
    */
  private def winnowPairsFrom(gated: DataFrame, minShared: Long): DataFrame = {
    // fingerprint self-join output is Σ_hash df² ≫ its input — pin the
    // enumeration's parallelism (graft.core.Fanout rationale)
    val pinned = graft.core.Fanout.pin(gated, col("gram_hash"))
    pinned.as("a")
      .join(pinned.as("b"),
        col("a.gram_hash") === col("b.gram_hash") && col("a._id") < col("b._id"))
      .groupBy(col("a._id").as("id1"), col("b._id").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Span ATTRIBUTION for winnowing candidates — the report step of the
    * plagiarism/copy-detection chain: for every candidate pair (the
    * [[winnowCandidates]] gate), every matched fingerprint with its
    * position in BOTH documents, so each shared region can be quoted
    * and aligned. MinHash tells you THAT two documents overlap;
    * winnowing matches tell you WHERE.
    *
    * Fingerprints compute ONCE; the position join is fingerprint-keyed
    * equi (id1 < id2 residual) + a pair-keyed semi join against the
    * gated candidate set, and the stop-gram cap gates the POSITION join
    * too — an ungated boilerplate fingerprint in f documents would
    * emit its f²/2 join rows before any pair-level prune could fire
    * (and report matches that [[winnowCandidates]] excluded from
    * n_shared). A fingerprint selected at several positions of both
    * documents matches all position combinations — span RANGES per
    * document stay the job of [[duplicatedSpans]].
    *
    * Output: (id1, id2, pos1, pos2, gram_hash), id1 < id2.
    */
  def winnowMatches(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 4, w: Int = 5,
                    maxDocFreq: Long = 64L, minShared: Long = 2L): DataFrame = {
    // same >= 1 bound as winnowCandidates(FromStored): an all-unique
    // fingerprint corpus yields an empty match set by definition
    require(maxDocFreq >= 1 && minShared >= 1,
      s"need maxDocFreq >= 1 and minShared >= 1, got $maxDocFreq / $minShared")
    // the fingerprint frame feeds the pair gate AND both join sides —
    // localCheckpoint materializes the ~2/(w+1)-density selection once
    // instead of re-fingerprinting the corpus per plan reference
    // (measured 3×); blocks live until the session drops the frame, the
    // bpeEncodeScalable lifetime contract
    val fp = graft.ext.TextAnalysis.winnowFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol).as("_id"), col("pos"), col("gram_hash"))
      .localCheckpoint()
    val rare = winnowRare(fp.select("_id", "gram_hash").distinct(), maxDocFreq)
    val fpg = fp.join(rare, Seq("gram_hash"), "left_semi")
    val pairs = winnowPairsFrom(
        fp.select("_id", "gram_hash").distinct().join(rare, "gram_hash"), minShared)
      .select(col("id1"), col("id2"))
    fpg.as("fa")
      .join(fpg.as("fb"),
        col("fa.gram_hash") === col("fb.gram_hash") && col("fa._id") < col("fb._id"))
      .select(col("fa._id").as("id1"), col("fb._id").as("id2"),
        col("fa.pos").as("pos1"), col("fb.pos").as("pos2"),
        col("fa.gram_hash").as("gram_hash"))
      .join(pairs, Seq("id1", "id2"), "left_semi")
  }

  /** [[winnowCandidates]] against a STORED fingerprint index (the
    * written output of [[graft.ext.TextAnalysis.winnowFingerprints]],
    * 16 bytes per (doc, pos) selection): new batches pair against the
    * corpus history without re-fingerprinting it — the incremental
    * lifecycle every stored lane here follows (dupGramTable,
    * ngramPairs, the LSH signature index). Stop fingerprints are capped
    * by their HISTORY document frequency (history defines what counts
    * as boilerplate). A stored index built at different (k, w) selects
    * different fingerprints and would silently miss everything — the
    * build-time stamp is checked when present.
    *
    * Output: (batch_id, stored_id, n_shared).
    */
  def winnowCandidatesFromStored(batch: DataFrame, idCol: String, textCol: String,
                                 storedFp: DataFrame, storedIdCol: String,
                                 k: Int = 4, w: Int = 5,
                                 maxDocFreq: Long = 64L, minShared: Long = 2L): DataFrame = {
    require(maxDocFreq >= 1 && minShared >= 1,
      s"need maxDocFreq >= 1 and minShared >= 1, got $maxDocFreq / $minShared")
    storedFp.schema.find(_.name == "gram_hash").map(_.metadata)
      .filter(m => m.contains("winnow_k") || m.contains("winnow_w")).foreach { m =>
        // a half-present stamp is its own loud error — reading the
        // missing key would throw a bare NoSuchElementException instead
        require(m.contains("winnow_k") && m.contains("winnow_w"),
          "stored fingerprint index carries a PARTIAL winnow stamp " +
            "(one of winnow_k/winnow_w) — rebuild the index with " +
            "winnowFingerprints, which stamps both")
        require(m.getLong("winnow_k") == k.toLong && m.getLong("winnow_w") == w.toLong,
          s"stored fingerprint index was built at k=${m.getLong("winnow_k")}, " +
            s"w=${m.getLong("winnow_w")} but the probe runs k=$k, w=$w — " +
            "pass matching parameters or rebuild the index")
      }
    val bfp = graft.ext.TextAnalysis.winnowFingerprints(batch, idCol, textCol, k, w)
      .select(col(idCol).as("batch_id"), col("gram_hash")).distinct()
    val sfp = storedFp
      .select(col(storedIdCol).as("stored_id"), col("gram_hash")).distinct()
    val rare = sfp.groupBy("gram_hash")
      .agg(count(lit(1)).as("_df")).filter(col("_df") <= maxDocFreq)
      .select("gram_hash")
    bfp.join(sfp.join(rare, "gram_hash"), "gram_hash")
      .groupBy(col("batch_id"), col("stored_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Aligned shared-SPAN report — [[winnowMatches]] reduced to ranges:
    * matched fingerprints on the same alignment diagonal (pos1 − pos2)
    * merge into one span when consecutive selections are at most `w`
    * apart, which is exactly the winnowing density guarantee inside a
    * shared run — so one contiguous copied region = one output row,
    * with its token range in BOTH documents. The per-pair gaps-and-
    * islands runs under a window partitioned by (pair, diagonal) —
    * bounded by a single pair's matches, never corpus-sized.
    *
    * Output: (id1, id2, start1, end1, start2, end2, n_fingerprints) —
    * token ranges end-exclusive (`end = last selected gram + k`),
    * `start/end2 = start/end1 − diagonal`.
    */
  def winnowSpans(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 4, w: Int = 5,
                  maxDocFreq: Long = 64L, minShared: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = winnowMatches(df, idCol, textCol, k, w, maxDocFreq, minShared)
      .withColumn("_diag", col("pos1") - col("pos2"))
    val byDiag = Window.partitionBy(col("id1"), col("id2"), col("_diag"))
      .orderBy(col("pos1"))
    val isl = m
      .withColumn("_ni",
        when(col("pos1") - lag(col("pos1"), 1).over(byDiag) > w, 1).otherwise(0))
      .withColumn("_isl", sum(col("_ni")).over(byDiag))
    isl.groupBy(col("id1"), col("id2"), col("_diag"), col("_isl"))
      .agg(min(col("pos1")).as("start1"), (max(col("pos1")) + k).as("end1"),
        count(lit(1)).as("n_fingerprints"))
      .select(col("id1"), col("id2"), col("start1"), col("end1"),
        (col("start1") - col("_diag")).as("start2"),
        (col("end1") - col("_diag")).as("end2"), col("n_fingerprints"))
  }

  /** NEAR-dup span scrub — [[winnowSpans]] applied as a scrub, closing
    * the fuzzy lifecycle the way [[scrubDuplicatedSpans]] closes the
    * exact one: every aligned shared-span range is removed from the
    * HIGHER-id document of its pair (keep-first-occurrence, the
    * [[chunkDedup]] survivor policy — near-dup content is a copy worth
    * training once, not boilerplate worth training zero times; contrast
    * the exact scrub's drop-every-occurrence rule). A document that is
    * `id1` in all its pairs keeps its text whole; a chain A<B<C scrubs
    * B's A-shared spans and C's B-shared spans.
    *
    * Scale shape: the span frame is pair-bounded (per-pair islands, see
    * [[winnowSpans]]), its explode is bounded by total covered tokens,
    * and the reassembly join is id-keyed — the [[scrubDuplicatedSpans]]
    * shape end to end, nothing corpus-quadratic. Output: (idCol,
    * n_tokens, n_dropped, clean_text) for EVERY input document.
    */
  def winnowScrub(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 4, w: Int = 5,
                  maxDocFreq: Long = 64L, minShared: Long = 2L): DataFrame = {
    val spans = winnowSpans(df, idCol, textCol, k, w, maxDocFreq, minShared)
    val covered = spans
      .select(col("id2").as(idCol),
        explode(sequence(col("start2"), col("end2") - 1)).as("_tl"))
      .select(col(idCol), col("_tl").cast("int").as("_t"))
      .distinct()
    scrubWith(df, idCol, textCol, covered)
  }

  /** SimHash: 64-bit signature where bit i is the sign of the weighted sum
    * of token-hash bit i. Narrow per-row computation; near-dups differ in
    * few bits → candidate join on 4 16-bit bands (any equal band =
    * candidate, Hamming ≤ 3 guaranteed caught at 4 bands).
    */
  def simhash(text: Column): Column = {
    // Hash each token once, then derive the 64 bit-sums from the hash
    // array (bit positions are compile-time Ints — shiftright needs them).
    val hashes = transform(split(text, " +"), t => xxhash64(t))
    (0 until 64).map { bit =>
      val bitSum = aggregate(hashes, lit(0),
        (acc, h) => acc + when(shiftright(h, bit).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(bitSum > 0, shiftleft(lit(1L), bit)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** A 64-bit token key both engines can compute EXACTLY: the first four
    * character codes and the length packed into 52 bits (no mod-2^64
    * arithmetic, so ANSI-safe on the Spark side and plain integer math in
    * DuckDB), meant to be avalanched by
    * [[graft.functions.GraftFunctions.splitmix64]]. Used by the
    * `x_simhash_splitmix` oracle twin so the SimHash kernel runs on a
    * hash DuckDB restates; the production lanes keep `xxhash64`.
    *
    * Char codes are masked to 8 bits (`% 256`) so the packing is
    * LANE-SAFE on any corpus: an unmasked codepoint ≥ 256 would carry
    * into the next lane's bits and, for supplementary-plane characters,
    * ride the engines' surrogate-vs-codepoint difference into oracle
    * divergence (r12 advice). ASCII corpora are unaffected (mask is
    * the identity below 256); the oracle twin applies the same mask.
    */
  def restatableTokenKey(t: Column): Column = {
    def c(i: Int) =
      (when(length(t) >= i, ascii(substring(t, i, 1))).otherwise(lit(0)) % 256).cast("long")
    c(1) + c(2) * 256L + c(3) * 65536L + c(4) * 16777216L +
      length(t).cast("long") * 4294967296L
  }

  /** SimHash signatures for a whole table via explode + one hash-aggregate:
    * token hashes explode to rows, the 64 per-bit vote sums are map-side-
    * combined sum() aggregates (one shuffle of 64 ints per doc), the
    * signature is assembled from the sums. ~6× faster than the per-row
    * 64-pass higher-order-function form on the bench. `tokenHash` swaps
    * the hash for the oracle twin (default: production xxhash64).
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val tok = df.select(col(idCol).as("_id"),
        explode(split(col(textCol), " +")).as("_t"))
      .select(col("_id"), tokenHash(col("_t")).as("_h"))
    val votes = tok.groupBy("_id").agg(
      sum(when(col("_h").bitwiseAND(1) === 1, 1).otherwise(-1)).as("_b0"),
      (1 until 64).map(b =>
        sum(when(shiftright(col("_h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"_b$b")): _*)
    votes.select(col("_id"),
      (0 until 64).map(b =>
        when(col(s"_b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
        .reduce((a, c) => a.bitwiseOR(c)).as("_sig"))
  }

  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val withSig = simhashSignatures(df, idCol, textCol, tokenHash)
    val banded = withSig.select(col("_id"), col("_sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("_sig"), b * 16).bitwiseAND(0xFFFFL)): _*)).as(Seq("band", "band_val")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_val") === col("b.band_val") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id1"), col("b._id").as("id2"),
        (lit(64) - bit_count(col("a._sig").bitwiseXOR(col("b._sig")))).as("matching_bits"))
      .distinct()
  }

  /** Transitive duplicate clusters: connected components over verified
    * near-dup pairs, labeling every member with the MINIMUM id reachable
    * in its component — the step that turns pairwise candidates into "keep
    * one survivor per duplicate cluster" (keep = the row whose id equals
    * its cluster label).
    *
    * Iterative min-label propagation WITH pointer doubling: each round a
    * node takes the min of (its label, its neighbors' labels, its label's
    * label). Neighbor-min alone converges in diameter(component) rounds —
    * a long chain silently exceeds any fixed cap; the label-of-label jump
    * halves the remaining distance per round, so convergence is
    * O(log diameter) and `maxIter` = 20 covers any component that fits in
    * storage. Non-convergence throws rather than returning wrong labels.
    *
    * Each round's labels are `localCheckpoint`ed (availability
    * trade-off + cluster-mode mitigations: DESIGN.md "localCheckpoint
    * availability trade-off") — an iterative plan that
    * is merely persisted keeps its full lineage, and the label tree grows
    * ~3× per round until ANALYSIS of round k's plan exhausts the driver
    * heap (observed at 351 edges!); checkpointing truncates the plan to
    * the materialized rows, and superseded rounds' blocks are reclaimed
    * by the ContextCleaner once unreferenced (two live rounds at a time).
    *
    * The RETURNED frame (id, cluster) is checkpoint-backed; the registry
    * memoizes one per session/sf.
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = clusterEdges(pairs).localCheckpoint(true)
    var labels = clusterLabelsInit(edges).localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // the round carries each node's PREVIOUS label (`_old`) through to
      // the checkpoint, so the convergence test is a block-local scan of
      // rows already materialized — the former shape re-JOINED `next`
      // with `labels` and counted, a full extra shuffle join per round
      // (r16 optimization: 2 driver actions/round -> 1 action + 1 local
      // probe; same fixpoint, bitwise-same labels)
      val next = clusterRoundTracked(edges, labels)
        .localCheckpoint(true) // eager: materializes AND truncates lineage
      converged = next.filter(col("cluster") =!= col("_old")).isEmpty
      // the superseded round's checkpoint blocks are dead the moment
      // `next` is materialized — release them NOW (bounded two live
      // rounds by construction) instead of waiting for GC + ContextCleaner
      Artifacts.release(labels)
      labels = next
      i += 1
    }
    require(converged, s"duplicateClusters did not converge in $maxIter rounds")
    Artifacts.release(edges) // no further rounds read them
    labels.select("id", "cluster")
  }

  /** Symmetric, de-duplicated (a, b) edge frame of a (id1, id2) pair
    * frame — shared by [[duplicateClusters]] and the plan audit so the
    * audited round plan can never drift from the production one.
    */
  private[graft] def clusterEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("id1").as("a"), col("id2").as("b"))
      .union(pairs.select(col("id2").as("a"), col("id1").as("b")))
      .distinct()

  /** Initial labels: every node its own cluster. */
  private[graft] def clusterLabelsInit(edges: DataFrame): DataFrame =
    edges.select(col("a").as("id")).distinct()
      .withColumn("cluster", col("id"))

  /** One propagation round of [[duplicateClusters]]: neighbor-min then
    * pointer doubling over (id, cluster) labels. Exposed separately so
    * the plan audit can sweep the round's plan — inside the loop every
    * round hides behind a localCheckpoint.
    */
  private[graft] def clusterRound(edges: DataFrame, labels: DataFrame): DataFrame =
    clusterRoundTracked(edges, labels).select("id", "cluster")

  /** [[clusterRound]] that also RETURNS each node's pre-round label as
    * `_old` — [[duplicateClusters]] checkpoints this frame and tests
    * convergence by scanning the materialized rows (`cluster != _old`)
    * instead of re-joining the new labels against the old frame, which
    * cost a full shuffle join + count job per round.
    */
  private[graft] def clusterRoundTracked(edges: DataFrame, labels: DataFrame): DataFrame = {
    val neighborMin = edges
      .join(labels.select(col("id").as("b"), col("cluster")), "b")
      .groupBy(col("a").as("id")).agg(min(col("cluster")).as("_nmin"))
    val stepped = labels.select("id", "cluster")
      .join(neighborMin, Seq("id"), "left")
      .select(col("id"), col("cluster").as("_old"),
        least(col("cluster"), coalesce(col("_nmin"), col("cluster"))).as("cluster"))
    // pointer doubling: follow the current label to ITS label
    stepped
      .join(stepped.select(col("id").as("cluster"), col("cluster").as("_pl")),
        Seq("cluster"), "left")
      .select(col("id"), col("_old"),
        least(col("cluster"), coalesce(col("_pl"), col("cluster"))).as("cluster"))
  }

  /** Exact n-gram Jaccard similarity for given pairs — the verification
    * stage after LSH candidate generation. `pairs` has (id1, id2);
    * shingle sets are joined in (broadcast when small, shuffle otherwise)
    * and Jaccard = |∩| / |∪| computed via array ops.
    *
    * Repeated (id1, id2) rows in `pairs` collapse to ONE output row: the
    * groupBy reassembly deduplicates candidate pairs, unlike the old
    * two-join form which preserved input multiplicity. This is the
    * desirable contract for candidate feeds that can emit a pair more
    * than once (e.g. the streaming per-band candidates) — but callers
    * passing weighted/duplicated pair frames must pre-aggregate their
    * weights, since multiplicity does not survive verification.
    *
    * When a stored (`_id`, `_sh`) gram-pair table exists (written once
    * at ingest by [[graft.ext.TextAnalysis.ngramPairs]]), pass it as
    * `gramRows`: verification then delegates to
    * [[jaccardVerifyFromPairs]] and never touches (or re-shingles)
    * document text — the 100 TB default. The caller owns the invariant
    * that the table was built from THIS corpus at THIS `shingleLen`
    * (results are bitwise-identical when it was; parity pinned in
    * tests). The text-scan form below is the no-index fallback.
    */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
                    shingleLen: Int = 3,
                    gramRows: Option[DataFrame] = None): DataFrame = gramRows match {
    case Some(g) =>
      // A stored table built at a different gram length yields silently
      // WRONG Jaccard values — check the build-time stamp
      // (TextAnalysis.ngramPairs field metadata; survives parquet) when
      // present; unstamped tables keep the caller-owned contract.
      g.schema.find(_.name == "_sh").map(_.metadata)
        .filter(_.contains("gram_k")).foreach { m =>
          require(m.getLong("gram_k") == shingleLen.toLong,
            s"stored gram table was built at k=${m.getLong("gram_k")} but " +
              s"jaccardVerify was called with shingleLen=$shingleLen — " +
              "pass the matching shingleLen or rebuild the table")
        }
      jaccardVerifyFromPairs(pairs, g)
    case None =>
    // Shingle sets are built ONLY for documents that appear in a candidate
    // pair (LEFT SEMI join first): at 100 TB the candidate id set is
    // orders of magnitude smaller than the corpus, so verification never
    // scans non-candidate text. Sets are 64-bit shingle hashes (same
    // Jaccard under uniform hashing; collision probability negligible),
    // built via the string-free Generate path.
    //
    // The set frame is referenced ONCE by construction: pairs unpivot to
    // (id1, id2, side-id) rows, sets join in with a single equi-join, and
    // the pair reassembles by groupBy. The earlier two-join form (one join
    // per pair side) relied on ReuseExchange to dedup the heavy
    // scan+explode+aggregate subplan — which proved nondeterministic under
    // AQE (measured bimodal 1 s / 8 s at sf0.1); this shape cannot compute
    // sets twice, and the extra shuffle moves only candidate-pair rows.
    // (The round-3 form instead persisted `sets` and never unpersisted —
    // one leaked executor copy per call.)
    val sides = pairSides(pairs)
    val sets = shingleHashRows(
        docs.join(sides.select(col("_jid").as(idCol)), Seq(idCol), "left_semi"),
        idCol, textCol, shingleLen)
      .groupBy(col("_id").as("_jid"))
      .agg(collect_set(col("_sh")).as("_set"))
    assembleJaccard(sides, sets)
  }

  /** [[jaccardVerify]] over a PRECOMPUTED (stored)
    * [[graft.ext.TextAnalysis.ngramPairs]] table instead of raw text —
    * the verification stage of the 100 TB lifecycle where the distinct
    * (`_id`, `_sh`) hashed-n-gram pairs were written once at ingest:
    * every later verify run reads 16-byte pair rows and never touches
    * (or re-shingles) document text. Like
    * [[graft.ext.TextAnalysis.ngramNoveltyFromPairs]]'s split, the pair
    * table fixes the shingle length at build time, so
    * there is no length argument here to silently disagree with it.
    *
    * Same candidates-only posture as [[jaccardVerify]]: the gram table
    * is LEFT SEMI joined down to ids that appear in a candidate pair
    * before anything aggregates, so verification cost scales with the
    * candidate set, not the corpus. Results are bitwise-identical to
    * [[jaccardVerify]] on the table's source corpus (same hashes, same
    * distinct-set Jaccard; parity pinned in tests).
    */
  def jaccardVerifyFromPairs(pairs: DataFrame, gramRows: DataFrame): DataFrame = {
    val sides = pairSides(pairs)
    val sets = gramRows
      .join(sides.select(col("_jid").as("_id")).distinct(), Seq("_id"), "left_semi")
      .groupBy(col("_id").as("_jid"))
      .agg(collect_set(col("_sh")).as("_set"))
    assembleJaccard(sides, sets)
  }

  /** (id1, id2) candidates unpivoted to one row per pair SIDE — the
    * shape both verify paths join shingle sets into exactly once.
    */
  private def pairSides(pairs: DataFrame): DataFrame =
    pairs.select(col("id1"), col("id2"),
      explode(array(col("id1"), col("id2"))).as("_jid"))

  /** Reassemble per-side shingle sets into per-pair Jaccard — shared by
    * [[jaccardVerify]] and [[jaccardVerifyFromPairs]].
    */
  private def assembleJaccard(sides: DataFrame, sets: DataFrame): DataFrame =
    sides.join(sets, "_jid")
      .groupBy("id1", "id2")
      .agg(
        first(when(col("_jid") === col("id1"), col("_set")), ignoreNulls = true).as("_set1"),
        first(when(col("_jid") === col("id2"), col("_set")), ignoreNulls = true).as("_set2"))
      // a pair whose doc is absent from the corpus side drops, like the
      // inner joins of the two-join form
      .filter(col("_set1").isNotNull && col("_set2").isNotNull)
      .withColumn("jaccard",
        size(array_intersect(col("_set1"), col("_set2"))).cast("double") /
          size(array_union(col("_set1"), col("_set2"))))
      .drop("_set1", "_set2")

  /** Sub-document (chunk-level) exact dedup: each document splits into
    * consecutive `chunkTokens`-token chunks (last chunk may be shorter);
    * a chunk survives only at its FIRST corpus-wide occurrence (lowest
    * (doc id, position)), and every document is reassembled from its
    * surviving chunks in order — the Dolma/CCNet paragraph-dedup shape
    * for corpora whose boilerplate repeats inside otherwise-distinct
    * documents, where [[exact]] (whole-document) keeps both copies.
    *
    * Scale shape: chunk CONTENT never shuffles — chunks travel as
    * (chunk-hash, doc, pos) triples; the winner per hash is one
    * map-side-combined min(struct) aggregate; kept positions join back
    * on the hash and reduce to a per-doc position list; the surviving
    * text is rebuilt NARROWLY by re-slicing each document's own token
    * array at its kept positions (the only row wide enough to hold text
    * is the document's own). A fully-duplicated document keeps zero
    * chunks and reassembles to the empty string, not a dropped row.
    *
    * Output: (idCol, kept_chunks, total_chunks, text_deduped).
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int): DataFrame = {
    require(chunkTokens > 0, s"need positive chunk size, got $chunkTokens")
    val base = df.select(col(idCol).as("_id"), split(col(textCol), " +").as("_toks"))
    val lastPos = floor((size(col("_toks")) - 1) / chunkTokens.toDouble).cast("int")
    val chunks = base.select(col("_id"),
      posexplode(transform(sequence(lit(0), lastPos),
          p => xxhash64(array_join(slice(col("_toks"), p * chunkTokens + 1, lit(chunkTokens)), " "))))
        .as(Seq("_pos", "_ch")))
    val winners = chunks.groupBy("_ch")
      .agg(min(struct(col("_id"), col("_pos"))).as("_w"))
    val kept = chunks.join(winners, "_ch")
      .filter(col("_id") === col("_w._id") && col("_pos") === col("_w._pos"))
      .groupBy("_id").agg(sort_array(collect_list(col("_pos"))).as("_keep"))
    base.join(kept, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        size(coalesce(col("_keep"), array().cast("array<int>"))).cast("long").as("kept_chunks"),
        (floor((size(col("_toks")) - 1) / chunkTokens.toDouble) + 1).cast("long")
          .as("total_chunks"),
        array_join(transform(coalesce(col("_keep"), array().cast("array<int>")),
          p => array_join(slice(col("_toks"), p * chunkTokens + 1, lit(chunkTokens)), " ")), " ")
          .as("text_deduped"))
  }

  /** Every token position covered by a k-gram that at least `minDocs`
    * documents share verbatim — the shared first stage of
    * [[duplicatedSpans]] and [[scrubDuplicatedSpans]].
    *
    * Scale shape: gram identity is an 8-byte xxhash64 (gram text exists
    * only transiently inside the projection — it never shuffles); the
    * "appears in ≥ minDocs documents" test is a two-level aggregate
    * (distinct (hash, doc), then count per hash), both map-side
    * combined; duplicated grams join back on the compact hash and fan
    * out k positions per hit before a (doc, position) distinct. Output:
    * (idCol, _t) — distinct covered token positions per document.
    */
  private[graft] def coveredPositions(df: DataFrame, idCol: String,
                                      textCol: String, k: Int,
                                      minDocs: Int): DataFrame =
    coveredAgainst(df, idCol, textCol, k,
      dupGramTable(df, idCol, textCol, k, minDocs))

  /** The hashed (idCol, position, gram-hash) triples every span operator
    * starts from — gram text exists only inside the projection.
    */
  private def gramsOf(df: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame = {
    require(k > 0, s"need positive gram size, got $k")
    df.select(col(idCol), split(col(textCol), " +").as("_ws"))
      .filter(size(col("_ws")) >= k)
      .select(col(idCol), col("_ws"),
        explode(sequence(lit(0), size(col("_ws")) - k)).as("_p"))
      .select(col(idCol), col("_p"),
        xxhash64(concat_ws(" ", slice(col("_ws"), col("_p") + lit(1), lit(k))))
          .as("_gh"))
  }

  /** The duplicated-gram hash table the span operators detect against —
    * STORABLE (8 bytes per gram plus its document count), so incremental
    * batches and ingest streams can scrub a corpus's known boilerplate
    * via [[scrubFromStored]] / `StreamingOps.scrubAtIngest` without ever
    * recounting history (the [[exactIncremental]] posture at span
    * granularity). Two-level aggregate: distinct (hash, doc), then a
    * map-side-combined count per hash. Output: (gram_hash, n_docs).
    */
  def dupGramTable(df: DataFrame, idCol: String, textCol: String,
                   k: Int, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"need minDocs >= 2, got $minDocs")
    gramsOf(df, idCol, textCol, k)
      .select(col("_gh"), col(idCol)).distinct()
      .groupBy("_gh").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("_gh").as("gram_hash"), col("n_docs"))
  }

  /** Distinct covered token positions of `df` against an explicit
    * duplicated-gram hash set — the join half shared by the self-corpus
    * and stored-table paths.
    */
  private def coveredAgainst(df: DataFrame, idCol: String, textCol: String,
                             k: Int, dupGrams: DataFrame): DataFrame =
    gramsOf(df, idCol, textCol, k)
      .join(dupGrams.select(col("gram_hash").as("_gh")), "_gh")
      .select(col(idCol), explode(sequence(col("_p"), col("_p") + (k - 1))).as("_t"))
      .distinct()

  /** Exact duplicated-SPAN detection — the substring-level granularity
    * between whole-document/chunk dedup and the Gopher duplicate-n-gram
    * FRACTION signal: every k-token window that `minDocs`+ documents
    * share verbatim marks its token positions, and maximal covered runs
    * merge into spans. This is the operator class of Lee et al.'s
    * "Deduplicating Training Data Makes Language Models Better"
    * (suffix-array exact substrings), in the k-gram shape a shuffle
    * engine can run: grams instead of suffixes bound state, at the cost
    * of missing duplicates shorter than k tokens.
    *
    * The span merge is [[graft.window.Windows.islands]] partitioned per
    * document — no global window anywhere. Output: (idCol, span_start,
    * span_end), token positions, end-exclusive.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      k: Int, minDocs: Int = 2): DataFrame =
    graft.window.Windows.islands(
        coveredPositions(df, idCol, textCol, k, minDocs), "_t", Seq(idCol))
      .select(col(idCol),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"))

  /** [[duplicatedSpans]] applied as a SCRUB: corpus-duplicated spans are
    * removed from every document and the survivors are rejoined in
    * order. Unlike [[chunkDedup]] (which keeps each chunk's first
    * occurrence), the scrub drops EVERY occurrence — the policy for
    * boilerplate that should train zero times, not once.
    *
    * Reassembly is narrow, the [[chunkDedup]] pattern: each document's
    * covered positions reduce to one small array, and the surviving
    * text is rebuilt by filtering the document's own token array — the
    * only row wide enough to hold text is the document's own. A fully
    * covered document scrubs to the empty string, not a dropped row.
    *
    * Output: (idCol, n_tokens, n_dropped, clean_text).
    */
  def scrubDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                           k: Int, minDocs: Int = 2): DataFrame =
    scrubWith(df, idCol, textCol,
      coveredPositions(df, idCol, textCol, k, minDocs))

  /** [[scrubDuplicatedSpans]] against a STORED [[dupGramTable]]: new
    * batches scrub a corpus's already-known boilerplate without
    * recounting it — history stays on disk as 8-byte gram hashes, the
    * batch contributes only its own gram probes. Grams the new batch
    * duplicates INTERNALLY (absent from the stored table) are kept; run
    * the self-corpus [[scrubDuplicatedSpans]] on the batch too when that
    * matters. Same output columns as the self-corpus form.
    */
  def scrubFromStored(df: DataFrame, idCol: String, textCol: String,
                      k: Int, dupGrams: DataFrame): DataFrame =
    scrubWith(df, idCol, textCol,
      coveredAgainst(df, idCol, textCol, k, dupGrams))

  private def scrubWith(df: DataFrame, idCol: String, textCol: String,
                        covered: DataFrame): DataFrame = {
    val covPerDoc = covered
      .groupBy(col(idCol)).agg(sort_array(collect_list(col("_t"))).as("_cov"))
    df.select(col(idCol), split(col(textCol), " +").as("_ws"))
      .join(covPerDoc, Seq(idCol), "left")
      .withColumn("_cov", coalesce(col("_cov"), array().cast("array<int>")))
      .select(scrubOutputColumns(col(idCol), col("_ws"), col("_cov")): _*)
  }

  /** Survivor-text reconstruction shared by the batch scrubbers and
    * [[graft.streaming.StreamingOps.scrubAtIngest]]: given the token
    * array and the SORTED covered-position array, emits (id, n_tokens,
    * n_dropped, clean_text). One definition makes the pinned
    * batch/streaming row-for-row parity structural rather than
    * kept-in-sync-by-comment.
    */
  private[graft] def scrubOutputColumns(id: Column, ws: Column,
                                        cov: Column): Seq[Column] = Seq(
    id,
    size(ws).cast("long").as("n_tokens"),
    size(cov).cast("long").as("n_dropped"),
    // Surviving positions via array_except (hash-set lookup, O(tokens +
    // covered) and order-preserving on the ascending sequence) — a
    // per-token array_contains probe of cov would go quadratic on long,
    // heavily-covered documents.
    array_join(transform(
      array_except(sequence(lit(0), size(ws) - 1), cov),
      i => element_at(ws, i + 1)), " ").as("clean_text"))

  /** Quality-aware canonical selection: given cluster labels (from
    * [[duplicateClusters]]) and a per-document quality score, keep the
    * HIGHEST-scoring member of each duplicate cluster (ties → lowest
    * id) — the survivor policy production dedup uses instead of
    * min-id-wins (the longest / highest-quality copy is the one worth
    * training on).
    *
    * One hash aggregate on the cluster id: the argmax rides a
    * `max(struct(score, -id))` accumulator (map-side combined), so no
    * window and no per-cluster sort exist anywhere.
    *
    * The quality frame joins in LEFT, so a cluster member missing from
    * it (quality computed on a filtered corpus) still counts toward
    * `members` and can still win — but only when no scored member
    * exists (a null score struct sorts below every scored one; among
    * all-null clusters the lowest id wins). An inner join here would
    * silently under-count clusters and bias the survivor policy.
    *
    * A NaN score sorts ABOVE every real value in Spark's struct
    * ordering, so a NaN-scored member would silently win the argmax;
    * NaN scores are nulled out (treated as unscored) instead.
    *
    * Output: (clusterCol, canonical_id, members).
    */
  def canonicalPerCluster(clusters: DataFrame, idCol: String, clusterCol: String,
                          quality: DataFrame, qIdCol: String,
                          scoreCol: String): DataFrame =
    clusters.join(
        quality.select(col(qIdCol).as(idCol),
          when(!isnan(col(scoreCol).cast("double")), col(scoreCol)).as(scoreCol)),
        Seq(idCol), "left")
      .groupBy(clusterCol)
      .agg(
        max(struct(col(scoreCol).as("_s"), (-col(idCol)).as("_nid"))).as("_best"),
        count(lit(1)).as("members"))
      .select(col(clusterCol), (-col("_best._nid")).as("canonical_id"), col("members"))

  /** Benchmark decontamination: flag each corpus document that shares any
    * length-`n` token n-gram with a document of the `benchmark` (eval)
    * set — the Gopher/Dolma-style train/test-overlap check a training
    * corpus runs before release.
    *
    * Scale shape: n-grams travel as 64-bit `xxhash64` keys (no n-gram
    * strings cross the wire — same hashed-shingle identity as
    * [[jaccardVerify]]; collision probability is negligible). The
    * benchmark gram set — eval suites are tiny next to a 100 TB corpus —
    * is `broadcast()`, so the corpus side joins map-side with NO shuffle;
    * only MATCHED (id, gram) rows reach the per-doc aggregate, and the
    * distinct-gram dedup happens inside that aggregate
    * (`countDistinct`) rather than as a corpus-wide `dropDuplicates`
    * shuffle. The final left join attaches `n_shared = 0` to clean
    * documents; the hit table carries one row per CONTAMINATED doc only,
    * so AQE broadcasts it in the common (mostly-clean) case.
    *
    * Output: (idCol, contaminated: boolean, n_shared: bigint) where
    * `n_shared` counts distinct shared n-grams per corpus document.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    val benchGrams = broadcast(
      shingleHashRows(benchmark, idCol, textCol, n).select("_sh").distinct())
    val hits = shingleHashRows(corpus, idCol, textCol, n)
      .join(benchGrams, "_sh")
      .groupBy(col("_id").as(idCol))
      .agg(countDistinct(col("_sh")).as("n_shared"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .na.fill(0L, Seq("n_shared"))
      .select(col(idCol), (col("n_shared") > 0).as("contaminated"), col("n_shared"))
  }
}
