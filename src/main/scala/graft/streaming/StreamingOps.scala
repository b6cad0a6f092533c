package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** State for [[StreamingOps.countWindows]] — top-level so the state
  * encoder's generated code can reference it directly.
  */
final case class BufState(buf: Array[Double], seen: Long)

/** State for [[StreamingOps.minhashCandidatePairs]]: the doc ids seen in
  * one (band, bucket) LSH bucket within the watermark horizon.
  */
final case class BucketState(ids: Array[Long])

/** State for [[StreamingOps.sessionEpisodes]]: the newest event time seen
  * for the key and its current episode number.
  */
final case class EpisodeState(lastTsMs: Long, episode: Long)

/** State for [[StreamingOps.asofLatest]]: the latest right-side row seen
  * for the key — two fields, bounded regardless of stream length.
  */
final case class AsofState(rightTsMs: Long, rightValue: Double)

/** State for [[StreamingOps.funnelProgress]]: the key's current funnel
  * step and that step's first qualifying event time — two fields,
  * bounded regardless of stream length or step count.
  */
final case class FunnelState(step: Int, firstTsMs: Long)

/** State for [[StreamingOps.retentionAtIngest]]: the key's cohort period
  * and a bitset of the ages already reported — `maxAges/64` longs,
  * bounded by the configured horizon, never by stream length.
  */
final case class RetentionState(cohort: Long, seenBits: Array[Long])

/** Streaming-inference surface (SURVEY.md §2.9 — the reference is
  * batch-only; this is the engine's Structured Streaming extension so the
  * same anomaly semantics run over a live sensor feed).
  *
  *  - [[periodMeans]]: event-time tumbling windows + watermark — the
  *    streaming analogue of A3's per-period mean.
  *  - [[thresholdFlags]]: per-period mean vs a (pre-fit) threshold — the
  *    streaming P9 flag.
  *  - [[countWindows]]: count-based sliding windows per key via
  *    flatMapGroupsWithState — the streaming W1 (Spark has no native
  *    count-based window; state holds at most `size` doubles per key).
  *
  * Scale: all three are keyed state — parallel across keys, watermark
  * bounds state size, no global ordering dependency.
  */
object StreamingOps {

  /** A3-streaming: tumbling event-time mean of `valueCol` per
    * (`keyCols`, window). Late data beyond `watermark` is dropped.
    */
  def periodMeans(stream: DataFrame, tsCol: String, valueCol: String,
                  windowDuration: String, watermark: String,
                  keyCols: Seq[String] = Nil): DataFrame = {
    val keys = window(col(tsCol), windowDuration) +: keyCols.map(col)
    stream.withWatermark(tsCol, watermark)
      .groupBy(keys: _*)
      .agg(avg(col(valueCol)).as("mse"), count(lit(1)).as("n"))
      .select(col("window.start").as("period_start") +:
        (keyCols.map(col) :+ col("mse") :+ col("n")): _*)
  }

  /** Per-source ingest report — the streaming twin of
    * [[graft.ext.TextAnalysis.sourceReport]] over event-time windows:
    * doc and token volumes are EXACT; the unique-content column is the
    * HLL estimate (exact distinct aggregation is unsupported in a
    * streaming aggregate, and the batch report owns the exact number),
    * so a running dashboard watches per-source volume and dup-rate
    * drift with bounded state — one row of counters per
    * (window, source), nothing text-sized retained.
    */
  def sourceReportStream(stream: DataFrame, tsCol: String, sourceCol: String,
                         textCol: String, windowDuration: String,
                         watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration), col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.ext.TextAnalysis.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
        approx_count_distinct(xxhash64(col(textCol))).as("approx_unique"))
      .select(col("window.start").as("period_start"), col(sourceCol),
        col("n_docs"), col("n_tokens"), col("approx_unique"))

  /** P9-streaming: flag periods whose mean exceeds `threshold`. */
  def thresholdFlags(stream: DataFrame, tsCol: String, valueCol: String,
                     windowDuration: String, watermark: String,
                     threshold: Double): DataFrame =
    periodMeans(stream, tsCol, valueCol, windowDuration, watermark)
      .withColumn("anomaly", col("mse") > threshold)

  /** Sessionization-streaming: event-time session windows — a session
    * closes after `gap` of silence, exactly the batch
    * [[graft.window.Windows.sessionize]] semantics but assembled
    * incrementally as events arrive. Uses Spark's NATIVE `session_window`
    * (dynamic-gap merging state under the hood) rather than hand-rolled
    * `mapGroupsWithState`: the built-in merges overlapping/late events
    * within the watermark and expires state automatically. Output one row
    * per closed session: start/end, event count, value mean.
    *
    * `keyCols` must be NON-EMPTY on a streaming frame (sessions are
    * per-entity — user, sensor, client; Spark rejects a global streaming
    * session aggregation outright). Batch frames may pass none.
    */
  def sessionWindows(stream: DataFrame, tsCol: String, valueCol: String,
                     gap: String, watermark: String,
                     keyCols: Seq[String] = Nil): DataFrame = {
    val keys = session_window(col(tsCol), gap) +: keyCols.map(col)
    stream.withWatermark(tsCol, watermark)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_events"), avg(col(valueCol)).as("mean_v"))
      .select(col("session_window.start").as("session_start") +:
        col("session_window.end").as("session_end") +:
        (keyCols.map(col) :+ col("n_events") :+ col("mean_v")): _*)
  }

  /** Exact-dedup streaming (the training-data-pipeline dedup at ingest
    * time): drop any document whose content hash was already seen within
    * the watermark horizon. State holds ONE 8-byte hash per distinct
    * document — never the text — and the watermark bounds it, so a
    * forever-running ingest job's state can't grow without limit (the
    * batch form, `ext.Dedup.exact`, owns full-corpus dedup).
    */
  def dedupExact(stream: DataFrame, tsCol: String, textCol: String,
                 watermark: String): DataFrame =
    stream.withColumn("_h", xxhash64(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_h")
      .drop("_h")

  /** Incremental dedup vs the STORED corpus at ingest time — the
    * streaming half of [[graft.ext.Dedup.exactIncrementalBloom]]: every
    * arriving document checks against the previous corpus version's
    * hash table. The broadcast bloom (built once from the stored table
    * via [[graft.ext.Dedup.seenBloom]]) passes definitely-new rows
    * with a narrow stateless probe; only suspects take the
    * stream-static left-anti join against the hash table. No false
    * negatives, so survivors are exactly the rows
    * [[graft.ext.Dedup.exactIncremental]] would keep (minus
    * batch-internal dedup, which is [[dedupExact]]'s watermarked job
    * downstream — streaming has no "lowest id in batch" without
    * state).
    *
    * Output: the surviving rows plus their `content_hash`,
    * append-mode-safe (union of a stateless filter and a
    * stream-static join).
    */
  def incrementalDedupAtIngest(stream: DataFrame, textCol: String,
                               seenHashes: DataFrame,
                               bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame =
    graft.ext.Dedup.bloomGatedUnseen(stream, textCol, seenHashes, bloom)

  /** Benchmark decontamination at INGEST time — the streaming half of
    * [[graft.ext.Dedup.decontaminate]]: every arriving document is
    * flagged if any of its hashed token `n`-grams appears in the
    * held-out benchmark set. The benchmark's distinct gram hashes are
    * materialized ONCE from the static frame and embedded as a plan
    * literal (sorted array + `arrays_overlap`), so the streaming side is
    * a pure narrow projection — no state, no shuffle, no join,
    * append-mode-safe — and a restart rebuilds it deterministically.
    *
    * That shape is right because eval sets are SMALL by construction
    * (the 100 TB asymmetry: the corpus streams, the benchmark fits in a
    * broadcast); for a benchmark too large to embed, run the batch
    * explode + broadcast-semi-join path instead. Flags agree with the
    * batch operator row-for-row (same [[graft.ext.Dedup.shingleHashArray]]
    * hashes; parity pinned in StreamingSpec).
    */
  def contaminatedAtIngest(stream: DataFrame, textCol: String,
                           benchmark: DataFrame, benchTextCol: String,
                           n: Int, maxBenchGrams: Int = 1 << 22): DataFrame = {
    require(maxBenchGrams > 0 && maxBenchGrams < Int.MaxValue,
      s"need 0 < maxBenchGrams < Int.MaxValue, got $maxBenchGrams")
    // Same capped-probe guard as scrubAtIngest: limit() bounds what the
    // driver materializes to maxBenchGrams+1 rows, so a "benchmark" that
    // is accidentally corpus-sized fails loudly BEFORE the collect it
    // polices can OOM the driver. Past the cap, run micro-batches through
    // the batch Dedup.decontaminate join instead.
    val probed: Array[Long] = benchmark
      .select(explode(graft.ext.Dedup.shingleHashArray(col(benchTextCol), n)).as("_sh"))
      .distinct().limit(maxBenchGrams + 1)
      .collect().map(_.getLong(0))
    require(probed.length <= maxBenchGrams,
      s"benchmark has more than maxBenchGrams=$maxBenchGrams distinct " +
        "gram hashes — too large to embed as a plan constant; run " +
        "micro-batches through Dedup.decontaminate, or raise " +
        "maxBenchGrams explicitly")
    val benchGrams: Array[Long] = probed.sorted
    stream.withColumn("contaminated",
      arrays_overlap(graft.ext.Dedup.shingleHashArray(col(textCol), n),
        lit(benchGrams)))
  }

  /** Duplicated-span SCRUB at INGEST time — the streaming half of
    * [[graft.ext.Dedup.scrubFromStored]]: every arriving document drops
    * the spans a stored [[graft.ext.Dedup.dupGramTable]] already knows as
    * corpus boilerplate. The table's gram hashes embed as a sorted plan
    * literal (the [[contaminatedAtIngest]] shape), so the whole scrub is
    * one narrow per-row expression chain — gram probe, k-position
    * fan-out, indexed token filter — with no state, no shuffle, no join;
    * append-mode-safe, and a restart rebuilds the literal
    * deterministically.
    *
    * The literal is right when the table is boilerplate-sized (spans
    * shared across many documents are FEW relative to the corpus); for a
    * gram table too large to embed, run arriving micro-batches through
    * the batch [[graft.ext.Dedup.scrubFromStored]] join instead. Output
    * and verdicts match the batch operator row-for-row (same xxhash64
    * gram identity; parity pinned in StreamingSpec).
    */
  def scrubAtIngest(stream: DataFrame, idCol: String, textCol: String,
                    dupGrams: DataFrame, k: Int,
                    maxTableSize: Int = 1 << 22): DataFrame = {
    require(k > 0, s"need positive gram size, got $k")
    require(maxTableSize > 0 && maxTableSize < Int.MaxValue,
      s"need 0 < maxTableSize < Int.MaxValue, got $maxTableSize")
    // The embed-as-plan-constant design is sized for boilerplate-scale
    // tables; failing loudly here beats silently collecting an
    // ever-growing table to the driver — past the cap, route batches
    // through the scrubFromStored join instead. The limit bounds what
    // the driver materializes to maxTableSize+1 rows, so the guard
    // fires BEFORE an oversized table can OOM the collect it polices.
    val probed = dupGrams
      .select(col("gram_hash")).distinct().limit(maxTableSize + 1)
      .collect().map(_.getLong(0))
    require(probed.length <= maxTableSize,
      s"stored gram table has more than maxTableSize=$maxTableSize " +
        "distinct hashes — too large to embed as a plan constant; run " +
        "micro-batches through Dedup.scrubFromStored, or raise " +
        "maxTableSize explicitly")
    val hashes: Array[Long] = probed.sorted
    val ws = split(col(textCol), " +")
    // start positions whose k-gram hash is in the stored set — an
    // O(log m) codegen'd binary search per probe against the SORTED
    // literal (array_contains would linear-scan all m hashes per
    // position); the guard keeps sequence() from running backwards on
    // docs shorter than k
    val starts = when(size(ws) >= k,
      filter(sequence(lit(0), size(ws) - k), p =>
        graft.functions.GraftFunctions.sorted_long_contains(
          xxhash64(concat_ws(" ", slice(ws, p + lit(1), lit(k)))), hashes)))
      .otherwise(array().cast("array<int>"))
    val covered = array_distinct(flatten(
      transform(starts, p => sequence(p, p + (k - 1)))))
    // survivor reconstruction is the SAME expression as the batch
    // scrubbers — shared helper, so the pinned parity is structural
    stream.select(
      graft.ext.Dedup.scrubOutputColumns(col(idCol), ws, covered): _*)
  }

  final case class KeyedValue(key: String, seq: Long, value: Double)
  final case class WindowOut(key: String, windowId: Long, values: Seq[Double])
  final case class BandedDoc(id: Long, eventTs: java.sql.Timestamp, band: Int, bucket: Long)
  final case class CandidatePair(id1: Long, id2: Long)

  /** MinHash-LSH candidate pairs at INGEST time — the streaming half of
    * the dedup extension ([[graft.ext.Dedup.minhashCandidates]] is the
    * batch half). Each arriving document computes its banded minhash
    * signature per-row (no shuffle; bitwise-identical banding to the batch
    * path via [[graft.ext.Dedup.minhashSignatureHashed]]/`bandHashes`, so
    * a pair is a streaming candidate iff it would be a batch candidate),
    * explodes to its `bands` (band, bucket) keys, and is checked against
    * the ids already seen in each bucket: every (known, new) pair is
    * emitted as a candidate for downstream exact verification
    * ([[graft.ext.Dedup.jaccardVerify]]).
    *
    * State per bucket is a bounded id array: `maxBucket` caps the
    * pathological hot bucket (a bucket that large is a degenerate
    * near-identical cluster — its first `maxBucket` members already link
    * the cluster for transitive dedup), and the event-time timeout drops
    * any bucket idle past the watermark horizon, so a forever-running
    * ingest job's state cannot grow without bound — the [[dedupExact]]
    * contract. A pair may be emitted once per matching band (the batch
    * path's `.distinct()` has no bounded-state streaming analogue);
    * verification is idempotent, so duplicates cost only repeated work.
    */
  def minhashCandidatePairs(stream: DataFrame, tsCol: String, idCol: String, textCol: String,
                            watermark: String, shingleLen: Int = 3, bands: Int = 8,
                            rowsPerBand: Int = 2, maxBucket: Int = 128,
                            keysFn: Option[(Column, Int, Int, Int) => Column] = None): Dataset[CandidatePair] = {
    val spark = stream.sparkSession
    import spark.implicits._
    import graft.ext.Dedup
    // keysFn swaps the per-row band-key array for the oracle parity row
    // (splitmix keys DuckDB restates); production stays xxhash64-banded.
    // It receives shingleLen AND bands/rowsPerBand so neither the
    // short-doc filter nor the banding geometry can silently diverge
    // from the caller's parameters (pre-r13 only shingleLen was
    // threaded — a non-default banding with a keysFn was dropped).
    val bandKeys = keysFn.map(_(col(textCol), shingleLen, bands, rowsPerBand)).getOrElse(
      Dedup.bandHashes(
        Dedup.minhashSignatureHashed(col(textCol), shingleLen, bands * rowsPerBand),
        bands, rowsPerBand))
    val banded = stream.withWatermark(tsCol, watermark)
      .filter(size(split(col(textCol), " +")) >= shingleLen)
      .select(col(idCol).cast("long").as("id"), col(tsCol).as("eventTs"),
        posexplode(bandKeys).as(Seq("band", "bucket")))
      .as[BandedDoc]
    bucketPairs(banded, watermark, maxBucket)
  }

  /** Sign-bucket candidate pairs at INGEST time — the streaming half of
    * the SEMANTIC dedup lane ([[graft.ext.Similarity.semanticDedup]] is
    * the batch half), sharing the bounded-bucket pair emitter with
    * [[minhashCandidatePairs]]. Each arriving embedding computes its
    * `planes`-bit JL sign bucket per-row with the SAME deterministic
    * kernel as the batch path (`Similarity.jlProjection`/`signFold` —
    * bitwise identity is structural: a pair is a streaming candidate iff
    * the batch bucket join would pair it), and every (known, new) pair in
    * its bucket is emitted for downstream exact-cosine verification.
    *
    * `planes` is CALLER-PINNED: a stream cannot run the batch
    * auto/adaptive occupancy rules (they key on `count(*)` / the bucket
    * histogram, which an unbounded ingest never has) — size it from the
    * expected corpus magnitude with the same formula (`2^planes ≥
    * n/targetBucket`) and re-shard on regime change. Null vectors are
    * dropped (no vector, no bucket — the batch convention). State
    * bounds and timeout semantics are [[minhashCandidatePairs]]'s.
    */
  def signBucketCandidatePairs(stream: DataFrame, tsCol: String, idCol: String,
                               vecCol: String, dIn: Int, planes: Int,
                               watermark: String,
                               maxBucket: Int = 128): Dataset[CandidatePair] = {
    val spark = stream.sparkSession
    import spark.implicits._
    import graft.ext.Similarity
    graft.functions.SignBucketing.Fixed(planes) // rejects a bad plane count up front
    val banded = stream.withWatermark(tsCol, watermark)
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(tsCol).as("eventTs"),
        lit(0).as("band"),
        Similarity.jlProjection(col(vecCol), dIn, planes).as("_proj"))
      .select(col("id"), col("eventTs"), col("band"),
        Similarity.signFold(col("_proj"), planes).as("bucket"))
      .as[BandedDoc]
    bucketPairs(banded, watermark, maxBucket)
  }

  /** IVF membership-cell candidate pairs at INGEST time — the streaming
    * half of the IVF kNN lane ([[graft.ext.Similarity.ivfKnnJoin]] is
    * the batch half), sharing the bounded-bucket pair emitter with the
    * minhash/sign-bucket twins. Each arriving embedding computes its
    * MEMBERSHIP cell with the SAME codegen'd kernel as the batch path
    * ([[graft.functions.IvfProbes]] at nprobe = 1 — element 1 is the
    * rank-1 cell), so identity is structural: two rows pair here iff
    * the batch cell join pairs them at nprobe = 1. Batch probing at
    * nprobe > 1 is a recall widener over the SAME membership cells —
    * it needs the full corpus's assignments and stays a batch concern;
    * the ingest twin is the membership slice, which is exactly the
    * candidate set a keep-first streaming dedup consumes.
    *
    * The quantizer is CALLER-PINNED (a [[graft.functions.IvfQuantizer]]
    * value, typically `IvfQuantizer.stored` of the table the batch build
    * wrote, collected and validated before the stream starts): a stream
    * cannot run the batch [[graft.ext.Similarity.autoNlist]] rule (it
    * keys on `count(*)`, which an unbounded ingest never has) — size
    * `nlist` from the expected corpus magnitude (nlist² ≈ n·nprobe) and
    * re-shard on regime change, the sign-bucket lane's convention.
    * Null and zero-norm vectors are dropped (no direction, no cell —
    * the batch convention). State bounds and timeout semantics are
    * [[minhashCandidatePairs]]'s.
    */
  def ivfCellCandidatePairs(stream: DataFrame, tsCol: String, idCol: String,
                            vecCol: String, quantizer: graft.functions.IvfQuantizer,
                            watermark: String,
                            maxBucket: Int = 128): Dataset[CandidatePair] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val banded = stream.withWatermark(tsCol, watermark)
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(tsCol).as("eventTs"),
        lit(0).as("band"),
        graft.functions.GraftFunctions.ivf_probes(col(vecCol).cast("array<double>"),
          quantizer.centroids, quantizer.offsets, 1).as("_p"))
      .filter(col("_p").isNotNull)
      .select(col("id"), col("eventTs"), col("band"),
        element_at(col("_p"), 1).cast("long").as("bucket"))
      .as[BandedDoc]
    bucketPairs(banded, watermark, maxBucket)
  }

  /** The shared bounded-bucket pair emitter under
    * [[minhashCandidatePairs]] and [[signBucketCandidatePairs]]: per
    * (band, bucket) key, every (known, new) id pair is emitted once per
    * batch it appears in; state is a bounded id array (`maxBucket` caps
    * the pathological hot bucket — a bucket that large is a degenerate
    * near-identical cluster whose first members already link it for
    * transitive dedup), and the event-time timeout drops buckets idle
    * past the watermark horizon so state cannot grow without bound.
    */
  private def bucketPairs(banded: Dataset[BandedDoc], watermark: String,
                          maxBucket: Int): Dataset[CandidatePair] = {
    val spark = banded.sparkSession
    import spark.implicits._
    banded.groupByKey(d => (d.band, d.bucket))
      .flatMapGroupsWithState[BucketState, CandidatePair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var known = state.getOption.map(_.ids).getOrElse(Array.empty[Long])
            val out = Seq.newBuilder[CandidatePair]
            var maxTs = Long.MinValue
            rows.toSeq.sortBy(_.id).foreach { r =>
              maxTs = math.max(maxTs, r.eventTs.getTime)
              if (!known.contains(r.id)) {
                known.foreach(k =>
                  out += CandidatePair(math.min(k, r.id), math.max(k, r.id)))
                if (known.length < maxBucket) known = known :+ r.id
              }
            }
            // NOTE a conditional `update` (skip when membership is
            // unchanged) elides nothing here: the timeout re-arm below
            // dirties the state row every touch, so Spark rewrites it
            // regardless (an A/B of the two measured exactly noise).
            // The write-per-touched-bucket floor is structural unless
            // expiry is anchored at last-membership-change instead.
            state.update(BucketState(known))
            // expire the bucket `watermark` past its newest event (never
            // behind the current watermark — Spark rejects that)
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs() + 1), watermark)
            out.result().iterator
          }
      }
  }

  final case class KeyedEvent(key: String, eventTs: java.sql.Timestamp)
  final case class EpisodeOut(key: String, eventTs: java.sql.Timestamp, episode: Long)

  /** Per-EVENT episode labeling at ingest — the streaming analogue of the
    * batch [[graft.window.Windows.sessionize]] EVENT labeling, where
    * [[sessionWindows]] is the analogue of its closed-session summary: an
    * arriving event is tagged with its key's running episode number
    * (0-based; a silence longer than `gapMs` opens the next episode), so
    * downstream operators can group by episode without waiting for the
    * session to close.
    *
    * State per key is two longs (newest event time, episode counter) —
    * bounded regardless of stream length — and the event-time timeout
    * drops keys idle past the watermark horizon. Two documented
    * append-mode consequences: an event arriving late but within the
    * watermark is numbered by the state at its PROCESSING batch (each
    * batch's group is sorted by event time, so only cross-batch
    * reordering is visible); and a key silent past the horizon restarts
    * at episode 0 when it returns (its state was reclaimed — by then the
    * silence itself guarantees a new episode; only the absolute number
    * resets).
    */
  def sessionEpisodes(stream: DataFrame, keyCol: String, tsCol: String,
                      gapMs: Long, watermark: String): Dataset[EpisodeOut] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("key"), col(tsCol).as("eventTs"))
      .as[KeyedEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState[EpisodeState, EpisodeOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[EpisodeState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (last, ep) = state.getOption
              .map(s => (s.lastTsMs, s.episode)).getOrElse((Long.MinValue, 0L))
            val out = rows.toSeq.sortBy(_.eventTs.getTime).map { r =>
              val t = r.eventTs.getTime
              if (last != Long.MinValue && t - last > gapMs) ep += 1
              last = math.max(last, t)
              EpisodeOut(key, r.eventTs, ep)
            }
            state.update(EpisodeState(last, ep))
            state.setTimeoutTimestamp(
              math.max(last, state.getCurrentWatermarkMs() + 1), watermark)
            out.iterator
          }
      }
  }

  final case class FunnelIn(key: String, eventTs: java.sql.Timestamp,
                            eventType: String)
  final case class FunnelOut(key: String, step: Int, eventType: String,
                             reachTs: java.sql.Timestamp)

  /** Conversion-funnel progression at INGEST — the streaming twin of
    * [[graft.window.Windows.conversionFunnel]]: a row is emitted the
    * moment a user REACHES a funnel step. Step k requires an event of
    * the k-th type strictly after the FIRST qualifying occurrence of
    * step k-1 (and at most `horizonMs` after it, when given) — the
    * batch operator's exact predicate, applied incrementally, so the
    * batch funnel table is just the step-keyed distinct-user count of
    * this stream's output (parity pinned in StreamingSpec on the events
    * table). Emitting REACH events rather than counts keeps the op
    * append-mode-safe; the dashboard aggregate composes downstream.
    *
    * State per key is two fields (current step, that step's first
    * qualifying time) — bounded regardless of stream length and of the
    * number of steps — and keys idle past the watermark horizon are
    * dropped by the event-time timeout. Append-mode caveats are
    * [[sessionEpisodes]]'s: a late-but-within-watermark event is
    * evaluated at its processing batch (each batch's group is sorted by
    * event time, so only cross-batch reordering is visible), and a key
    * reclaimed by the timeout restarts from step 0 if it returns.
    */
  def funnelProgress(stream: DataFrame, keyCol: String, tsCol: String,
                     typeCol: String, steps: Seq[String], watermark: String,
                     horizonMs: Option[Long] = None): Dataset[FunnelOut] = {
    require(steps.nonEmpty, "need at least one funnel step")
    val spark = stream.sparkSession
    import spark.implicits._
    stream.withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("key"), col(tsCol).as("eventTs"),
        col(typeCol).cast("string").as("eventType"))
      .as[FunnelIn]
      .groupByKey(_.key)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
            var maxTs = Long.MinValue
            val out = Seq.newBuilder[FunnelOut]
            rows.toSeq.sortBy(_.eventTs.getTime).foreach { r =>
              val t = r.eventTs.getTime
              maxTs = math.max(maxTs, t)
              if (st.step < steps.length && r.eventType == steps(st.step) &&
                  (st.step == 0 ||
                    (t > st.firstTsMs &&
                      horizonMs.forall(h => t <= st.firstTsMs + h)))) {
                st = FunnelState(st.step + 1, t)
                out += FunnelOut(key, st.step, r.eventType, r.eventTs)
              }
            }
            state.update(st)
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs() + 1), watermark)
            out.result().iterator
          }
      }
  }

  final case class RetentionIn(key: String, eventTs: java.sql.Timestamp)
  final case class RetentionOut(key: String, cohort: Long, age: Long)

  /** Retention-cohort activity at INGEST — the streaming twin of
    * [[graft.window.Windows.retentionCohorts]]: each arriving event
    * buckets into its `bucketMs` period, the key's COHORT is its first
    * active period, and a row is emitted the first time the key is
    * active at each age (period − cohort) — so the batch retention
    * matrix is the (cohort, age)-keyed distinct-key count of this
    * stream's output (parity pinned in StreamingSpec on the events
    * table; period indexes agree with the batch op's floor division
    * exactly, floorDiv composing across the ms/s unit change). Emitting
    * first-activity cells rather than counts keeps the op
    * append-mode-safe, exactly like [[funnelProgress]].
    *
    * State per key is the cohort period plus a `maxAges`-bit age
    * bitset — bounded by the dashboard horizon, not the stream — and
    * keys idle past the watermark are reclaimed by the event-time
    * timeout. Append-mode caveats: activity at ages ≥ `maxAges` is not
    * reported (widen `maxAges` or the bucket for longer horizons); a
    * late event from BEFORE the key's first-seen period cannot
    * re-cohort the key in append mode and is dropped (the batch op,
    * seeing all data, would have cohorted earlier — in-order streams
    * never hit this); a reclaimed key restarts as a fresh cohort.
    */
  def retentionAtIngest(stream: DataFrame, keyCol: String, tsCol: String,
                        bucketMs: Long, watermark: String,
                        maxAges: Int = 512): Dataset[RetentionOut] = {
    require(bucketMs > 0, s"need bucketMs > 0, got $bucketMs")
    require(maxAges > 0, s"need maxAges > 0, got $maxAges")
    val spark = stream.sparkSession
    import spark.implicits._
    val words = (maxAges + 63) / 64
    stream.withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("key"), col(tsCol).as("eventTs"))
      .as[RetentionIn]
      .groupByKey(_.key)
      .flatMapGroupsWithState[RetentionState, RetentionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[RetentionState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.orNull
            var maxTs = Long.MinValue
            val out = Seq.newBuilder[RetentionOut]
            rows.toSeq.sortBy(_.eventTs.getTime).foreach { r =>
              val t = r.eventTs.getTime
              maxTs = math.max(maxTs, t)
              val period = Math.floorDiv(t, bucketMs)
              if (st == null) st = RetentionState(period, new Array[Long](words))
              val age = period - st.cohort
              if (age >= 0 && age < maxAges) {
                val w = (age >> 6).toInt
                val bit = 1L << (age & 63)
                if ((st.seenBits(w) & bit) == 0L) {
                  st.seenBits(w) |= bit
                  out += RetentionOut(key, st.cohort, age)
                }
              }
            }
            if (st != null) state.update(st)
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs() + 1), watermark)
            out.result().iterator
          }
      }
  }

  final case class AsofIn(key: String, eventTs: java.sql.Timestamp,
                          isRight: Boolean, value: Double)
  final case class AsofOut(key: String, eventTs: java.sql.Timestamp,
                           asofTsMs: Option[Long], asofValue: Option[Double])

  /** Streaming as-of join — the streaming analogue of
    * [[graft.window.Windows.asofJoin]]'s grouped form, over ONE
    * interleaved tagged stream (`isRight` marks reference rows, e.g. a
    * price/calibration feed; left rows are lookups): each left row is
    * emitted with its key's latest right row at-or-before its event
    * time. State per key is the latest right (ts, value) — two fields,
    * bounded regardless of stream length — and keys idle past the
    * watermark horizon are dropped by the event-time timeout.
    *
    * Batch parity within a micro-batch: the group's rows are processed
    * in (event time, right-before-left) order, so ties are inclusive
    * exactly like the batch operator, and in-order streams reproduce the
    * batch result row-for-row (pinned in StreamingSpec). The documented
    * append-mode caveats are [[sessionEpisodes]]'s: a left row arriving
    * late-but-within-watermark is matched against state whose right row
    * is explicitly guarded to be at-or-before ITS event time — never
    * future data — but since state keeps only the LATEST right row, a
    * late left whose true match was an older, superseded right gets
    * null rather than the stale match (pinned in StreamingSpec); a
    * right row arriving late can only be reflected from its own batch
    * onward; and a key silent past the horizon forgets its right state.
    */
  def asofLatest(stream: DataFrame, keyCol: String, tsCol: String,
                 rightCol: String, valueCol: String,
                 watermark: String): Dataset[AsofOut] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("key"), col(tsCol).as("eventTs"),
        col(rightCol).cast("boolean").as("isRight"),
        col(valueCol).cast("double").as("value"))
      .as[AsofIn]
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[AsofState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var latest = state.getOption
            var maxTs = Long.MinValue
            val out = Seq.newBuilder[AsofOut]
            // event-time order, right rows first at a tie (inclusive
            // asof): !isRight is false for right rows, so they sort first
            rows.toSeq.sortBy(r => (r.eventTs.getTime, !r.isRight)).foreach { r =>
              val t = r.eventTs.getTime
              maxTs = math.max(maxTs, t)
              if (r.isRight) {
                if (latest.forall(_.rightTsMs <= t))
                  latest = Some(AsofState(t, r.value))
              } else {
                // a LATE left row must not see a right row from its
                // event-time future, even if that right is already in
                // state from an earlier batch — the at-or-before
                // guarantee is per LEFT row, not per batch
                val m = latest.filter(_.rightTsMs <= t)
                out += AsofOut(key, r.eventTs, m.map(_.rightTsMs), m.map(_.rightValue))
              }
            }
            latest.foreach(state.update)
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs() + 1), watermark)
            out.result().iterator
          }
      }
  }

  /** W1-streaming: per-key count-based sliding windows (size, step) in
    * `seq` order within each micro-batch. A window is emitted whenever
    * the total consumed count reaches `size + k·step`; state per key is
    * the last `size` values + one counter — bounded regardless of stream
    * length.
    */
  def countWindows(ds: Dataset[KeyedValue], size: Int, step: Int): Dataset[WindowOut] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[BufState, WindowOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[BufState]) =>
          val prev = state.getOption.getOrElse(BufState(Array.empty, 0L))
          var buf = prev.buf.toVector
          var seen = prev.seen
          val res = Seq.newBuilder[WindowOut]
          rows.toSeq.sortBy(_.seq).foreach { r =>
            buf = (buf :+ r.value).takeRight(size)
            seen += 1
            if (seen >= size && (seen - size) % step == 0) {
              res += WindowOut(key, (seen - size) / step, buf)
            }
          }
          state.update(BufState(buf.toArray, seen))
          res.result().iterator
      }
  }
}
