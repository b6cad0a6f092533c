package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Micro-batch throughput cases for the [[StreamingOps]] ingest surface,
  * registered in [[graft.Bench]] alongside the batch registry so streaming
  * regressions show up in `BENCH_r{N}.json` the same way batch ones do
  * (until round 10 these paths were test-pinned only).
  *
  * Each case drives a deterministic synthetic event stream through a real
  * `writeStream` query in a fixed number of micro-batches (`MemoryStream`
  * + `processAllAvailable`, noop sink) and reports wall seconds — the
  * measured quantity is the whole micro-batch machinery (state store,
  * watermark advance, per-batch planning), not just the operator kernel.
  * Inputs are seeded, so reps and rounds compare like with like.
  */
object StreamBench {

  /** One batch's worth of rows per feed call; cases feed `batches` times. */
  private val batches = 6

  private def drain[T](spark: SparkSession, input: MemoryStream[T],
                       out: DataFrame, chunks: Seq[Seq[T]]): Unit = {
    val query: StreamingQuery = out.writeStream.format("noop")
      .outputMode("append").start()
    try {
      chunks.foreach { c => input.addData(c); query.processAllAvailable() }
    } finally query.stop()
  }

  /** keyed (ts, key, value, type) events: `n` rows over `n` seconds of
    * event time, 200 keys, reference event-type mix — in order, so
    * watermarks advance every batch and windowed aggregates emit.
    */
  private def events(n: Int, seed: Long): Seq[(Timestamp, String, Double, String)] = {
    val rng = new scala.util.Random(seed)
    val types = Vector("view", "view", "view", "click", "click", "purchase", "other")
    val t0 = 1700000000000L
    (0 until n).map { i =>
      (new Timestamp(t0 + i * 1000L + rng.nextInt(1000)),
        s"k${rng.nextInt(200)}", rng.nextDouble() * 10,
        types(rng.nextInt(types.length)))
    }
  }

  /** (ts, doc_id, source, text) documents: ~25-word texts from a 180-word
    * vocabulary; ~1 in 6 duplicates an earlier text so dedup lanes do
    * real suppression work.
    */
  private def docs(n: Int, seed: Long): Seq[(Timestamp, Long, String, String)] = {
    val rng = new scala.util.Random(seed)
    val vocab = (0 until 180).map(i => s"w$i")
    val t0 = 1700000000000L
    val texts = new scala.collection.mutable.ArrayBuffer[String]
    (0 until n).map { i =>
      val text =
        if (texts.nonEmpty && rng.nextInt(6) == 0) texts(rng.nextInt(texts.length))
        else {
          val t = (0 until 20 + rng.nextInt(10))
            .map(_ => vocab(rng.nextInt(vocab.size))).mkString(" ")
          texts += t; t
        }
      (new Timestamp(t0 + i * 200L), i.toLong, s"s${rng.nextInt(8)}", text)
    }
  }

  private def chunked[T](rows: Seq[T]): Seq[Seq[T]] = {
    val per = math.max(1, rows.length / batches)
    rows.grouped(per).toSeq
  }

  /** The registered cases: (bench row name, one full ingest run).
    *
    * Each case's run thunk applies `spark.sql.shuffle.partitions = 8`
    * with save/restore (the [[rocksDb]] pattern): state-store count
    * follows shuffle partitions, and a stateful ingest job over a few
    * hundred keys provisions state partitions to key cardinality, not
    * batch-scan CPU count — at 32 the per-batch state-store commit IO
    * dominates and the bench measures filesystem churn instead of the
    * operators. The override lives INSIDE the thunk (r10 advice), so
    * merely enumerating `cases()` has no session side effects and batch
    * queries interleaved with streaming ones run at their own setting.
    */
  def cases(spark: SparkSession): Seq[(String, () => Unit)] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    def eventStream(n: Int, seed: Long)(
        build: DataFrame => DataFrame): () => Unit = () => {
      val input = MemoryStream[(Timestamp, String, Double, String)]
      val out = build(input.toDF().toDF("ts", "key", "value", "event_type"))
      drain(spark, input, out, chunked(events(n, seed)))
    }
    def docStream(n: Int, seed: Long)(
        build: DataFrame => DataFrame): () => Unit = () => {
      val input = MemoryStream[(Timestamp, Long, String, String)]
      val out = build(input.toDF().toDF("ts", "doc_id", "source", "text"))
      drain(spark, input, out, chunked(docs(n, seed)))
    }

    // static sides for the stream-vs-stored lanes, built once per call —
    // deliberately inside the timed run: rebuilding the broadcast/literal
    // is part of what an ingest job pays at (re)start
    def storedCorpus = docs(2000, seed = 7)
      .toDF("ts", "doc_id", "source", "text")

    val raw: Seq[(String, () => Unit)] = Seq(
      "stream_period_means" -> eventStream(16000, 1)(
        StreamingOps.periodMeans(_, "ts", "value", "1 minute", "2 minutes")),
      "stream_threshold_flags" -> eventStream(16000, 2)(
        StreamingOps.thresholdFlags(_, "ts", "value", "1 minute", "2 minutes",
          threshold = 5.0)),
      "stream_session_windows" -> eventStream(16000, 3)(
        StreamingOps.sessionWindows(_, "ts", "value", "30 seconds",
          "2 minutes", keyCols = Seq("key"))),
      "stream_sessionize" -> eventStream(16000, 4)(
        StreamingOps.sessionEpisodes(_, "key", "ts", gapMs = 30000L,
          watermark = "2 minutes").toDF()),
      "stream_funnel" -> eventStream(16000, 5)(
        StreamingOps.funnelProgress(_, "key", "ts", "event_type",
          Seq("view", "click", "purchase"), watermark = "2 minutes",
          horizonMs = Some(3600000L)).toDF()),
      "stream_retention" -> eventStream(16000, 6)(
        StreamingOps.retentionAtIngest(_, "key", "ts", bucketMs = 60000L,
          watermark = "2 minutes").toDF()),
      "stream_asof" -> eventStream(16000, 8)(df =>
        StreamingOps.asofLatest(
          df.withColumn("is_right", col("event_type") === "other"),
          "key", "ts", "is_right", "value", watermark = "2 minutes").toDF()),
      "stream_count_windows" -> (() => {
        val input = MemoryStream[StreamingOps.KeyedValue]
        val rng = new scala.util.Random(9)
        val rows = (0 until 16000).map(i =>
          StreamingOps.KeyedValue(s"k${rng.nextInt(200)}", i.toLong, rng.nextDouble()))
        val out = StreamingOps.countWindows(input.toDS(), size = 30, step = 10).toDF()
        drain(spark, input, out, chunked(rows))
      }),
      "stream_source_report" -> docStream(3000, 10)(
        StreamingOps.sourceReportStream(_, "ts", "source", "text",
          "1 minute", "2 minutes")),
      "stream_dedup_exact" -> docStream(4000, 11)(
        StreamingOps.dedupExact(_, "ts", "text", "2 minutes")),
      "stream_incremental_dedup" -> docStream(4000, 12)(df => {
        val seen = storedCorpus
          .select(xxhash64(col("text")).as("content_hash")).distinct()
        val bloom = graft.ext.Dedup.seenBloom(seen, "content_hash",
          expectedItems = 4096)
        StreamingOps.incrementalDedupAtIngest(df, "text", seen, bloom)
      }),
      "stream_decontaminate" -> docStream(4000, 13)(df =>
        StreamingOps.contaminatedAtIngest(df, "text",
          storedCorpus.limit(60), "text", n = 5)),
      "stream_scrub" -> docStream(2500, 14)(df =>
        StreamingOps.scrubAtIngest(df, "doc_id", "text",
          graft.ext.Dedup.dupGramTable(storedCorpus, "doc_id", "text", k = 5),
          k = 5)),
      "stream_minhash_pairs" -> docStream(800, 15)(
        StreamingOps.minhashCandidatePairs(_, "ts", "doc_id", "text",
          watermark = "2 minutes").toDF()),
      // the semantic twin: 2000 64-dim vectors, ~1 in 6 a scaled copy of
      // an earlier one (same sign bucket by construction) so the bucket
      // state does real pair emission; one band vs minhash's 8 → more
      // docs at similar touch count
      "stream_semantic_pairs" -> (() => {
        val input = MemoryStream[(Timestamp, Long, Seq[Double])]
        val rng = new scala.util.Random(16)
        val t0 = 1700000000000L
        val seen = new scala.collection.mutable.ArrayBuffer[Seq[Double]]
        val rows = (0 until 2000).map { i =>
          val v =
            if (seen.nonEmpty && rng.nextInt(6) == 0)
              seen(rng.nextInt(seen.length)).map(_ * (1.0 + rng.nextInt(3)))
            else { val f = Seq.fill(64)(rng.nextGaussian()); seen += f; f }
          (new Timestamp(t0 + i * 200L), i.toLong, v)
        }
        val out = StreamingOps.signBucketCandidatePairs(
          input.toDF().toDF("ts", "vec_id", "embedding"), "ts", "vec_id",
          "embedding", dIn = 64, planes = 9, watermark = "2 minutes").toDF()
        drain(spark, input, out, chunked(rows))
      }),
      // the IVF ingest twin (r15): same synthetic vector stream as the
      // semantic case, membership cells from a pinned-anchor quantizer
      // sized by the batch balance rule at nprobe = 1 — keeps the
      // IvfProbes-at-ingest overhead (one kernel call/row + the cell-
      // keyed state exchange) bench-visible round-over-round
      "stream_ivf_pairs" -> (() => {
        val input = MemoryStream[(Timestamp, Long, Seq[Double])]
        val rng = new scala.util.Random(17)
        val t0 = 1700000000000L
        val seen = new scala.collection.mutable.ArrayBuffer[Seq[Double]]
        val rows = (0 until 2000).map { i =>
          val v =
            if (seen.nonEmpty && rng.nextInt(6) == 0)
              seen(rng.nextInt(seen.length)).map(_ * (1.0 + rng.nextInt(3)))
            else { val f = Seq.fill(64)(rng.nextGaussian()); seen += f; f }
          (new Timestamp(t0 + i * 200L), i.toLong, v)
        }
        import spark.implicits._
        val anchors = graft.functions.IvfQuantizer.pinned(
          rows.map { case (_, id, v) => (id, v) }.toDF("vec_id", "embedding"),
          "vec_id", "embedding",
          graft.ext.Similarity.autoNlist(rows.size.toLong, 1, 8))
        val out = StreamingOps.ivfCellCandidatePairs(
          input.toDF().toDF("ts", "vec_id", "embedding"), "ts", "vec_id",
          "embedding", anchors, watermark = "2 minutes").toDF()
        drain(spark, input, out, chunked(rows))
      }),
      // RocksDB twins of two stateful rows: at 100 TB-ingest state
      // (billions of dedup hashes, funnel/retention keys) the default
      // in-heap HDFS-backed store stops fitting executors — RocksDB
      // spills state to local disk with bounded memory. Benching one
      // agg-shaped and one flatMapGroupsWithState-shaped op keeps the
      // provider's overhead visible round-over-round (provider parity
      // itself is pinned in StreamingSpec).
      "stream_dedup_exact_rocksdb" -> (() => rocksDb(spark) {
        docStream(4000, 11)(
          StreamingOps.dedupExact(_, "ts", "text", "2 minutes"))()
      }),
      "stream_retention_rocksdb" -> (() => rocksDb(spark) {
        eventStream(16000, 6)(
          StreamingOps.retentionAtIngest(_, "key", "ts", bucketMs = 60000L,
            watermark = "2 minutes").toDF())()
      }))
    raw.map { case (name, run) =>
      name -> (() => withStreamShuffle(spark)(run()))
    }
  }

  /** Run `body` with the streaming shuffle-partition override; restore
    * after, so the setting never leaks past a single case's run.
    */
  private def withStreamShuffle[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "8")
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Run `body` with the RocksDB state-store provider; restore after.
    * The provider conf is read at query START, so setting it around the
    * thunk (which builds and starts its own query) is sufficient.
    */
  private[graft] def rocksDb[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
