package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.KeyedValue

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming W1: count-based sliding windows across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KeyedValue]
    val out = StreamingOps.countWindows(input.toDS(), size = 4, step = 2)
    val query = out.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      // batch 1: 5 values → windows at seen=4 (id 0)
      input.addData((0 until 5).map(i => KeyedValue("k", i, i.toDouble)))
      query.processAllAvailable()
      // batch 2: 3 more (total 8) → windows at seen=6 (id 1), seen=8 (id 2)
      input.addData((5 until 8).map(i => KeyedValue("k", i, i.toDouble)))
      query.processAllAvailable()
      val rows = spark.table("win_out")
        .orderBy("windowId").as[(String, Long, Seq[Double])].collect()
      assert(rows.map(_._2).toSeq == Seq(0L, 1L, 2L))
      assert(rows(0)._3 == Seq(0.0, 1.0, 2.0, 3.0))
      assert(rows(1)._3 == Seq(2.0, 3.0, 4.0, 5.0))
      assert(rows(2)._3 == Seq(4.0, 5.0, 6.0, 7.0))
    } finally query.stop()
  }

  test("streaming A3/P9: tumbling event-time period means with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val df = input.toDF().toDF("ts", "v")
    val out = StreamingOps.thresholdFlags(df, "ts", "v",
      windowDuration = "10 seconds", watermark = "5 seconds", threshold = 5.0)
    val query = out.writeStream.format("memory").queryName("period_out")
      .outputMode("append").start()
    try {
      def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
      input.addData(Seq((ts(1), 1.0), (ts(2), 2.0), (ts(11), 9.0), (ts(12), 9.0)))
      query.processAllAvailable()
      // advance watermark far enough to close both windows
      input.addData(Seq((ts(40), 0.0)))
      query.processAllAvailable()
      input.addData(Seq((ts(59), 0.0)))
      query.processAllAvailable()
      val rows = spark.table("period_out")
        .select("period_start", "mse", "anomaly")
        .as[(java.sql.Timestamp, Double, Boolean)].collect().sortBy(_._1.getTime)
      assert(rows.length >= 2)
      assert(rows(0)._2 == 1.5 && !rows(0)._3)
      assert(rows(1)._2 == 9.0 && rows(1)._3)
    } finally query.stop()
  }

  test("streaming source report: exact volumes per window, HLL uniques exact on small sets") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = input.toDF().toDF("ts", "source", "text")
    val out = StreamingOps.sourceReportStream(df, "ts", "source", "text",
      windowDuration = "10 seconds", watermark = "5 seconds")
    val query = out.writeStream.format("memory").queryName("srcrep_out")
      .outputMode("append").start()
    try {
      def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
      // window [0,10): web has 3 docs (one duplicated), books 1
      input.addData(Seq(
        (ts(1), "web", "a b c"), (ts(2), "web", "a b c"),
        (ts(3), "web", "d e"), (ts(4), "books", "x y z w")))
      query.processAllAvailable()
      input.addData(Seq((ts(40), "web", "late opener"))) // advance watermark
      query.processAllAvailable()
      input.addData(Seq((ts(59), "web", "closer")))
      query.processAllAvailable()
      val rows = spark.table("srcrep_out")
        .filter(col("period_start") === ts(0))
        .orderBy("source")
        .as[(java.sql.Timestamp, String, Long, Long, Long)].collect().toSeq
      assert(rows.map(r => (r._2, r._3, r._4)) ==
        Seq(("books", 1L, 4L), ("web", 3L, 8L)), s"got $rows")
      // HLL is exact at these cardinalities: 2 unique web texts, 1 books
      assert(rows.map(_._5) == Seq(1L, 2L), s"uniques ${rows.map(_._5)}")
    } finally query.stop()
  }

  test("streaming incremental dedup: bloom gate + stream-static anti join match the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val seenDocs = Seq("already in corpus", "also ingested").toDF("text")
    val seen = seenDocs.select(xxhash64(col("text")).as("content_hash"))
    val bloom = graft.ext.Dedup.seenBloom(seen, "content_hash", 2L)
    val input = MemoryStream[(Long, String)]
    val out = StreamingOps.incrementalDedupAtIngest(
      input.toDF().toDF("doc_id", "text"), "text", seen, bloom)
    val query = out.writeStream.format("memory").queryName("incdedup_out")
      .outputMode("append").start()
    try {
      input.addData(Seq((1L, "already in corpus"), (2L, "brand new doc")))
      query.processAllAvailable()
      input.addData(Seq((3L, "also ingested"), (4L, "another fresh one")))
      query.processAllAvailable()
      val got = spark.table("incdedup_out").orderBy("doc_id")
        .select("doc_id", "text").as[(Long, String)].collect().toSeq
      assert(got == Seq((2L, "brand new doc"), (4L, "another fresh one")), s"got $got")
      // parity with the batch operator on the same rows
      val batch = graft.ext.Dedup.exactIncremental(
          Seq((1L, "already in corpus"), (2L, "brand new doc"),
            (3L, "also ingested"), (4L, "another fresh one")).toDF("doc_id", "text"),
          "doc_id", "text", seen)
        .orderBy("doc_id").select("doc_id", "text").as[(Long, String)].collect().toSeq
      assert(got == batch, s"stream $got vs batch $batch")
    } finally query.stop()
  }

  test("streaming sessionize: native session windows close after the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "user", "v")
    val out = StreamingOps.sessionWindows(df, "ts", "v",
      gap = "10 seconds", watermark = "5 seconds", keyCols = Seq("user"))
    val query = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:${s / 60}%02d:${s % 60}%02d")
      // u1 session 1: events at 1,5,8 (gaps < 10s); u1 session 2: 30,35
      input.addData(Seq((ts(1), "u1", 1.0), (ts(5), "u1", 2.0), (ts(8), "u1", 3.0),
        (ts(30), "u1", 10.0)))
      query.processAllAvailable()
      input.addData(Seq((ts(35), "u1", 20.0)))
      query.processAllAvailable()
      // push the watermark far past both sessions so they emit
      input.addData(Seq((ts(300), "u2", 0.0)))
      query.processAllAvailable()
      input.addData(Seq((ts(600), "u2", 0.0)))
      query.processAllAvailable()
      val rows = spark.table("sess_out").filter(col("user") === "u1")
        .select("session_start", "n_events", "mean_v")
        .as[(java.sql.Timestamp, Long, Double)].collect().sortBy(_._1.getTime)
      assert(rows.length == 2, s"sessions=${rows.toSeq}")
      assert(rows(0)._1 == ts(1) && rows(0)._2 == 3L && rows(0)._3 == 2.0, s"${rows(0)}")
      assert(rows(1)._1 == ts(30) && rows(1)._2 == 2L && rows(1)._3 == 15.0, s"${rows(1)}")
    } finally query.stop()
  }

  test("streaming minhash: cross-batch candidate pairs equal the batch LSH candidate set") {
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq(
      (0L, s"$base today"),
      (1L, s"$base tomorrow"), // near-dup of 0
      (2L, "completely different content about spark catalyst optimizer internals here"),
      (3L, s"$base today")     // exact dup of 0
    )
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
    val out = StreamingOps.minhashCandidatePairs(df, "ts", "doc_id", "text",
      watermark = "1 minute")
    val query = out.writeStream.format("memory").queryName("mh_out")
      .outputMode("append").start()
    try {
      def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
      // docs 0 and 2 arrive first; their near-dups only in a LATER batch
      input.addData(Seq((ts(1), 0L, corpus(0)._2), (ts(2), 2L, corpus(2)._2)))
      query.processAllAvailable()
      val afterBatch1 = spark.table("mh_out").count()
      assert(afterBatch1 == 0, s"no candidate should exist yet, got $afterBatch1")
      input.addData(Seq((ts(10), 1L, corpus(1)._2), (ts(11), 3L, corpus(3)._2)))
      query.processAllAvailable()
      val streamed = spark.table("mh_out").select("id1", "id2")
        .distinct().as[(Long, Long)].collect().toSet
      val batch = graft.ext.Dedup.minhashCandidates(
        corpus.toDF("doc_id", "text"), "doc_id", "text")
        .as[(Long, Long)].collect().toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(streamed.contains((0L, 3L))) // the cross-batch exact dup
    } finally query.stop()
  }

  test("streaming sign-bucket pairs: cross-batch candidates equal the batch " +
    "semantic bucket join") {
    implicit val sqlCtx = spark.sqlContext
    def vec(seed: Int): Seq[Double] =
      { val r = new scala.util.Random(seed); Seq.fill(16)(r.nextGaussian()) }
    // 1 = scaled copy of 0 (identical signs → same bucket at any plane
    // count), 3 = exact copy of 0, 2 = unrelated
    val v0 = vec(1)
    val corpus = Seq((0L, v0), (1L, v0.map(_ * 2.0)), (2L, vec(2)), (3L, v0))
    val input = MemoryStream[(java.sql.Timestamp, Long, Seq[Double])]
    val df = input.toDF().toDF("ts", "vec_id", "embedding")
    val out = StreamingOps.signBucketCandidatePairs(df, "ts", "vec_id",
      "embedding", dIn = 16, planes = 4, watermark = "1 minute")
    val query = out.writeStream.format("memory").queryName("sb_out")
      .outputMode("append").start()
    try {
      def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
      // 0 and 2 first; 0's twins only in a LATER batch — the state path
      input.addData(Seq((ts(1), 0L, corpus(0)._2), (ts(2), 2L, corpus(2)._2)))
      query.processAllAvailable()
      input.addData(Seq((ts(10), 1L, corpus(1)._2), (ts(11), 3L, corpus(3)._2)))
      query.processAllAvailable()
      val streamed = spark.table("sb_out").select("id1", "id2")
        .distinct().as[(Long, Long)].collect().toSet
      val bk = graft.functions.SignBucketing.Fixed(4).buckets(
        corpus.toDF("vec_id", "embedding"), "vec_id", "embedding", 16)
      val batch = bk.as("a")
        .join(bk.as("b"), col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id"), col("b.vec_id"))
        .as[(Long, Long)].collect().toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(streamed.contains((0L, 1L)), "scaled twin missed")
      assert(streamed.contains((0L, 3L)), "cross-batch exact twin missed")
    } finally query.stop()
  }

  test("streaming IVF cell pairs: cross-batch candidates equal the batch " +
    "membership-cell join; zero-norm rows dropped") {
    implicit val sqlCtx = spark.sqlContext
    def vec(seed: Int): Seq[Double] =
      { val r = new scala.util.Random(seed); Seq.fill(16)(r.nextGaussian()) }
    val v0 = vec(1)
    // 1 = scaled copy of 0 (same direction → same membership cell),
    // 3 = exact copy of 0, 2 = unrelated, 4 = zero-norm (must vanish)
    val corpus = Seq((0L, v0), (1L, v0.map(_ * 2.0)), (2L, vec(2)), (3L, v0),
      (4L, Seq.fill(16)(0.0)))
    val quant = graft.functions.IvfQuantizer.pinned(
      corpus.toDF("vec_id", "embedding"), "vec_id", "embedding", 3)
    val input = MemoryStream[(java.sql.Timestamp, Long, Seq[Double])]
    val df = input.toDF().toDF("ts", "vec_id", "embedding")
    val out = StreamingOps.ivfCellCandidatePairs(df, "ts", "vec_id",
      "embedding", quant, watermark = "1 minute")
    val query = out.writeStream.format("memory").queryName("ivf_sb_out")
      .outputMode("append").start()
    try {
      def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
      // 0 and 2 first; 0's twins only in LATER batches — the state path
      input.addData(Seq((ts(1), 0L, corpus(0)._2), (ts(2), 2L, corpus(2)._2)))
      query.processAllAvailable()
      input.addData(Seq((ts(10), 1L, corpus(1)._2), (ts(11), 3L, corpus(3)._2),
        (ts(12), 4L, corpus(4)._2)))
      query.processAllAvailable()
      val streamed = spark.table("ivf_sb_out").select("id1", "id2")
        .distinct().as[(Long, Long)].collect().toSet
      // batch membership via the SAME kernel at nprobe = 1, cell equi-join
      val mem = corpus.toDF("vec_id", "embedding")
        .select(col("vec_id"), element_at(graft.functions.GraftFunctions.ivf_probes(
          col("embedding").cast("array<double>"), quant.centroids, quant.offsets, 1), 1)
          .as("cell"))
        .filter(col("cell").isNotNull)
      val batch = mem.as("a")
        .join(mem.as("b"), col("a.cell") === col("b.cell") &&
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id"), col("b.vec_id"))
        .as[(Long, Long)].collect().toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(streamed.contains((0L, 1L)), "scaled twin missed")
      assert(streamed.contains((0L, 3L)), "cross-batch exact twin missed")
      assert(!streamed.exists(p => p._1 == 4L || p._2 == 4L),
        "zero-norm row must have no cell, hence no pair")
    } finally query.stop()
  }

  test("streaming IVF cell pairs from a STORED quantizer table: parquet " +
    "round-trip equals the caller-pinned run; corrupt table fails at plan build") {
    implicit val sqlCtx = spark.sqlContext
    def vec(seed: Int): Seq[Double] =
      { val r = new scala.util.Random(seed); Seq.fill(16)(r.nextGaussian()) }
    val v0 = vec(1)
    val corpus = Seq((0L, v0), (1L, v0.map(_ * 2.0)), (2L, vec(2)), (3L, v0))
    val corpusDf = corpus.toDF("vec_id", "embedding")
    // the SAME table the batch _stored leg consumes: write once, reload
    val quant = graft.ext.Similarity.ivfPinnedQuantizerRows(
      corpusDf, "vec_id", "embedding", 3)
    val dir = java.nio.file.Files.createTempDirectory("ivf_stream_quant_").toString
    quant.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    def run(name: String, mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[
        StreamingOps.CandidatePair]): Set[(Long, Long)] = {
      val input = MemoryStream[(java.sql.Timestamp, Long, Seq[Double])]
      val query = mk(input.toDF().toDF("ts", "vec_id", "embedding"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
        input.addData(Seq((ts(1), 0L, corpus(0)._2), (ts(2), 2L, corpus(2)._2)))
        query.processAllAvailable()
        input.addData(Seq((ts(10), 1L, corpus(1)._2), (ts(11), 3L, corpus(3)._2)))
        query.processAllAvailable()
        spark.table(name).select("id1", "id2")
          .distinct().as[(Long, Long)].collect().toSet
      } finally query.stop()
    }
    val stored = run("ivf_stored_out", df => StreamingOps.ivfCellCandidatePairs(
      df, "ts", "vec_id", "embedding", graft.functions.IvfQuantizer.stored(reloaded),
      "1 minute", 128))
    val unit = graft.functions.IvfQuantizer.pinned(corpusDf, "vec_id", "embedding", 3)
    val pinned = run("ivf_pinned_out", df => StreamingOps.ivfCellCandidatePairs(
      df, "ts", "vec_id", "embedding", unit, "1 minute"))
    assert(stored == pinned, s"stored=$stored pinned=$pinned")
    assert(stored.contains((0L, 3L)), "cross-batch exact twin missed")
    // validation shared with the batch path: a gapped table fails BEFORE
    // the stream starts, not row-by-row inside a micro-batch
    val gapped = reloaded.filter(col("ivf_cell") =!= 1)
    val input = MemoryStream[(java.sql.Timestamp, Long, Seq[Double])]
    val err = intercept[IllegalArgumentException] {
      StreamingOps.ivfCellCandidatePairs(input.toDF().toDF("ts", "vec_id", "embedding"),
        "ts", "vec_id", "embedding", graft.functions.IvfQuantizer.stored(gapped),
        "1 minute", 128)
    }
    assert(err.getMessage.contains("dense"), s"wrong error: ${err.getMessage}")
  }

  test("streaming session windows agree with batch sessionize on the same events") {
    implicit val sqlCtx = spark.sqlContext
    // deterministic event times: bursts separated by > gap silences
    val secs = Seq(1, 3, 5, 40, 42, 80, 81, 83, 130)
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:${s / 60}%02d:${s % 60}%02d")
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val out = StreamingOps.sessionWindows(input.toDF().toDF("ts", "user", "v"),
      "ts", "v", gap = "10 seconds", watermark = "5 seconds", keyCols = Seq("user"))
    val query = out.writeStream.format("memory").queryName("sess_par_out")
      .outputMode("append").start()
    try {
      input.addData(secs.map(s => (ts(s), "u", 1.0)))
      query.processAllAvailable()
      input.addData(Seq((ts(500), "z", 0.0)))
      query.processAllAvailable()
      input.addData(Seq((ts(900), "z", 0.0)))
      query.processAllAvailable()
      val streamed = spark.table("sess_par_out").filter(col("user") === "u")
        .select("session_start", "n_events")
        .as[(java.sql.Timestamp, Long)].collect().sortBy(_._1.getTime).toSeq
      // batch sessionize over the identical rows: same gap rule (> 10 s
      // since the previous event opens a new session)
      val batch = graft.window.Windows.sessionize(
          secs.zipWithIndex.map { case (s, i) => (i.toLong, s.toLong) }.toDF("idx", "tsec"),
          "idx", "tsec", gap = 10)
        .groupBy("session").agg(count(lit(1)).as("n"), min(col("tsec")).as("start"))
        .orderBy("session").as[(Long, Long, Long)].collect().toSeq
      assert(streamed.map(_._2) == batch.map(_._2),
        s"sizes differ: streamed=$streamed batch=$batch")
      assert(streamed.map(_._1) == batch.map(b => ts(b._3.toInt)),
        s"starts differ: streamed=$streamed batch=$batch")
    } finally query.stop()
  }

  test("streaming episodes: per-event labels match batch sessionize across batches") {
    implicit val sqlCtx = spark.sqlContext
    val secs = Seq(1, 3, 5, 40, 42, 80, 81, 83, 130)
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:${s / 60}%02d:${s % 60}%02d")
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val out = StreamingOps.sessionEpisodes(input.toDF().toDF("ts", "user"),
      "user", "ts", gapMs = 10000L, watermark = "5 seconds")
    val query = out.writeStream.format("memory").queryName("episode_out")
      .outputMode("append").start()
    try {
      // split mid-episode across micro-batches: state must carry over
      val (b1, b2) = secs.splitAt(4)
      input.addData(b1.map(s => (ts(s), "u")))
      query.processAllAvailable()
      input.addData(b2.map(s => (ts(s), "u")))
      query.processAllAvailable()
      // z goes idle past the horizon: a watermark-pushing key (w) fires
      // its timeout, so z's return restarts at episode 0
      input.addData(Seq((ts(500), "z")))
      query.processAllAvailable()
      input.addData(Seq((ts(1000), "w")))
      query.processAllAvailable()
      input.addData(Seq((ts(1200), "z")))
      query.processAllAvailable()
      val streamed = spark.table("episode_out").filter(col("key") === "u")
        .select("eventTs", "episode")
        .as[(java.sql.Timestamp, Long)].collect().sortBy(_._1.getTime).toSeq
      val batch = graft.window.Windows.sessionize(
          secs.zipWithIndex.map { case (s, i) => (i.toLong, s.toLong) }.toDF("idx", "tsec"),
          "idx", "tsec", gap = 10)
        .orderBy("idx").select("tsec", "session")
        .as[(Long, Long)].collect().toSeq
      assert(streamed == batch.map { case (s, e) => (ts(s.toInt), e) },
        s"streamed=$streamed batch=$batch")
      // the reclaimed key restarts at 0 — both z events label episode 0
      val z = spark.table("episode_out").filter(col("key") === "z")
        .select("episode").as[Long].collect().toSeq.sorted
      assert(z == Seq(0L, 0L))
    } finally query.stop()
  }

  test("streaming text ops: quality filter runs narrow at ingest, no state, no watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
    // narrow single-scan expressions compose onto a stream unchanged —
    // the filter decision happens per micro-batch with zero state
    val out = graft.ext.TextAnalysis.qualityFilter(df, "text")
      .select("doc_id", "keep", "reason")
    val query = out.writeStream.format("memory").queryName("qf_out")
      .outputMode("append").start()
    try {
      def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
      val good = "the quick brown fox jumps over the lazy dog and then the " +
        "dog naps on the warm porch for most of the afternoon in the sun"
      input.addData(Seq((ts(1), 1L, good), (ts(2), 2L, "too short")))
      query.processAllAvailable()
      val rows = spark.table("qf_out").as[(Long, Boolean, String)].collect()
        .sortBy(_._1)
      assert(rows.length == 2)
      assert(rows(0) == ((1L, true, null)))
      assert(rows(1) == ((2L, false, "short")))
    } finally query.stop()
  }

  test("streaming chunking: context-window chunks at ingest match the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    // one narrow Generate per document — composes onto a stream with
    // zero state, like the other narrow text ops at ingest
    val out = graft.ext.TextAnalysis.chunkDocuments(
      df, "doc_id", "text", chunkLen = 6, stride = 4, minChunk = 3)
    val query = out.writeStream.format("memory").queryName("chunk_out")
      .outputMode("append").start()
    try {
      val texts = Seq(
        10L -> (0 until 11).map(i => s"t$i").mkString(" "),
        11L -> "a b c d e f g h",
        12L -> "x y") // < minChunk after chunking → no rows
      input.addData(texts.take(2))
      query.processAllAvailable()
      input.addData(texts.drop(2))
      query.processAllAvailable()
      val got = spark.table("chunk_out")
        .select("doc_id", "chunk_id", "start_pos", "n_tokens", "chunk_text")
        .as[(Long, Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
      val batch = graft.ext.TextAnalysis.chunkDocuments(
          texts.toDF("doc_id", "text"), "doc_id", "text",
          chunkLen = 6, stride = 4, minChunk = 3)
        .as[(Long, Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
      assert(got.toSeq == batch.toSeq && got.nonEmpty)
      assert(!got.exists(_._1 == 12L))
    } finally query.stop()
  }

  test("streaming winnowing: ingest fingerprints match the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    // the whole chain is stateless-narrow (Generate barriers included),
    // so fingerprint selection at ingest is the batch operator verbatim
    val out = graft.ext.TextAnalysis.winnowFingerprints(df, "doc_id", "text", k = 4, w = 5)
    val query = out.writeStream.format("memory").queryName("winnow_out")
      .outputMode("append").start()
    try {
      val texts = Seq(
        20L -> (0 until 15).map(i => s"w$i").mkString(" "),
        21L -> "x y x y x y x y", // all-tie windows
        22L -> "a b c")           // < k tokens → nothing
      input.addData(texts.take(1))
      query.processAllAvailable()
      input.addData(texts.drop(1))
      query.processAllAvailable()
      val got = spark.table("winnow_out")
        .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2, r._3))
      val batch = graft.ext.TextAnalysis.winnowFingerprints(
          texts.toDF("doc_id", "text"), "doc_id", "text", k = 4, w = 5)
        .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2, r._3))
      assert(got.toSeq == batch.toSeq && got.nonEmpty)
      assert(!got.exists(_._1 == 22L))
    } finally query.stop()
  }

  test("streaming decontamination: ingest flags match the batch operator row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "alpha beta gamma delta tail"),   // shares a 4-gram
      (1L, "one two three four five"),       // clean
      (2L, "x beta gamma delta epsilon"),    // shares a different 4-gram
      (3L, "beta gamma delta"))              // < n tokens: clean by construction
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val out = StreamingOps.contaminatedAtIngest(
      input.toDF().toDF("doc_id", "text"), "text", bench, "text", n = 4)
    val query = out.writeStream.format("memory").queryName("contam_out")
      .outputMode("append").start()
    try {
      input.addData(Seq((0L, "alpha beta gamma delta tail"), (1L, "one two three four five")))
      query.processAllAvailable()
      input.addData(Seq((2L, "x beta gamma delta epsilon"), (3L, "beta gamma delta")))
      query.processAllAvailable()
      val streamed = spark.table("contam_out")
        .orderBy("doc_id").as[(Long, String, Boolean)].collect()
        .map(r => (r._1, r._3)).toSeq
      val batch = graft.ext.Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 4)
        .orderBy("doc_id").as[(Long, Boolean, Long)].collect()
        .map(r => (r._1, r._2)).toSeq
      assert(streamed == batch, s"ingest flags $streamed != batch flags $batch")
      assert(streamed == Seq((0L, true), (1L, false), (2L, true), (3L, false)))
    } finally query.stop()
  }

  test("streaming decontamination: an oversized benchmark fails fast, before the driver collect") {
    implicit val sqlCtx = spark.sqlContext
    // 3 docs x 2 distinct 2-grams each = 6 distinct gram hashes > cap of 4;
    // the limit(cap+1) probe bounds the collect so the require fires
    // without ever materializing a corpus-sized "benchmark" on the driver
    val bigBench = Seq(
      (1L, "a b c"), (2L, "d e f"), (3L, "g h i")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val ex = intercept[IllegalArgumentException] {
      StreamingOps.contaminatedAtIngest(
        input.toDF().toDF("doc_id", "text"), "text", bigBench, "text",
        n = 2, maxBenchGrams = 4)
    }
    assert(ex.getMessage.contains("maxBenchGrams"))
    // same benchmark under a sufficient cap still builds
    val ok = StreamingOps.contaminatedAtIngest(
      input.toDF().toDF("doc_id", "text"), "text", bigBench, "text",
      n = 2, maxBenchGrams = 6)
    assert(ok.columns.contains("contaminated"))
  }

  test("streaming span scrub: ingest output matches scrubFromStored row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    // history corpus: docs 10/11 share "a b c d" -> duplicated 3-grams
    // "a b c" and "b c d" land in the stored gram table
    val history = Seq(
      (10L, "a b c d e f"),
      (11L, "z z a b c d"))
      .toDF("doc_id", "text")
    val dupGrams = graft.ext.Dedup.dupGramTable(history, "doc_id", "text", k = 3)
    // arriving batch: known boilerplate scrubbed, batch-internal dup
    // ("q r s" in docs 2 and 3, absent from history) kept, short doc kept
    val arriving = Seq(
      (1L, "x a b c d y"),
      (2L, "q r s t u v"),
      (3L, "q r s w w w"),
      (4L, "a b"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val out = StreamingOps.scrubAtIngest(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", dupGrams, k = 3)
    val query = out.writeStream.format("memory").queryName("scrub_out")
      .outputMode("append").start()
    try {
      input.addData(Seq((1L, "x a b c d y"), (2L, "q r s t u v")))
      query.processAllAvailable()
      input.addData(Seq((3L, "q r s w w w"), (4L, "a b")))
      query.processAllAvailable()
      val streamed = spark.table("scrub_out")
        .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
      val batch = graft.ext.Dedup.scrubFromStored(
          arriving, "doc_id", "text", k = 3, dupGrams)
        .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
      assert(streamed == batch, s"ingest scrub $streamed != batch scrub $batch")
      assert(streamed == Seq(
        (1L, 6L, 4L, "x y"),
        (2L, 6L, 0L, "q r s t u v"),
        (3L, 6L, 0L, "q r s w w w"),
        (4L, 2L, 0L, "a b")), s"got $streamed")
    } finally query.stop()
  }

  test("streaming ingest funnel: quality gate -> contamination gate -> exact dedup in one query") {
    // the streaming mirror of x_corpus_funnel: every stage is the
    // registered ingest operator, chained in ONE append-mode query —
    // narrow quality filter, narrow stream-static contamination flag,
    // then watermark-bounded exact dedup of whatever survives
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val good = "the quick brown fox jumps over the lazy dog and then the " +
      "dog naps on the warm porch for most of the afternoon in the sun"
    val contaminated = "the alpha beta gamma delta section repeats for long " +
      "enough that the quality gate is happy with the token count of it all"
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val gated = graft.ext.TextAnalysis.qualityFilter(
        input.toDF().toDF("ts", "doc_id", "text"), "text")
      .filter(col("keep"))
    val cleared = StreamingOps.contaminatedAtIngest(gated, "text", bench, "text", n = 4)
      .filter(!col("contaminated"))
    val out = StreamingOps.dedupExact(cleared, "ts", "text", watermark = "10 minutes")
      .select("doc_id")
    val query = out.writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
      input.addData(Seq(
        (ts(1), 1L, good),           // survives every gate
        (ts(2), 2L, "too short"),    // quality gate
        (ts(3), 3L, contaminated)))  // contamination gate
      query.processAllAvailable()
      input.addData(Seq(
        (ts(4), 4L, good),           // duplicate of doc 1 -> dedup gate
        (ts(5), 5L, good + " extra") // near-copy but byte-distinct: survives
      ))
      query.processAllAvailable()
      val survivors = spark.table("funnel_out").as[Long].collect().sorted.toSeq
      assert(survivors == Seq(1L, 5L), s"funnel survivors: $survivors")
    } finally query.stop()
  }

  test("streaming dedup: duplicate content dropped within the watermark, state is hashes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "text")
    val out = StreamingOps.dedupExact(df, "ts", "text", watermark = "1 minute")
    val query = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
      input.addData(Seq((ts(1), "alpha"), (ts(2), "beta"), (ts(3), "alpha")))
      query.processAllAvailable()
      // duplicate arriving in a LATER micro-batch is also dropped
      input.addData(Seq((ts(10), "beta"), (ts(11), "gamma")))
      query.processAllAvailable()
      val texts = spark.table("dedup_out").select("text").as[String]
        .collect().sorted.toSeq
      assert(texts == Seq("alpha", "beta", "gamma"))
    } finally query.stop()
  }

  test("streaming asof: a late left row never sees a right row from its event-time future") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Boolean, Double)]
    val df = input.toDF().toDF("ts", "k", "is_right", "v")
    val out = StreamingOps.asofLatest(df, "k", "ts", "is_right", "v",
      watermark = "10 minutes")
    val query = out.writeStream.format("memory").queryName("asof_late_out")
      .outputMode("append").start()
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    try {
      // batch 1: right mark at s=30 enters state
      input.addData(Seq((ts(30), "a", true, 3.0)))
      query.processAllAvailable()
      // batch 2: a LATE left at s=10 (before the stored right) and an
      // in-order left at s=40
      input.addData(Seq((ts(10), "a", false, 0.0), (ts(40), "a", false, 0.0)))
      query.processAllAvailable()
      val got = spark.table("asof_late_out")
        .select("eventTs", "asofTsMs").collect()
        .map(r => (r.getTimestamp(0).getTime, Option(r.get(1)).map(_.asInstanceOf[Long])))
        .sortBy(_._1).toSeq
      // s=10 precedes the only right mark → null, NOT the future s=30 mark
      assert(got == Seq(
        (ts(10).getTime, None),
        (ts(40).getTime, Some(ts(30).getTime))))
    } finally query.stop()
  }

  test("streaming asof: a late right row never regresses newer state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Boolean, Double)]
    val df = input.toDF().toDF("ts", "k", "is_right", "v")
    val out = StreamingOps.asofLatest(df, "k", "ts", "is_right", "v",
      watermark = "10 minutes")
    val query = out.writeStream.format("memory").queryName("asof_lr_out")
      .outputMode("append").start()
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    try {
      input.addData(Seq((ts(50), "a", true, 5.0)))
      query.processAllAvailable()
      // a LATE right at s=20 must not displace the newer s=50 state;
      // the left at s=60 still matches s=50
      input.addData(Seq((ts(20), "a", true, 2.0), (ts(60), "a", false, 0.0)))
      query.processAllAvailable()
      val got = spark.table("asof_lr_out")
        .select("asofTsMs", "asofValue").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == Seq((ts(50).getTime, 5.0)))
    } finally query.stop()
  }

  test("streaming asof: in-order stream matches the batch asofJoin row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Boolean, Double)]
    val df = input.toDF().toDF("ts", "k", "is_right", "v")
    val out = StreamingOps.asofLatest(df, "k", "ts", "is_right", "v",
      watermark = "1 minute")
    val query = out.writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    // interleaved per-key feed: rights (marks) and lefts (lookups);
    // includes a tie at s=20 (inclusive → the s=20 left sees the s=20
    // right) and a left before any right (→ null)
    val data = Seq(
      (ts(1), "a", false, 0.0),  // before any right → null
      (ts(2), "a", true, 10.0),
      (ts(5), "a", false, 0.0),  // → 10.0@2
      (ts(8), "b", true, 7.0),
      (ts(20), "a", true, 20.0),
      (ts(20), "a", false, 0.0), // tie → 20.0@20
      (ts(25), "b", false, 0.0)) // → 7.0@8
    try {
      val (b1, b2) = data.splitAt(4)
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
      val got = spark.table("asof_out")
        .select("key", "eventTs", "asofTsMs", "asofValue")
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime,
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Double])))
        .sortBy(t => (t._1, t._2)).toSeq
      // batch reference over the same rows, ms axis
      val all = data.toDF("ts", "k", "is_right", "v")
        .withColumn("t", unix_millis(col("ts")))
      val expect = graft.window.Windows.asofJoin(
          all.filter(!col("is_right")).select("k", "t"),
          all.filter(col("is_right")).select("k", "t", "v"),
          "t", "t", Seq("v"), partCols = Seq("k"))
        .select("k", "t", "asof_ts", "asof_v")
        .collect()
        .map(r => (r.getString(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Double])))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(got == expect)
      assert(got.map(t => (t._3, t._4)) == Seq(
        (None, None), (Some(ts(2).getTime), Some(10.0)),
        (Some(ts(20).getTime), Some(20.0)),
        (Some(ts(8).getTime), Some(7.0))))
    } finally query.stop()
  }

  /** Deterministic events-shaped fixture: 40 users × 20–60 events over ~30
    * days, reference event-type mix. Replaces the former read of the
    * driver-owned `/root/testdata` so suite greenness never depends on data
    * this repo doesn't control (the round-9 re-encoding incident).
    */
  private def syntheticEvents(): Seq[(Long, String, String)] = {
    val rng = new scala.util.Random(42)
    val types = Vector("view", "view", "view", "click", "click", "purchase", "other")
    val t0 = 1700000000000L // ms; sub-second jitter included
    (for {
      u <- 1 to 40
      _ <- 1 to (20 + rng.nextInt(41))
    } yield {
      val ms = t0 + rng.nextInt(30 * 86400) * 1000L + rng.nextInt(1000)
      (ms, u.toString, types(rng.nextInt(types.length)))
    }).sortBy(t => (t._1, t._2, t._3))
  }

  test("streaming funnel: reach counts match the batch conversion funnel " +
      "on an events-shaped stream, across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val horizonMs = 86400000L // 1 day, the registry query's horizon
    // the registry's funnel input shape (x_conversion_funnel), as an
    // in-order stream; ms precision on BOTH sides so arithmetic is identical
    val rows = syntheticEvents()
      .map { case (ms, u, t) => (new java.sql.Timestamp(ms), u, t) }
    val input = MemoryStream[(java.sql.Timestamp, String, String)]
    val out = StreamingOps.funnelProgress(
      input.toDF().toDF("ts", "user", "event_type"),
      "user", "ts", "event_type", steps,
      // wider than the month of data: no state reclaim mid-stream, so
      // multi-hour user idleness cannot reset funnels the batch op keeps
      watermark = "40 days", horizonMs = Some(horizonMs))
    val query = out.writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      rows.grouped(350).foreach { chunk =>
        input.addData(chunk.toSeq); query.processAllAvailable()
      }
      val streamed = spark.table("funnel_out")
        .groupBy("step", "eventType")
        .agg(countDistinct(col("key")).as("n_users"))
        .orderBy("step")
        .as[(Int, String, Long)].collect().toSeq
      val batch = graft.window.Windows.conversionFunnel(
          rows.toSeq.toDF("ts", "user", "event_type")
            .withColumn("ms", unix_millis(col("ts"))),
          "user", "ms", "event_type", steps, horizon = Some(horizonMs))
        .orderBy("step")
        .as[(Int, String, Long)].collect().toSeq
      assert(streamed.nonEmpty && streamed.map(_._3).forall(_ > 0),
        s"vacuous parity: $streamed")
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
    } finally query.stop()
  }

  test("streaming retention: first-activity cells match the batch cohort " +
      "matrix on an events-shaped stream, across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val bucketMs = 86400000L // 1 day, the batch query's bucket
    val rows = syntheticEvents()
      .map { case (ms, u, _) => (new java.sql.Timestamp(ms), u) }
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val out = StreamingOps.retentionAtIngest(
      input.toDF().toDF("ts", "user"), "user", "ts", bucketMs,
      watermark = "40 days") // wider than the data: no mid-stream reclaim
    val query = out.writeStream.format("memory").queryName("retention_out")
      .outputMode("append").start()
    try {
      rows.grouped(350).foreach { chunk =>
        input.addData(chunk.toSeq); query.processAllAvailable()
      }
      val streamed = spark.table("retention_out")
        .groupBy("cohort", "age")
        .agg(countDistinct(col("key")).as("n_users"))
        .orderBy("cohort", "age")
        .as[(Long, Long, Long)].collect().toSeq
      // batch matrix over the SAME ms values: floorDiv(ms, day-ms) and
      // the batch floor(sec / day-s) compose to the same period index
      val batch = graft.window.Windows.retentionCohorts(
          rows.toSeq.toDF("ts", "user")
            .withColumn("sec", (unix_millis(col("ts")) / lit(1000L)).cast("long")),
          "user", "sec", bucket = 86400L)
        .select("cohort_start", "age", "n_users")
        .orderBy("cohort_start", "age")
        .as[(Long, Long, Long)].collect().toSeq
      assert(streamed.nonEmpty && streamed.map(_._3).forall(_ > 0),
        s"vacuous parity: $streamed")
      assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
    } finally query.stop()
  }

  test("streaming funnel: strictly-after and horizon predicates gate advancement") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    val input = MemoryStream[(java.sql.Timestamp, String, String)]
    val out = StreamingOps.funnelProgress(
      input.toDF().toDF("ts", "user", "event_type"),
      "user", "ts", "event_type", Seq("view", "click", "purchase"),
      watermark = "10 days", horizonMs = Some(60 * 60000L)) // 1 h
    val query = out.writeStream.format("memory").queryName("funnel_gate")
      .outputMode("append").start()
    try {
      // u1: click at the SAME minute as view (strictly-after fails),
      //     then a later click inside the horizon advances
      // u2: click 2 h after view (horizon fails) -> stuck at step 1;
      //     the purchase can then never qualify
      // u3: full in-horizon path, split across micro-batches
      input.addData(Seq(
        (ts(0), "u1", "view"), (ts(0), "u1", "click"), (ts(30), "u1", "click"),
        (ts(0), "u2", "view"), (ts(120), "u2", "click"), (ts(150), "u2", "purchase"),
        (ts(10), "u3", "view"), (ts(20), "u3", "click")))
      query.processAllAvailable()
      input.addData(Seq((ts(40), "u3", "purchase")))
      query.processAllAvailable()
      val got = spark.table("funnel_gate")
        .select("key", "step", "eventType")
        .as[(String, Int, String)].collect().toSeq.sorted
      assert(got == Seq(
        ("u1", 1, "view"), ("u1", 2, "click"),
        ("u2", 1, "view"),
        ("u3", 1, "view"), ("u3", 2, "click"), ("u3", 3, "purchase")),
        s"got $got")
    } finally query.stop()
  }

  test("streaming funnel: checkpoint restart resumes state exactly — " +
      "restarted run equals the uninterrupted run row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val steps = Seq("view", "click", "purchase")
    val rows = syntheticEvents()
      .map { case (ms, u, t) => (new java.sql.Timestamp(ms), u, t) }
    val chunks = rows.grouped(math.max(1, rows.length / 4)).toSeq

    // file sink + explicit checkpoint: the fault-tolerant pair — this is
    // the restart path a production ingest job actually exercises.
    // Caveat (r10 advice): the SOURCE here is MemoryStream, which Spark
    // documents as non-replayable/non-fault-tolerant; restart works only
    // because the same in-process instance retains its added batches, an
    // implementation detail that a Spark upgrade could change. The
    // fully-supported source-side restart contract is pinned separately
    // by the file-source ingest test below (parquet directory source),
    // so if this test ever breaks on upgrade, the coverage to keep is
    // the sink/state/checkpoint half it uniquely exercises.
    def run(interrupted: Boolean): Seq[(String, Int, String, Long)] = {
      val cp = Files.createTempDirectory("graft-cp").toString
      val outDir = Files.createTempDirectory("graft-out").toString
      val input = MemoryStream[(java.sql.Timestamp, String, String)]
      def start() = StreamingOps.funnelProgress(
          input.toDF().toDF("ts", "user", "event_type"),
          "user", "ts", "event_type", steps, watermark = "40 days",
          horizonMs = Some(86400000L))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", cp).outputMode("append").start()
      var query = start()
      try {
        chunks.zipWithIndex.foreach { case (c, i) =>
          input.addData(c); query.processAllAvailable()
          if (interrupted && i == 1) { query.stop(); query = start() }
        }
      } finally query.stop()
      spark.read.parquet(outDir)
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2),
          r.getTimestamp(3).getTime))
        .toSeq.sorted
    }

    val restarted = run(interrupted = true)
    val straight = run(interrupted = false)
    assert(restarted.nonEmpty, "vacuous: no funnel progress emitted")
    assert(restarted == straight,
      s"restart diverged: ${restarted.size} vs ${straight.size} rows")
  }

  test("RocksDB state store: funnel output identical to the default " +
      "provider — state semantics are provider-independent") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val rows = syntheticEvents()
      .map { case (ms, u, t) => (new java.sql.Timestamp(ms), u, t) }
    def run(name: String): Seq[(String, Int, String, Long)] = {
      val input = MemoryStream[(java.sql.Timestamp, String, String)]
      val out = StreamingOps.funnelProgress(
        input.toDF().toDF("ts", "user", "event_type"),
        "user", "ts", "event_type", steps, watermark = "40 days",
        horizonMs = Some(86400000L))
      val query = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        rows.grouped(400).foreach { c =>
          input.addData(c); query.processAllAvailable()
        }
        spark.table(name).collect()
          .map(r => (r.getString(0), r.getInt(1), r.getString(2),
            r.getTimestamp(3).getTime)).toSeq.sorted
      } finally query.stop()
    }
    val rocks = graft.streaming.StreamBench.rocksDb(spark)(run("funnel_rocks"))
    val default = run("funnel_default")
    assert(rocks.nonEmpty, "vacuous: no funnel progress emitted")
    assert(rocks == default, "RocksDB provider diverged from default")
  }

  test("file-source ingest: parquet directory streamed file-by-file " +
      "through dedupExact equals the batch first-per-hash result") {
    import java.nio.file.Files
    val srcDir = Files.createTempDirectory("graft-src").toString
    val outDir = Files.createTempDirectory("graft-fout").toString
    val cp = Files.createTempDirectory("graft-fcp").toString
    // three "arriving" files with cross-file duplicate texts; in-order
    // event times so the watermark advances as files land
    val t0 = 1700000000000L
    val all = (0 until 300).map { i =>
      val text = s"doc body ${i % 110}" // 110 distinct texts, rest dups
      (new java.sql.Timestamp(t0 + i * 1000L), i.toLong, text)
    }
    all.grouped(100).zipWithIndex.foreach { case (part, i) =>
      val staging = Files.createTempDirectory("graft-stage").toString
      part.toSeq.toDF("ts", "doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(staging)
      val f = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, f"file_$i%03d.parquet")
      Files.move(f.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 60000L) // oldest-first pickup order
    }
    val schema = "ts timestamp, doc_id long, text string"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // one file per micro-batch
      .parquet(srcDir)
    val query = StreamingOps.dedupExact(stream, "ts", "text", "2 minutes")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", cp).outputMode("append").start()
    try query.processAllAvailable() finally query.stop()
    val streamed = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSeq.sorted
    // batch reference: first doc_id per distinct text
    val batch = all.groupBy(_._3).map(_._2.map(_._2).min).toSeq.sorted
    assert(streamed.size == 110 && streamed == batch,
      s"streamed ${streamed.size} docs, batch ${batch.size}")
  }

  test("stream-parity registry rows: the harness runs end-to-end and a " +
      "stateless row matches its batch restatement (full set is driver-gated)") {
    // the xs_stream_* rows live under the DuckDB gate (178/178 in
    // Verify); this pins the drained-memory-sink harness itself in CI so
    // sbt test alone catches a broken file-source/stage/sink wiring
    val fns = graft.SparkEntry.queries
    val d = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$d/documents.parquet").exists())
    val streamed = fns("xs_stream_decontaminate")(spark, d)
      .as[(Long, Boolean)].collect().toSeq
    val batch = graft.ext.Dedup.decontaminate(
        spark.read.parquet(s"$d/documents.parquet"),
        spark.read.parquet(s"$d/documents.parquet").filter(col("doc_id") % 20 === 0),
        "doc_id", "text", n = 4)
      .orderBy("doc_id").select("doc_id", "contaminated")
      .as[(Long, Boolean)].collect().toSeq
    // the batch operator excludes the benchmark slice from the corpus;
    // the ingest stream sees every arriving doc — compare on the overlap
    // and pin that benchmark docs flag themselves
    val streamedMap = streamed.toMap
    assert(batch.nonEmpty && batch.forall { case (id, c) => streamedMap(id) == c },
      "ingest flags diverge from batch decontaminate on the shared slice")
    val benchSelf = streamed.filter(_._1 % 20 == 0)
    assert(benchSelf.nonEmpty && benchSelf.forall(_._2),
      "benchmark docs arriving at ingest must flag themselves")
  }

  test("StreamBench: all cases construct; the stateless ingest case runs; " +
      "enumeration and runs leave session conf untouched") {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    val cases = graft.streaming.StreamBench.cases(spark)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == saved,
      "enumerating cases() must not mutate session conf")
    assert(cases.size == 18, s"expected 18 bench cases, got ${cases.size}")
    assert(cases.map(_._1).distinct.size == cases.size, "duplicate names")
    // run one full ingest end-to-end (cheapest case) so a broken
    // MemoryStream/noop-sink wiring fails here, not in the driver bench
    cases.toMap.apply("stream_decontaminate")()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == saved,
      "a case run must save/restore its shuffle-partition override")
  }
}
