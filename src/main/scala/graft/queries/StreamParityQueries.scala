package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.Dedup
import graft.functions.SignBucketing
import graft.streaming.StreamingOps

/** Streaming operators under the DRIVER's correctness gate (r10 verdict
  * item 7): each `xs_stream_*` row runs a real `writeStream` query over a
  * FINITE, deterministic stream of the driver's own parquet tables
  * (file-source: the same files, streamed), drains it to completion, and
  * returns the sink contents as a batch frame — which the DuckDB oracle
  * restates from the tables directly. StreamingSpec pins multi-batch /
  * state-carryover behavior; these rows pin end-to-end EQUALITY of the
  * streaming semantics with the batch restatement on real data, in the
  * same hash-compared signal as every batch operator.
  *
  * Determinism notes. Stateful ops sort each group's batch by event time
  * (StreamingOps), the corpus has no same-key same-millisecond ties at
  * any checked sf, and aggregates are emitted either eagerly (the
  * flatMapGroupsWithState lanes), in COMPLETE mode (windowed aggregates —
  * append mode would withhold the final watermark-open windows of a
  * finite stream), or statelessly — so a drained finite run is a total
  * function of the input files. Memory-sink row order is not
  * deterministic; every returned frame re-sorts.
  *
  * Scale note: the memory sink bounds these rows to audit/verify scale by
  * construction (the driver's gate runs at sf0.01). A production ingest
  * writes to a real sink — the operators themselves are unchanged.
  */
object StreamParityQueries {

  /** Run `out` to completion into a memory sink and return the sink
    * table as a batch frame. The temp view is dropped first so bench
    * reps can re-run the same name.
    */
  private def drained(s: SparkSession, name: String, out: DataFrame,
                      mode: String = "append"): DataFrame = {
    s.catalog.dropTempView(name)
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    s.table(name)
  }

  /** documents as a finite file-source stream with a synthetic
    * event-time column `ts_doc` (one doc per second, one day after the
    * epoch — a row AT epoch 0 sits exactly on the initial watermark and
    * Spark's within-watermark dedup drops it as late) — deterministic,
    * and only there to satisfy watermark plumbing.
    */
  private def docStream(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/documents.parquet"
    val schema = s.read.parquet(path).schema
    s.readStream.schema(schema).parquet(Tables.streamableDir(path))
      .withColumn("ts_doc", timestamp_seconds(col("doc_id") + 86400L))
  }

  /** embeddings as a finite file-source stream with a synthetic
    * event-time column `ts_vec` (one vector per second, one day past
    * the epoch — same rationale as [[docStream]]'s offset).
    */
  private def embStream(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/embeddings.parquet"
    val schema = s.read.parquet(path).schema
    s.readStream.schema(schema).parquet(Tables.streamableDir(path))
      .withColumn("ts_vec", timestamp_seconds(col("vec_id") + 86400L))
  }

  val all: Seq[Q] = Seq(

    // A3-streaming under the gate: tumbling 1-hour event-time means of
    // the metric. COMPLETE mode emits every window of the finite stream
    // (append would withhold the watermark-open tail); the oracle is the
    // plain per-hour batch aggregate.
    Q("xs_stream_period_means",
      (s, d) => drained(s, "xs_period_means",
          StreamingOps.periodMeans(Tables.eventsStream(s, d), "ts_event", "value",
            "1 hour", "1 hour"), mode = "complete")
        .select(col("period_start"), round(col("mse"), 6).as("mse"), col("n"))
        .orderBy("period_start"),
      Some("SELECT make_timestamp(CAST(floor(epoch(ts) / 3600) AS BIGINT) " +
        "* 3600 * 1000000) AS period_start, " +
        "round(avg(value), 6) AS mse, CAST(count(*) AS BIGINT) AS n " +
        "FROM events GROUP BY 1 ORDER BY period_start")),

    // P9-streaming: the same windows flagged against a fixed threshold.
    Q("xs_stream_threshold_flags",
      (s, d) => drained(s, "xs_threshold_flags",
          StreamingOps.thresholdFlags(Tables.eventsStream(s, d), "ts_event", "value",
            "1 hour", "1 hour", threshold = 50.0), mode = "complete")
        .select(col("period_start"), round(col("mse"), 6).as("mse"), col("n"),
          col("anomaly"))
        .orderBy("period_start"),
      Some("SELECT make_timestamp(CAST(floor(epoch(ts) / 3600) AS BIGINT) " +
        "* 3600 * 1000000) AS period_start, " +
        "round(avg(value), 6) AS mse, CAST(count(*) AS BIGINT) AS n, " +
        "avg(value) > 50.0 AS anomaly " +
        "FROM events GROUP BY 1 ORDER BY period_start")),

    // Per-source ingest report (doc/token volumes exact; the HLL
    // unique-content estimate stays out of the compared columns — the
    // batch report owns the exact number).
    Q("xs_stream_source_report",
      (s, d) => drained(s, "xs_source_report",
          StreamingOps.sourceReportStream(docStream(s, d), "ts_doc", "source",
            "text", "1 minute", "1 minute"), mode = "complete")
        .select(col("period_start"), col("source"), col("n_docs"), col("n_tokens"))
        .orderBy("period_start", "source"),
      Some("SELECT make_timestamp(((doc_id + 86400) // 60) * 60 * 1000000) AS period_start, " +
        "source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(len(string_split_regex(text, ' +'))) AS BIGINT) AS n_tokens " +
        "FROM documents GROUP BY 1, 2 ORDER BY period_start, source")),

    // Exact dedup at ingest: no document in this corpus duplicates
    // another's text at the gate sf, so the watermarked first-per-hash
    // stream must pass EVERY doc — the no-false-suppression half of the
    // contract (real suppression across batches is pinned in
    // StreamingSpec; which id survives an intra-batch tie is
    // order-dependent by design, so a corpus with exact dups would not
    // hash-compare).
    // Full-horizon watermark (the stream's span is days, the horizon
    // years) → keep-first-per-text semantics, i.e. the batch
    // Dedup.exact contract. WHICH doc survives a same-text group is an
    // intra-batch race (shuffle fetch order), so the output projects
    // survivor-invariant columns only: n_chars is a pure function of
    // text (n_chars == length(text), asserted on the driver data), so
    // (n_chars, count) is deterministic however the races resolve. The
    // earlier `SELECT doc_id` + all-docs oracle was vacuous on the
    // duplicate-free gate sfs and WRONG on any corpus with in-horizon
    // duplicates (sf0.1 has 8 groups; the gapped-sf1 sweep caught it).
    Q("xs_stream_dedup_exact",
      (s, d) => drained(s, "xs_dedup_exact",
          StreamingOps.dedupExact(docStream(s, d), "ts_doc", "text", "3650 days"))
        .groupBy("n_chars").agg(count(lit(1)).as("n_unique"))
        .orderBy("n_chars"),
      Some("SELECT n_chars, CAST(count(DISTINCT text) AS BIGINT) AS n_unique " +
        "FROM documents GROUP BY n_chars ORDER BY n_chars")),

    // Benchmark decontamination at ingest (stateless narrow): benchmark
    // = the doc_id % 20 == 0 slice (x_decontaminate's split), flags via
    // 4-gram overlap against the embedded literal. Benchmark docs also
    // ARRIVE in the stream and flag themselves when they have >= 4
    // tokens — the oracle states that too.
    Q("xs_stream_decontaminate",
      (s, d) => drained(s, "xs_decontaminate",
          StreamingOps.contaminatedAtIngest(docStream(s, d), "text",
            Tables.documents(s, d).filter(col("doc_id") % 20 === 0), "text", n = 4))
        .select(col("doc_id"), col("contaminated")).orderBy("doc_id"),
      Some(ExtQueries.DocToksCte + ExtQueries.ngramStartsCte(4) + ", " +
        "g AS (SELECT doc_id, array_to_string(toks[p:p+3], ' ') AS ngram FROM e), " +
        "bench AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 20 = 0), " +
        "hit AS (SELECT DISTINCT doc_id FROM g JOIN bench USING (ngram)) " +
        "SELECT d.doc_id, hit.doc_id IS NOT NULL AS contaminated " +
        "FROM documents d LEFT JOIN hit USING (doc_id) ORDER BY d.doc_id")),

    // Duplicated-span scrub at ingest (stateless narrow): the stored
    // 6-gram table from the batch corpus, embedded as the sorted plan
    // literal; output equals the batch scrubFromStored row-for-row, so
    // the x_dup_span_scrub oracle checks the whole streaming path.
    Q("xs_stream_scrub",
      (s, d) => drained(s, "xs_scrub",
          StreamingOps.scrubAtIngest(docStream(s, d), "doc_id", "text",
            Dedup.dupGramTable(Tables.documents(s, d), "doc_id", "text", k = 6),
            k = 6))
        .select(col("doc_id"), col("n_tokens"), col("n_dropped"), col("clean_text"))
        .orderBy("doc_id"),
      Some(ExtQueries.DupSpanScrubOracle)),

    // Gap sessionization at ingest: per-event episode labels (gap 600 s
    // per user). The oracle replays the same ms-granularity gap rule
    // (eventTs.getTime is milliseconds) with lag + running sum per user.
    Q("xs_stream_sessionize",
      (s, d) => drained(s, "xs_sessionize",
          StreamingOps.sessionEpisodes(Tables.eventsStream(s, d), "user_id",
            "ts_event", gapMs = 600000L, watermark = "40 days").toDF())
        .select(col("key"), col("eventTs"), col("episode"))
        .orderBy("key", "eventTs"),
      Some("WITH e AS (SELECT CAST(user_id AS VARCHAR) AS key, ts, " +
        "epoch_ms(ts) AS ms FROM events), " +
        "g AS (SELECT key, ts, ms, CASE WHEN ms - lag(ms) OVER " +
        "(PARTITION BY key ORDER BY ms) > 600000 THEN 1 ELSE 0 END AS nw FROM e) " +
        "SELECT key, ts AS eventTs, " +
        "CAST(sum(nw) OVER (PARTITION BY key ORDER BY ms " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS episode " +
        "FROM g ORDER BY key, eventTs")),

    // Conversion-funnel progression at ingest: one row per (user, step)
    // reach, view -> click -> purchase with a 1-day horizon — the
    // x_conversion_funnel predicate chain per user, at the operator's ms
    // granularity, with the reach TIMESTAMP itself compared.
    Q("xs_stream_funnel",
      (s, d) => drained(s, "xs_funnel",
          StreamingOps.funnelProgress(Tables.eventsStream(s, d), "user_id",
            "ts_event", "event_type", Seq("view", "click", "purchase"),
            watermark = "40 days", horizonMs = Some(86400000L)).toDF())
        .select(col("key"), col("step"), col("eventType"), col("reachTs"))
        .orderBy("key", "step"),
      Some("WITH e AS (SELECT CAST(user_id AS VARCHAR) AS key, event_type, ts, " +
        "epoch_ms(ts) AS ms FROM events), " +
        "s1 AS (SELECT key, min(ts) AS t, min(ms) AS tm FROM e " +
        "WHERE event_type = 'view' GROUP BY key), " +
        "s2 AS (SELECT e.key, min(ts) AS t, min(ms) AS tm FROM e JOIN s1 USING (key) " +
        "WHERE event_type = 'click' AND ms > s1.tm AND ms <= s1.tm + 86400000 GROUP BY e.key), " +
        "s3 AS (SELECT e.key, min(ts) AS t, min(ms) AS tm FROM e JOIN s2 USING (key) " +
        "WHERE event_type = 'purchase' AND ms > s2.tm AND ms <= s2.tm + 86400000 GROUP BY e.key) " +
        "SELECT key, step, eventType, t AS reachTs FROM (" +
        "SELECT key, 1 AS step, 'view' AS eventType, t FROM s1 " +
        "UNION ALL SELECT key, 2, 'click', t FROM s2 " +
        "UNION ALL SELECT key, 3, 'purchase', t FROM s3) ORDER BY key, step")),

    // Retention first-activity cells at ingest: (user, cohort, age) the
    // first time each user is active at each day-age; the batch cohort
    // matrix is the distinct-count of exactly these cells.
    Q("xs_stream_retention",
      (s, d) => drained(s, "xs_retention",
          StreamingOps.retentionAtIngest(Tables.eventsStream(s, d), "user_id",
            "ts_event", bucketMs = 86400000L, watermark = "40 days").toDF())
        .select(col("key"), col("cohort"), col("age"))
        .orderBy("key", "age"),
      Some("WITH e AS (SELECT CAST(user_id AS VARCHAR) AS key, " +
        "epoch_ms(ts) // 86400000 AS d FROM events), " +
        "f AS (SELECT key, min(d) AS cohort FROM e GROUP BY key) " +
        "SELECT DISTINCT e.key, f.cohort, e.d - f.cohort AS age " +
        "FROM e JOIN f USING (key) ORDER BY key, age")),

    // Streaming as-of join over one tagged stream: 'error' events are
    // the reference feed, every other event joins its user's latest
    // reference at-or-before its time (ms granularity, inclusive ties —
    // the corpus has no same-user same-ms ties at any checked sf).
    Q("xs_stream_asof",
      (s, d) => drained(s, "xs_asof",
          StreamingOps.asofLatest(
            Tables.eventsStream(s, d).withColumn("is_right", col("event_type") === "error"),
            "user_id", "ts_event", "is_right", "value", watermark = "40 days").toDF())
        .select(col("key"), col("eventTs"), col("asofTsMs"),
          round(col("asofValue"), 6).as("asofValue"))
        .orderBy("key", "eventTs"),
      Some("WITH e AS (SELECT CAST(user_id AS VARCHAR) AS key, ts, " +
        "epoch_ms(ts) AS ms, value, event_type = 'error' AS r FROM events), " +
        "l AS (SELECT key, ts, ms FROM e WHERE NOT r), " +
        "m AS (SELECT l.key, l.ts, l.ms, max(rr.ms) AS rms FROM l " +
        "LEFT JOIN e rr ON rr.key = l.key AND rr.r AND rr.ms <= l.ms " +
        "GROUP BY l.key, l.ts, l.ms) " +
        "SELECT m.key, m.ts AS eventTs, m.rms AS asofTsMs, " +
        "round(rv.value, 6) AS asofValue FROM m " +
        "LEFT JOIN e rv ON rv.key = m.key AND rv.r AND rv.ms = m.rms " +
        "ORDER BY m.key, eventTs")),

    // Incremental dedup vs a stored corpus at ingest: the first half of
    // the corpus is "already ingested" (its hash table + bloom built
    // batch-side); streaming the whole corpus must pass EXACTLY the
    // unseen half — bloom false positives change the route (join vs
    // narrow pass), never the answer.
    Q("xs_stream_incremental_dedup",
      (s, d) => {
        val seen = Tables.documents(s, d).filter(col("doc_id") < 250)
          .select(xxhash64(col("text")).as("content_hash")).distinct()
        val bloom = Dedup.seenBloom(seen, "content_hash", expectedItems = 4096)
        drained(s, "xs_incr_dedup",
            StreamingOps.incrementalDedupAtIngest(docStream(s, d), "text", seen, bloom))
          .select(col("doc_id")).orderBy("doc_id")
      },
      // survivors = new docs whose TEXT the ingested slice has not seen
      // (hash-keyed in the operator; text-keyed in the restatement) — the
      // earlier id-only oracle assumed no cross-slice duplicate texts,
      // which holds on the gate sfs but not on replicated corpora
      Some("SELECT doc_id FROM documents d WHERE doc_id >= 250 " +
        "AND text NOT IN (SELECT text FROM documents WHERE doc_id < 250) " +
        "ORDER BY doc_id")),

    // W1/W2-streaming under the gate: per-key COUNT-based sliding
    // windows (flatMapGroupsWithState buffer, the last deterministic
    // streaming op without a parity row — minhashCandidatePairs stays
    // out by design: engine-hash signatures have no SQL restatement).
    // Window w of a key covers that key's rows with per-key positions
    // (w·step+1 … w·step+size) in seq order; the oracle restates it
    // with a row_number + frame window. The single-file parquet source
    // arrives as one batch, so the kernel's per-batch seq sort IS the
    // total order.
    Q("xs_stream_count_windows",
      (s, d) => {
        import s.implicits._
        val kv = Tables.eventsStream(s, d)
          .select(col("user_id").cast("string").as("key"),
            col("event_id").as("seq"), col("value"))
          .as[StreamingOps.KeyedValue]
        drained(s, "xs_count_windows",
            StreamingOps.countWindows(kv, size = 5, step = 5).toDF())
          .select(col("key"), col("windowId").as("window_id"),
            round(aggregate(col("values"), lit(0.0), (a, v) => a + v) / 5, 6).as("w_avg"),
            element_at(col("values"), 1).as("first_v"),
            element_at(col("values"), -1).as("last_v"))
          .orderBy("key", "window_id")
      },
      Some("WITH r AS (SELECT CAST(user_id AS VARCHAR) AS key, value, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn FROM events), " +
        "t AS (SELECT key, rn, avg(value) OVER w AS a, " +
        "first_value(value) OVER w AS fv, last_value(value) OVER w AS lv, " +
        "count(*) OVER w AS cnt FROM r WINDOW w AS " +
        "(PARTITION BY key ORDER BY rn ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) " +
        "SELECT key, (rn - 5) // 5 AS window_id, round(a, 6) AS w_avg, " +
        "fv AS first_v, lv AS last_v FROM t " +
        "WHERE rn >= 5 AND (rn - 5) % 5 = 0 ORDER BY key, window_id")),

    // MinHash-LSH candidate pairs at INGEST under the gate — the lane
    // the r11 verdict called unpinnable ("by design: engine-hash
    // signatures"). The splitmix band keys (Dedup.splitmixBandKeys, the
    // same kernel x_minhash_lsh_splitmix checks in batch) make the
    // stateful bucket op itself driver-checkable: a drained finite
    // ingest with a beyond-horizon watermark and an uncapped bucket
    // emits every (earlier, later) pair per touched bucket — whose
    // DISTINCT is exactly the batch candidate set DuckDB regenerates
    // (ExtQueries.MinhashStreamSplitmixOracle). Pairs repeat per
    // band/batch in append mode; both sides DISTINCT. Production stays
    // xxhash-banded with the capped bucket (StreamingSpec pins its
    // batch parity).
    Q("xs_stream_minhash_pairs",
      (s, d) => drained(s, "xs_minhash_pairs",
          StreamingOps.minhashCandidatePairs(docStream(s, d), "ts_doc", "doc_id",
            "text", watermark = "3650 days", maxBucket = 1 << 16,
            keysFn = Some((t, n, b, r) => Dedup.splitmixBandKeys(t, n, b, r))).toDF())
        .distinct()
        .orderBy("id1", "id2"),
      Some(ExtQueries.MinhashStreamSplitmixOracle)),

    // Sign-bucket SEMANTIC-dedup candidates at INGEST under the gate —
    // the streaming twin of x_semantic_dedup's bucket join. The JL ±1
    // planes are deterministic and DuckDB-restatable (the same
    // (i·dim + j)·2654435761 arithmetic the batch oracle regenerates),
    // so the stateful op itself is driver-checkable: a drained finite
    // ingest with a beyond-horizon watermark and an uncapped bucket
    // emits every (earlier, later) pair per bucket — whose DISTINCT is
    // exactly the batch candidate set. planes = 6 matches the batch
    // anchor row; dim follows the corpus. Production sizes planes from
    // expected corpus magnitude and keeps the capped bucket
    // (StreamingSpec pins batch parity + the cross-batch state path).
    Q("xs_stream_semantic_pairs",
      (s, d) => {
        val dim = Tables.embeddings(s, d)
          .select(size(col("embedding"))).head().getInt(0)
        drained(s, "xs_semantic_pairs",
            StreamingOps.signBucketCandidatePairs(embStream(s, d), "ts_vec",
              "vec_id", "embedding", dIn = dim, planes = 6,
              watermark = "3650 days", maxBucket = 1 << 16).toDF())
          .distinct()
          .orderBy("id1", "id2")
      },
      Some("WITH " + ExtQueries.signBucketCtes(SignBucketing.Fixed(6), "embeddings") +
        " SELECT a.vec_id AS id1, b.vec_id AS id2 FROM bk a " +
        "JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id ORDER BY id1, id2")),

    // IVF membership-cell candidates at INGEST under the gate — the
    // streaming twin of the IVF kNN lane's cell join. The quantizer is
    // the deterministic pinned-auto anchors (count-derived nlist, the
    // x_ivf_knn_join_auto_pinned geometry), so the stateful op itself is
    // driver-checkable: a drained finite ingest with a beyond-horizon
    // watermark and an uncapped bucket emits every (earlier, later) pair
    // per membership cell — whose DISTINCT is exactly the mem ⋈ mem
    // slice of the batch oracle algebra (nprobe = 1; batch probing at
    // nprobe > 1 widens recall over the same cells and stays batch-side).
    // Cell assignment runs the SAME IvfProbes kernel as the batch join.
    // Production callers pin nlist from expected corpus magnitude and
    // keep the capped bucket (StreamingSpec pins batch parity + the
    // cross-batch state path).
    Q("xs_stream_ivf_pairs",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val unit = graft.functions.IvfQuantizer.pinned(emb, "vec_id", "embedding",
          graft.ext.Similarity.autoNlist(emb.count(), nprobe = 2, minList = 8))
        drained(s, "xs_ivf_pairs",
            StreamingOps.ivfCellCandidatePairs(embStream(s, d), "ts_vec",
              "vec_id", "embedding", unit,
              watermark = "3650 days", maxBucket = 1 << 16).toDF())
          .distinct()
          .orderBy("id1", "id2")
      },
      Some(ExtQueries.IvfStreamMembershipOracle)))
}
