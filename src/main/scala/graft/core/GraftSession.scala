package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table-loading conventions for the graft engine.
  *
  * Scale notes (100 TB discipline):
  *  - AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
  *  - `shuffle.partitions` defaults to the local core count; on a real
  *    cluster this is overridden to ~2-3x total cores (AQE coalesces down).
  *  - The `events` table's `ts` encoding varies by producer: ns-precision
  *    parquet loads as Long nanos (`nanosAsLong`), µs-precision loads as
  *    TIMESTAMP / TIMESTAMP_NTZ. [[Tables.events]] detects the loaded type
  *    and derives canonical `ts_sec`/`ts_micro` Longs from either.
  *
  * Generated-code reuse: a session that reruns a pipeline (train and
  * detect every period, restart a streaming query) should compile
  * Spark's generated classes once per JVM, not once per pass. Spark
  * caches compiled classes keyed by (task class loader, source text);
  * three defaults defeat that, and [[configure]] overrides them
  * (counts measured on the benchmark's workloads, local[4]):
  *  - `spark.sql.codegen.cache.maxEntries` (default 100) is below the
  *    working set of one pass: 227 distinct classes for the IIoT
  *    train-and-detect pass, 254 for the corpus dedup pass. The LRU
  *    cache evicted every class before its reuse, so each warm pass
  *    recompiled them all (226 / 249). 1000 is ~4× the largest set.
  *  - `spark.sql.artifact.isolation.enabled` (default true) gives each
  *    session, and each clone a streaming query or
  *    `graftbridge.onClonedSession` runs in, its own task class loader,
  *    hence its own cache key: every streaming query start recompiled
  *    its 37 classes. The engine adds no session artifacts (jars,
  *    files), so isolation buys nothing and is off.
  *  - `spark.sql.codegen.useIdInClassName` (default true) puts the
  *    whole-stage codegen stage id into the class name, so into the
  *    source text. Under AQE the ids follow the order in which query
  *    stages are planned, which varies from run to run, so identical
  *    stages missed the cache (0–14 recompiles per warm pass of a small
  *    train-and-detect pipeline). Without the id, identical stages share
  *    one class: the working sets fall to 205 / 228 classes.
  * With all three, warm passes compile 0 (batch), 0 (corpus) and 2
  * (stream) classes. Plans, jobs, tasks and shuffle bytes are unchanged.
  * `maxEntries` is a STATIC conf, read once when the first query in the
  * JVM compiles: the first session fixes the cache size for the JVM's
  * lifetime, so every session must be built through [[configure]].
  */
object GraftSession {

  /** Apply graft defaults to a builder; caller picks master/app. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.filterPushdown", "true")
    .config("spark.ui.enabled", "false")
    // Iterative operators (winnow/BPE/cluster lanes) localCheckpoint
    // intermediate frames; the blocks are freed by ContextCleaner only
    // after a DRIVER GC collects the dead RDD reference. Spark's default
    // periodic-GC interval is 30 min — measured at 10× sf0.1, a session
    // re-running the winnow lane accumulated dead blocks fast enough to
    // thrash the storage pool (warm 6 s → 200 s by rep 3). 5 min bounds
    // the leak window for long-lived pipeline sessions.
    .config("spark.cleaner.periodicGC.interval", "5min")
    // Generated-code reuse across passes and sessions (scaladoc above):
    // a pass compiles up to 254 distinct classes, past the default 100.
    .config("spark.sql.codegen.cache.maxEntries", "1000")
    // one task class loader, so one cache key, for every session and clone
    .config("spark.sql.artifact.isolation.enabled", "false")
    // stage ids follow AQE's planning order, which varies between runs
    .config("spark.sql.codegen.useIdInClassName", "false")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Loaders for the TPC-H-ish test tables (see /root/repo/TESTDATA.md).
  * Each is a plain parquet scan — Catalyst pushes projections and filters
  * into the scan (verify with `.explain`: `PushedFilters`, `ReadSchema`).
  */
object Tables {
  /** Long-`ts` unit per events path: negative = divisor (ns), positive =
    * multiplier to micros. Memoized so the one-column inference scan runs
    * once per path per JVM; rewriting the same path with a different
    * encoding mid-session would need a new path (tests use fresh dirs).
    */
  private val tsUnitMemo = scala.collection.concurrent.TrieMap.empty[String, Long]

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `events` with derived `ts_micro` (epoch micros, Long) and `ts_sec`
    * (epoch seconds, Long) columns — the join/compare-safe representations
    * every downstream operator consumes instead of raw `ts`.
    *
    * The physical `ts` encoding is NOT assumed: parquet files written as
    * `timestamp[ns]` load as Long nanos under `nanosAsLong=true`, while
    * `timestamp[us]` files load as TIMESTAMP / TIMESTAMP_NTZ. Both must
    * yield identical `ts_sec`/`ts_micro` (pinned by SchemaSpec).
    */
  def events(s: SparkSession, d: String): DataFrame =
    withTsColumns(s, d, load(s, d, "events"))

  private val eventsIdxMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** [[events]] with the ordering-contract `_idx`
    * ([[Indexing.withOrderedIdx]] by `event_id`), materialized ONCE per
    * (session, dir) and persisted — the contract's "every ingested table
    * materializes its idx exactly once" (DESIGN.md), which the
    * positional registry rows share instead of each paying the
    * range-shuffle + count pass. At warehouse scale this is a written
    * table; here a persisted frame is the same contract at test scale.
    */
  def eventsIdx(s: SparkSession, d: String): DataFrame =
    eventsIdxMemo.getOrElseUpdate((s, d), {
      eventsIdxMemo.keys.filter(_._1 ne s).foreach(eventsIdxMemo.remove)
      // materialized as PARQUET, not a persisted row cache: consumers get
      // codegen'd columnar scans with pruning/pushdown (a cached-row scan
      // cost anomaly_pipeline +0.5 s), and the on-disk table IS the
      // warehouse-scale shape of the contract. Path is PER-PROCESS
      // (unlike the write-once scratch sinks): a concurrent JVM on the
      // same sf dir must not overwrite files this session is reading.
      // The raw dir's hash disambiguates dirs the [^a-zA-Z0-9.] sanitize
      // would alias (e.g. "sf-1" vs "sf_1" — a second materialization
      // must never overwrite files a memoized frame still reads lazily),
      // and the pid root is removed on JVM exit so /tmp does not
      // accumulate one tree per run.
      val path = f"$idxRoot/${d.replaceAll("[^a-zA-Z0-9.]", "_")}_${d.hashCode}%08x/events_idx"
      Indexing.withOrderedIdx(events(s, d), "_idx",
        org.apache.spark.sql.functions.col("event_id"))
        .write.mode("overwrite").parquet(path)
      s.read.parquet(path)
    })

  /** Per-process scratch root for materialized idx tables; deleted by a
    * shutdown hook (registered once) so repeated runs don't accumulate
    * under /tmp/graft_idx.
    */
  private lazy val idxRoot: String = {
    val root = s"/tmp/graft_idx/${ProcessHandle.current().pid()}"
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(root))
    }))
    root
  }

  /** Streaming twin of [[events]]: the same parquet read as a finite
    * file-source stream, with the same derived `ts_sec`/`ts_micro`
    * columns plus `ts_event` (TimestampType, = timestamp_micros(ts_micro))
    * for watermarks. Encoding adaptation is shared with the batch loader
    * — the Long-unit inference runs on a BATCH scan of the same path
    * (memoized), since a streaming frame cannot be aggregated at plan
    * time.
    */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val path = s"$d/events.parquet"
    val schema = s.read.parquet(path).schema
    withTsColumns(s, d, s.readStream.schema(schema).parquet(streamableDir(path)))
      .withColumn("ts_event", timestamp_micros(col("ts_micro")))
  }

  private val stagedDirs = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Spark's file source streams DIRECTORIES; the driver ships each table
    * as a single parquet FILE. Stage such a file into a temp directory
    * (hardlink — zero copy — with a copy fallback across filesystems),
    * memoized per path; a path that already is a directory passes
    * through. This is the ingest drop-folder shape a streaming job reads
    * in production.
    */
  private[graft] def streamableDir(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isDirectory(p)) path
    else stagedDirs.getOrElseUpdate(path, {
      val dir = java.nio.file.Files.createTempDirectory("graft-stream-src")
      val target = dir.resolve(p.getFileName)
      try java.nio.file.Files.createLink(target, p)
      catch { case _: Exception => java.nio.file.Files.copy(p, target) }
      dir.toString
    })
  }

  private def withTsColumns(s: SparkSession, d: String, raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType =>
        // Raw epoch Long (the ns case is what `nanosAsLong` produces;
        // ms/µs/s longs would be a future driver re-encoding). The unit
        // is inferred ONCE per table path from the column min/max —
        // magnitude windows that are unambiguous for any timestamp
        // between 1973 and 5138 CE: ns ≥ 1e17 (1973+), µs in [1e14,1e17),
        // ms in [1e11,1e14), s in [1e8,1e11). Column-level (not per-row,
        // the r10 advice): a mixed-unit column or one below the
        // epoch-seconds window now fails loudly instead of being
        // silently normalized row-by-row, and a genuine ns column with
        // pre-1973 rows trips the mixed-window check instead of
        // producing far-future micros. Integer DIV, not `/`: epoch-nanos
        // (~1.7e18) exceeds double's 53-bit mantissa, so float division
        // would silently lose microseconds. The inference scan reads the
        // single ts column once per (session, path) — memoized below —
        // which at 100 TB is a one-off narrow columnar scan, not a
        // per-query cost; a production deployment pins the unit in the
        // table contract instead.
        val unit = tsUnitMemo.getOrElseUpdate(s"$d/events.parquet", {
          // batch scan of the same path, so the streaming loader shares
          // the inference (a streaming frame cannot be aggregated here)
          val mm = load(s, d, "events").agg(min(col("ts")), max(col("ts"))).head()
          if (mm.isNullAt(0)) 1L // empty table: unit irrelevant, treat as µs
          else {
            def window(v: Long): Long =
              if (v >= 100000000000000000L) -1000L // ns: DIV 1000
              else if (v >= 100000000000000L) 1L // µs
              else if (v >= 100000000000L) 1000L // ms
              else if (v >= 100000000L) 1000000L // s
              else 0L
            val (lo, hi) = (window(mm.getLong(0)), window(mm.getLong(1)))
            require(lo != 0L, s"events.ts min ${mm.getLong(0)} is below " +
              "the epoch-seconds window; unit unknown")
            require(lo == hi, s"events.ts spans two magnitude windows " +
              s"(min ${mm.getLong(0)}, max ${mm.getLong(1)}) — mixed-unit " +
              "or pre-1973 data; refusing to normalize silently")
            lo
          }
        })
        val tsMicro =
          if (unit < 0) expr(s"ts DIV ${-unit}L") else expr(s"ts * ${unit}L")
        raw.withColumn("ts_micro", tsMicro)
          .withColumn("ts_sec", expr("ts_micro DIV 1000000L"))
      case TimestampType =>
        // an instant — unix_micros is zone-independent
        raw.withColumn("ts_micro", unix_micros(col("ts")))
          .withColumn("ts_sec", expr("ts_micro DIV 1000000L"))
      case TimestampNTZType =>
        // naive wall-clock micros: the cast to TimestampType interprets
        // them in the SESSION zone, so this is only exact under UTC
        // (GraftSession.configure sets it). Fail loudly rather than
        // shift every epoch by a zone offset in a misconfigured session.
        require(s.conf.get("spark.sql.session.timeZone") == "UTC",
          "events.ts is TIMESTAMP_NTZ; loading it requires " +
            "spark.sql.session.timeZone=UTC (use GraftSession.configure)")
        raw.withColumn("ts_micro", unix_micros(col("ts").cast(TimestampType)))
          .withColumn("ts_sec", expr("ts_micro DIV 1000000L"))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts has unsupported type $other (expected Long nanos or a timestamp)")
    }
  }
}
