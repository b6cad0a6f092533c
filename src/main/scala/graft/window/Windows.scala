package graft.window

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/** Sequence / window operators (SURVEY.md §2.5 W1–W14) — the heart of the
  * reference's dataflow (windowing for the autoencoder, rolling thresholds,
  * anomaly-start detection).
  *
  * Scale design: positional windows are computed with SHUFFLE-based
  * grouping on arithmetically-derived keys (window id = idx div step), not
  * with a global `Window.orderBy` (single task). Where a frame-based
  * rolling op is genuinely per-group (per bearing / per sensor), a
  * partitioned window function is used — that parallelizes by key.
  * Truly-global running aggregates use the two-phase bucket pattern
  * ([[scalableCumSum]]): per-bucket partials + a tiny offsets table.
  */
object Windows {

  /** W1/W2 — overlapping sliding windows, size `size`, step `step`,
    * materialized as one row per window with an ordered values array
    * (the reference's `(n_windows, size, 1)` tensor,
    * `src/training/trainer.py:75-82`).
    *
    * Each input row belongs to at most `size/step` windows; rows are
    * exploded to their (windowId, position) assignments and hash-grouped by
    * windowId — one shuffle, fully parallel, no global sort. Windows that
    * would run past the end (count < size) are dropped, matching the
    * reference's `range(0, len - step, step)` bound.
    */
  def slidingWindows(df: DataFrame, idxCol: String, valueCol: String,
                     size: Int, step: Int): DataFrame = {
    require(size % step == 0, "size must be a multiple of step")
    // idx i belongs to window w for w in [ceil((i-size+1)/step), i/step]
    // Pure integer arithmetic (no double division — exact at any idx):
    // ceilDiv(i-size+1, step) clamped at 0, through floorDiv(i, step).
    val wins = df.select(col(idxCol).cast("long").as("_i"), col(valueCol).as("_v"))
      .withColumn("_w",
        explode(sequence(
          greatest(expr(s"(_i - ${size - 1} + ${step - 1}) DIV $step"), lit(0L)),
          expr(s"_i DIV $step"))))
      .filter(col("_w") * step + size > col("_i")) // guard: within frame
    wins.groupBy(col("_w").as("window_id"))
      .agg(
        count(lit(1)).as("cnt"),
        transform(array_sort(collect_list(struct(col("_i"), col("_v")))),
                  s => s.getField("_v")).as("values"))
      .filter(col("cnt") === size)
      .drop("cnt")
  }

  /** W3 — de-overlap: keep every `stride`-th window (`data_3d[::2]`). */
  def deoverlap(windows: DataFrame, windowIdCol: String, stride: Int): DataFrame =
    windows.filter(col(windowIdCol) % stride === 0)

  /** W4 — temporalize: per row, the trailing `lookback` values (step 1).
    * Implemented as a partitioned frame when `partCols` given; the
    * reference gathers rows i+2..i+lookback+1 (documented off-by-one,
    * `src/training/baseline.py:121-129`) — we implement the intended
    * trailing [i-lookback, i-1] frame.
    */
  def temporalize(df: DataFrame, idxCol: String, valueCol: String,
                  lookback: Int, partCols: Seq[String] = Nil): DataFrame = {
    val w = (if (partCols.isEmpty) Window.orderBy(col(idxCol))
             else Window.partitionBy(partCols.map(col): _*).orderBy(col(idxCol)))
      .rowsBetween(-lookback, -1)
    df.withColumn("history", collect_list(col(valueCol)).over(w))
      .filter(size(col("history")) === lookback)
  }

  /** W6 — rolling min, pandas semantics: null until the frame is full
    * (first w-1 rows of each partition).
    */
  def rollingMin(df: DataFrame, idxCol: String, valueCol: String, width: Int,
                 partCols: Seq[String] = Nil, out: String = "rolling_min"): DataFrame =
    rolling(df, idxCol, valueCol, width, partCols, out, min)

  /** W7 — rolling mean, same null-head semantics. */
  def rollingMean(df: DataFrame, idxCol: String, valueCol: String, width: Int,
                  partCols: Seq[String] = Nil, out: String = "rolling_mean"): DataFrame =
    rolling(df, idxCol, valueCol, width, partCols, out, avg)

  private def rolling(df: DataFrame, idxCol: String, valueCol: String, width: Int,
                      partCols: Seq[String], out: String,
                      f: Column => Column): DataFrame = {
    val base = if (partCols.isEmpty) Window.orderBy(col(idxCol))
               else Window.partitionBy(partCols.map(col): _*).orderBy(col(idxCol))
    val frame = base.rowsBetween(-(width - 1), 0)
    df.withColumn("_rn", row_number().over(base))
      .withColumn(out, when(col("_rn") >= width, f(col(valueCol)).over(frame)))
      .drop("_rn")
  }

  /** W8 — repeat/upsample ×factor: period granularity → sample granularity
    * (`np.repeat`, reference `src/evaluation/visualization.py:85-86`).
    * Narrow: explode of a generated array, no shuffle. The output position
    * is `idx*factor + rep`.
    */
  def repeatRows(df: DataFrame, idxCol: String, factor: Int): DataFrame =
    df.withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("sample_idx", col(idxCol) * factor + col("rep"))

  /** W9 — first-index-over-threshold (np.argmax(re > thr)): min idx where
    * the predicate holds, with the reference's `0` sentinel when none does
    * (`src/util/calculations.py:86-92`). One aggregation per group.
    */
  def firstOverThreshold(df: DataFrame, idxCol: String, pred: Column,
                         groupCols: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(coalesce(min(when(pred, col(idxCol))), lit(0L)).as("first_over"))

  /** W10 — until-failure expansion: anomalous = everything from the first
    * exceed onward. Broadcast the tiny per-group firsts back. The
    * reference maps the argmax 0 sentinel to the EMPTY anomaly set
    * (`src/util/calculations.py:87-92`) — a group that never exceeds (and,
    * faithfully, one whose first exceed is index 0) yields no anomalies.
    */
  def untilFailure(df: DataFrame, idxCol: String, pred: Column,
                   groupCols: Seq[String]): DataFrame = {
    val firsts = firstOverThreshold(df, idxCol, pred, groupCols)
    df.join(broadcast(firsts), groupCols)
      .withColumn("anomaly", col("first_over") > 0 && col(idxCol) >= col("first_over"))
  }

  /** W11 — searchsorted: first idx with `ts >= target`, and its positional
    * percentile (÷ row count). Two 1-row aggregates, no data movement.
    * np.searchsorted semantics: a target beyond the last timestamp yields
    * n (fraction 1.0), not null.
    */
  def searchSorted(df: DataFrame, idxCol: String, tsCol: String, target: Column): DataFrame =
    df.agg(
      min(when(col(tsCol) >= target, col(idxCol))).as("_first"),
      count(lit(1)).as("n")
    ).select(coalesce(col("_first"), col("n")).as("first_idx"),
      (coalesce(col("_first"), col("n")) / col("n")).as("fraction"))

  /** W12 — adjacent-index islands → [start, end+1) spans. Gaps-and-islands:
    * `grp = idx - row_number()` is constant within a run. The row_number
    * window is partitioned by `partCols` when provided (per-sensor runs);
    * at 100 TB an unpartitioned run over a *filtered* (sparse) set is
    * typically small enough — the filter happens before the window.
    */
  def islands(df: DataFrame, idxCol: String, partCols: Seq[String] = Nil): DataFrame = {
    val w = if (partCols.isEmpty) Window.orderBy(col(idxCol))
            else Window.partitionBy(partCols.map(col): _*).orderBy(col(idxCol))
    val grouped = df.withColumn("_grp", col(idxCol) - row_number().over(w))
    val keys = partCols :+ "_grp"
    grouped.groupBy(keys.map(col): _*)
      .agg(min(col(idxCol)).as("span_start"), (max(col(idxCol)) + 1).as("span_end"))
      .drop("_grp")
  }

  /** W12 at scale — islands without any row-sized window: an island START
    * is an idx whose predecessor (idx−1) is absent — one hash LEFT ANTI
    * self-join; an island END is an idx whose successor is absent. The
    * k-th start pairs with the k-th end, and that rank comes from the
    * two-phase [[rangeBucketedCumSum]] over the (already island-sized,
    * post-filter) boundary sets — so every stage is either a hash join or
    * a bucketed cumsum; nothing sorts the full set in one task. Input idx
    * must be unique (same contract as [[islands]]).
    */
  def islandsScalable(df: DataFrame, idxCol: String): DataFrame = {
    val ids = df.select(col(idxCol).cast("long").as("_i"))
    val starts = ids.join(ids.select((col("_i") + 1).as("_i")), Seq("_i"), "left_anti")
    val ends = ids.join(ids.select((col("_i") - 1).as("_i")), Seq("_i"), "left_anti")
    def ranked(b: DataFrame) =
      rangeBucketedCumSum(b.withColumn("_c", lit(1L)), "_i", Seq("_c"))
    ranked(starts).select(col("_c_cum").as("_rk"), col("_i").as("span_start"))
      .join(ranked(ends).select(col("_c_cum").as("_rk"), (col("_i") + 1).as("span_end")), "_rk")
      .drop("_rk")
  }

  /** W6 at scale — [[rollingMin]] for a single global series via
    * chunk+halo (halo = width−1 trailing rows): the pandas null-head rule
    * holds because a frame is only complete when `width` rows are
    * actually present — chunk 0's head rows see a short frame, every
    * halo-backed row sees a full one. Requires dense idx, like every
    * positional operator here.
    */
  def rollingMinChunked(df: DataFrame, idxCol: String, valueCol: String, width: Int,
                        chunkSize: Long = 100000L, out: String = "rolling_min"): DataFrame = {
    val w = Window.partitionBy(col("_tgt")).orderBy(col(idxCol))
      .rowsBetween(-(width - 1), 0)
    withChunkHalo(df, idxCol, width - 1, chunkSize)
      .withColumn(out, when(count(lit(1)).over(w) === width, min(col(valueCol)).over(w)))
      .filter(col("_tgt") === expr(s"`$idxCol` DIV $chunkSize"))
      .drop("_tgt")
  }

  /** W13 — scalable global cumulative sum: two-phase. Bucket rows by
    * `idx div bucketSize`, cumsum within buckets (parallel windows), then
    * add per-bucket offsets (running sum over the tiny bucket-totals
    * frame, broadcast back). Replaces the single-task global
    * `Window.orderBy` for 100 TB inputs.
    */
  def scalableCumSum(df: DataFrame, idxCol: String, valueCol: String,
                     bucketSize: Long = 1000000L, out: String = "cum"): DataFrame = {
    val bucketed = df.withColumn("_b", expr(s"`$idxCol` DIV $bucketSize"))
    val within = sum(col(valueCol)).over(
      Window.partitionBy(col("_b")).orderBy(col(idxCol))
        .rowsBetween(Window.unboundedPreceding, 0))
    val totals = bucketed.groupBy("_b").agg(sum(col(valueCol)).as("_t"))
    val offsets = totals.withColumn("_off",
      coalesce(sum(col("_t")).over(
        Window.orderBy(col("_b")).rowsBetween(Window.unboundedPreceding, -1)), lit(0.0)))
      .drop("_t")
    bucketed
      .withColumn("_within", within)
      .join(broadcast(offsets), "_b")
      .withColumn(out, col("_within") + col("_off"))
      .drop("_b", "_within", "_off")
  }

  /** W14 — lag-based alignment shift: first `k` values kept, remainder
    * shifted by `k` (`concatenate([x[:k], x[:-k]])`,
    * reference `src/evaluation/visualization.py:67`).
    */
  def lagShift(df: DataFrame, idxCol: String, valueCol: String, k: Int,
               partCols: Seq[String] = Nil, out: String = "shifted"): DataFrame = {
    val w = if (partCols.isEmpty) Window.orderBy(col(idxCol))
            else Window.partitionBy(partCols.map(col): _*).orderBy(col(idxCol))
    df.withColumn(out, coalesce(lag(col(valueCol), k).over(w), col(valueCol)))
  }

  /** The chunk+halo decomposition shared by [[temporalizeChunked]] and
    * [[lagShiftChunked]]: rows are assigned to chunk `idx div chunkSize`,
    * and the last `halo` rows of each chunk are REPLICATED into the next
    * chunk so every row's trailing frame is complete inside its own
    * partition — positional window semantics with no global single-task
    * `Window.orderBy`. Requires the reference's dense 0..n-1 positional
    * idx (which is what every positional operator here assumes anyway).
    * Returns the frame with `_tgt` (the window partition key) attached;
    * callers compute their window partitioned by `_tgt`, then keep owner
    * rows (`_tgt === idx div chunkSize`) and drop `_tgt`.
    */
  private def withChunkHalo(df: DataFrame, idxCol: String, halo: Int,
                            chunkSize: Long): DataFrame = {
    require(chunkSize >= halo, s"chunkSize ($chunkSize) must cover the halo ($halo)")
    val chunk = expr(s"`$idxCol` DIV $chunkSize")
    df.withColumn("_tgt", explode(
      when(col(idxCol) % chunkSize >= chunkSize - halo, array(chunk, chunk + 1))
        .otherwise(array(chunk))))
  }

  /** W4 at scale — [[temporalize]] without the global window: trailing
    * `lookback` values via chunk+halo ([[withChunkHalo]]). Only the
    * `lookback` boundary rows per chunk are duplicated; the window is
    * partitioned by chunk, so parallelism = n/chunkSize.
    */
  def temporalizeChunked(df: DataFrame, idxCol: String, valueCol: String,
                         lookback: Int, chunkSize: Long = 100000L): DataFrame = {
    val w = Window.partitionBy(col("_tgt")).orderBy(col(idxCol))
      .rowsBetween(-lookback, -1)
    withChunkHalo(df, idxCol, lookback, chunkSize)
      .withColumn("history", collect_list(col(valueCol)).over(w))
      .filter(col("_tgt") === expr(s"`$idxCol` DIV $chunkSize") &&
        size(col("history")) === lookback)
      .drop("_tgt")
  }

  /** W14 at scale — [[lagShift]] via the same chunk+halo pattern. */
  def lagShiftChunked(df: DataFrame, idxCol: String, valueCol: String, k: Int,
                      chunkSize: Long = 100000L, out: String = "shifted"): DataFrame = {
    val w = Window.partitionBy(col("_tgt")).orderBy(col(idxCol))
    withChunkHalo(df, idxCol, k, chunkSize)
      .withColumn(out, coalesce(lag(col(valueCol), k).over(w), col(valueCol)))
      .filter(col("_tgt") === expr(s"`$idxCol` DIV $chunkSize"))
      .drop("_tgt")
  }

  /** Ordered conversion funnel over an event stream: for each funnel
    * step, how many keys (users) performed ALL steps so far IN ORDER —
    * each step strictly after the previous one's FIRST qualifying
    * occurrence, and (with `horizon`) within `horizon` time units of
    * it. The classic product-analytics funnel, run per corpus pass.
    *
    * Scale shape: one stage per step — a key-equi join of the step's
    * events against the (shrinking) reached-keys frame, then a
    * map-side-combined `min` per key; the reached frame only loses
    * rows stage over stage, so AQE broadcasts it once attrition sets
    * in, and nothing is ever windowed or sorted globally. The horizon
    * predicate rides the join as a residual condition on the equi
    * join, never a join key.
    *
    * Output: (step: int 1..k, event_type, n_users), one row per step.
    */
  def conversionFunnel(df: DataFrame, userCol: String, tsCol: String,
                       typeCol: String, steps: Seq[String],
                       horizon: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    var reached = df.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("_t"))
    val out = scala.collection.mutable.ArrayBuffer(
      reached.agg(count(lit(1)).as("n_users"))
        .select(lit(1).as("step"), lit(steps.head).as("event_type"), col("n_users")))
    steps.tail.zipWithIndex.foreach { case (st, i) =>
      val within = horizon.map(h => col(tsCol) <= col("_prev") + h).getOrElse(lit(true))
      reached = df.filter(col(typeCol) === st)
        .join(reached.select(col(userCol), col("_t").as("_prev")), Seq(userCol))
        .filter(col(tsCol) > col("_prev") && within)
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("_t"))
      out += reached.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 2).as("step"), lit(st).as("event_type"), col("n_users"))
    }
    out.reduce(_.unionByName(_))
  }

  /** Retention cohort matrix: bucket every key's (user's) activity into
    * `bucket`-second periods, cohort each key by its FIRST active
    * period, and count distinct keys active at each age — the
    * product-analytics retention triangle, with `frac` normalized to
    * the cohort's own size (its age-0 count, which by construction
    * includes every cohort member).
    *
    * Scale shape: a per-key min (map-side combined), a key-equi join
    * back (AQE-managed), a distinct on the compact (key, cohort, age)
    * triple, and a (cohort, age)-keyed count; the normalizing join
    * moves one row per cohort. FLOOR-division bucketing (exact:
    * second-epochs sit far inside a double's 53-bit integer range) —
    * integer `DIV` truncates toward zero, which would both disagree
    * with SQL floor-division oracles for pre-1970 timestamps and make
    * the bucket straddling zero twice as wide as every other.
    *
    * Output: (cohort_start: long — bucket index, age: long, n_users,
    * frac), one row per non-empty cell.
    */
  def retentionCohorts(df: DataFrame, userCol: String, tsSecCol: String,
                       bucket: Long): DataFrame = {
    require(bucket > 0, s"need bucket > 0, got $bucket")
    val e = df.select(col(userCol).as("_u"),
      floor(col(tsSecCol) / bucket.toDouble).cast("long").as("_d"))
    val first = e.groupBy("_u").agg(min(col("_d")).as("_cohort"))
    val active = e.join(first, "_u")
      .select(col("_u"), col("_cohort"), (col("_d") - col("_cohort")).as("age"))
      .distinct()
    val matrix = active.groupBy(col("_cohort").as("cohort_start"), col("age"))
      .agg(count(lit(1)).as("n_users"))
    val base = matrix.filter(col("age") === 0)
      .select(col("cohort_start"), col("n_users").as("_base"))
    matrix.join(broadcast(base), "cohort_start")
      .withColumn("frac", round(col("n_users") / col("_base").cast("double"), 6))
      .drop("_base")
  }

  /** Gap-based sessionization: a new session starts where the time since
    * the previous event exceeds `gap` (first event = session 0). The
    * training-data/event-pipeline op for splitting a stream into episodes.
    *
    * Ungrouped: composes the scale decompositions — chunk+halo lag for
    * the previous timestamp, two-phase bucketed cumsum for the running
    * session id; no global single-task window anywhere, requires the
    * dense positional `idxCol` like every positional operator here.
    * Grouped (per user/sensor): one partitioned window, parallel by key.
    */
  def sessionize(df: DataFrame, idxCol: String, tsCol: String, gap: Long,
                 partCols: Seq[String] = Nil, out: String = "session",
                 chunkSize: Long = 100000L): DataFrame =
    if (partCols.isEmpty) {
      // lagShiftChunked coalesces the head row's prev to its own ts →
      // gap 0 → flag 0 → sessions start at 0
      val flagged = lagShiftChunked(df, idxCol, tsCol, 1, chunkSize, out = "_prev")
        .withColumn("_new", when(col(tsCol) - col("_prev") > gap, 1L).otherwise(0L))
      scalableCumSum(flagged, idxCol, "_new", bucketSize = chunkSize, out = out)
        .withColumn(out, col(out).cast("long"))
        .drop("_prev", "_new")
    } else {
      val w = Window.partitionBy(partCols.map(col): _*).orderBy(col(idxCol))
      df.withColumn("_prev", lag(col(tsCol), 1).over(w))
        .withColumn("_new", when(col(tsCol) - col("_prev") > gap, 1L).otherwise(0L))
        .withColumn(out,
          sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
        .drop("_prev", "_new")
    }

  /** As-of join (backward, inclusive): every left row is joined to the
    * single right row with the greatest `rightTime` <= the left row's
    * `leftTime` — the "latest state at or before this instant" lookup
    * (price marks, calibration readings, latest campaign touch). The
    * matched right time comes back as `asof_ts` and each requested value
    * column as `asof_<name>`; all null when no right row precedes.
    * Right-side times must be unique per group — a duplicate time makes
    * "the" latest row ambiguous (same contract as DuckDB ASOF JOIN,
    * which this operator's oracle uses).
    *
    * Scale shape — never a non-equi join or an all-pairs product, both
    * of which the naive formulation (`l.t >= r.t` + max) produces:
    *  - Grouped (`partCols` non-empty): tag-union both sides and take
    *    the last right-row struct (`ignoreNulls`) over a window
    *    partitioned by the keys, ordered by (time, tag) with right rows
    *    first at a tie (inclusive semantics). Parallelism = #groups —
    *    the idiomatic many-key shape.
    *  - Global (`partCols` empty): the same union range-bucketed over
    *    the broadcast (min, max) time bounds ([[rangeBucketedCumSum]]'s
    *    decomposition): per-bucket windows run in parallel, and each
    *    bucket's carry-in — the latest right row of any EARLIER bucket —
    *    comes from a numBuckets-row ledger whose only unpartitioned
    *    window is ordered by `_b` (the bounded-ledger audit convention).
    *
    * The right-row payload travels as ONE struct, so a right row whose
    * VALUE is legitimately null still wins the as-of match (per-column
    * `last(ignoreNulls)` would skip past it to an older row).
    *
    * Null times follow SQL comparison semantics (= DuckDB ASOF): a
    * right row with a null time can never satisfy `rt <= t` and is
    * dropped up front; a left row with a null time matches nothing and
    * comes back with null `asof_*` columns (nulls order FIRST in the
    * window, before any real right row, in both forms).
    */
  def asofJoin(left: DataFrame, right: DataFrame, leftTime: String,
               rightTime: String, valueCols: Seq[String],
               partCols: Seq[String] = Nil, numBuckets: Int = 1024): DataFrame = {
    val leftCols = left.columns.toSeq
    val lu = left
      .withColumn("_t", col(leftTime).cast("long"))
      .withColumn("_tag", lit(1))
    val luFull = valueCols.foldLeft(lu) { (d, c) =>
      d.withColumn(s"_rv_$c", lit(null).cast(right.schema(c).dataType))
    }
    val ru0 = right.filter(col(rightTime).isNotNull).select(
      partCols.map(col) ++
        Seq(col(rightTime).cast("long").as("_t"), lit(0).as("_tag")) ++
        valueCols.map(c => col(c).as(s"_rv_$c")): _*)
    // align the right rows to the union schema: left-only columns as
    // typed nulls, then positional re-select in the left frame's order
    val ru = leftCols.foldLeft(ru0) { (d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }.select(luFull.columns.map(col): _*)
    val unioned = luFull.union(ru)
    // the whole right-row payload as one nullable struct (null on left rows)
    val rstruct = when(col("_tag") === 0,
      struct(col("_t").as("ts") +: valueCols.map(c => col(s"_rv_$c").as(c)): _*))
    def finish(d: DataFrame, m: Column): DataFrame =
      d.filter(col("_tag") === 1).select(
        leftCols.map(col) ++ (m.getField("ts").as("asof_ts") +:
          valueCols.map(c => m.getField(c).as(s"asof_$c"))): _*)
    if (partCols.nonEmpty) {
      val w = Window.partitionBy(partCols.map(col): _*)
        .orderBy(col("_t"), col("_tag"))
        .rowsBetween(Window.unboundedPreceding, 0)
      finish(unioned.withColumn("_m", last(rstruct, ignoreNulls = true).over(w)),
        col("_m"))
    } else {
      val t = col("_t").cast("double")
      val bounds = broadcast(unioned.agg(min(t).as("_lo"), max(t).as("_hi")))
      val rawB = floor((t - col("_lo")) / (col("_hi") - col("_lo")) * numBuckets)
      // null-time left rows route to bucket 0 EXPLICITLY (least() would
      // skip the null rawB and park them in the LAST bucket, where the
      // carry ledger fabricates a match); in bucket 0 they sort
      // nulls-first with no carry-in, so they match nothing
      val bucketed = unioned.crossJoin(bounds)
        .withColumn("_b", when(col("_t").isNull || col("_hi") === col("_lo"), lit(0L))
          .otherwise(least(rawB, lit(numBuckets - 1.0))).cast("long"))
        .drop("_lo", "_hi")
      val wLocal = Window.partitionBy(col("_b")).orderBy(col("_t"), col("_tag"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val local = bucketed.withColumn("_m", last(rstruct, ignoreNulls = true).over(wLocal))
      // ledger: every possible bucket (a free numBuckets-row range — no
      // distinct pass over the data), left-joined with its last right
      // row; the carry-in is the latest right row over all EARLIER
      // buckets (bounded numBuckets-row window, ordered by _b)
      val perBucket = bucketed.filter(col("_tag") === 0)
        .groupBy("_b").agg(max_by(rstruct, col("_t")).as("_lastr"))
      val wCarry = Window.orderBy(col("_b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ledger = left.sparkSession.range(numBuckets.toLong)
        .select(col("id").as("_b"))
        .join(perBucket, Seq("_b"), "left")
        .withColumn("_carry", last(col("_lastr"), ignoreNulls = true).over(wCarry))
        .select("_b", "_carry")
      finish(local.join(broadcast(ledger), "_b"),
        coalesce(col("_m"), col("_carry")))
    }
  }

  /** Interval (point-in-range) join: each left row pairs with every
    * interval `[startCol, endCol)` containing its `timeCol` — outage
    * attribution, maintenance-window labeling, ad-break overlap. Spark
    * would plan the naive `t >= start AND t < end` as a nested-loop
    * join (all pairs); this runs it as an EQUI join on a derived time
    * bucket: intervals explode to the `len/bucketWidth + 1` buckets
    * they cover, left rows hash-join their single bucket, and the exact
    * containment predicate filters the bucket-collisions away. Pick
    * `bucketWidth` near the typical interval length — amplification is
    * interval-rows × (len/width + 1), and a too-small width explodes
    * long intervals while a too-large one makes every bucket a
    * mini-cross-product.
    *
    * Inner join; empty intervals (`end <= start`) match nothing and are
    * dropped up front (also keeps `sequence()` ascending). Column names
    * must be disjoint between the two frames (same contract as Spark's
    * own `join(df, usingColumns)`).
    */
  def intervalJoin(left: DataFrame, intervals: DataFrame, timeCol: String,
                   startCol: String, endCol: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val lb = left.withColumn("_b", floor(col(timeCol) / bucketWidth).cast("long"))
    val ib = intervals.filter(col(endCol) > col(startCol))
      .withColumn("_b", explode(sequence(
        floor(col(startCol) / bucketWidth).cast("long"),
        floor((col(endCol) - 1) / bucketWidth).cast("long"))))
    lb.join(ib, Seq("_b"))
      .filter(col(timeCol) >= col(startCol) && col(timeCol) < col(endCol))
      .drop("_b")
  }

  /** Two-phase cumulative sums over a DOUBLE ordering key (no dense
    * integer index to `DIV` on — the [[scalableCumSum]] situation for
    * score-ordered sweeps like ROC). Keys are ranged into `numBuckets`
    * equal-width buckets between the broadcast (min, max) — a 1-row lazy
    * aggregate, no driver action; partial cumsums run per-bucket in
    * parallel; the bucket offsets are one fold over the numBuckets-row
    * totals ledger, with no unpartitioned window. Input must be
    * key-distinct (aggregate by key first) so within-bucket ordering is
    * total. Appends `<c>_cum` (inclusive of the current row) per
    * requested column.
    */
  def rangeBucketedCumSum(byKey: DataFrame, keyCol: String, sumCols: Seq[String],
                          numBuckets: Int = 1024, descending: Boolean = false): DataFrame = {
    val k = col(keyCol).cast("double")
    val bounds = broadcast(byKey.agg(min(k).as("_lo"), max(k).as("_hi")))
    val rawB = floor((k - col("_lo")) / (col("_hi") - col("_lo")) * numBuckets)
    val bucketed = byKey.crossJoin(bounds)
      .withColumn("_b", when(col("_hi") === col("_lo"), lit(0L))
        .otherwise(least(rawB, lit(numBuckets - 1L))).cast("long"))
      .drop("_lo", "_hi")
    val keyOrd = if (descending) col(keyCol).desc else col(keyCol).asc
    val wLocal = Window.partitionBy(col("_b")).orderBy(keyOrd)
      .rowsBetween(Window.unboundedPreceding, 0)
    val totalAggs = sumCols.map(c => sum(col(c)).as(s"_t_$c"))
    val totals = bucketed.groupBy("_b").agg(totalAggs.head, totalAggs.tail: _*)
    // Offsets ledger: exclusive prefix sums of the ≤ numBuckets totals.
    // The totals are collected into one array sorted by bucket (a 1-row
    // aggregate, not an unpartitioned window), folded once, and exploded
    // back to one row per bucket.
    val types = sumCols.map(c => totals.schema(s"_t_$c").dataType)
    val runs = sumCols.map(c => s"_r_$c")
    val ledger = totals.agg(sort_array(collect_list(
      struct(col("_b") +: sumCols.map(c => col(s"_t_$c")): _*)), asc = !descending).as("_l"))
    val entry = StructType(StructField("_b", LongType) +:
      sumCols.zip(types).map { case (c, t) => StructField(s"_off_$c", t) })
    val zero = struct(runs.zip(types).map { case (r, t) => lit(0).cast(t).as(r) } :+
      array().cast(ArrayType(entry)).as("_out"): _*)
    def step(acc: Column, x: Column): Column = {
      val sums = sumCols.zip(runs).zip(types).map { case ((c, r), t) =>
        (acc(r) + coalesce(x(s"_t_$c"), lit(0))).cast(t).as(r)
      }
      val out = struct(x("_b").as("_b") +:
        sumCols.zip(runs).map { case (c, r) => acc(r).as(s"_off_$c") }: _*)
      struct(sums :+ concat(acc("_out"), array(out)).as("_out"): _*)
    }
    val offsets = ledger
      .select(explode(aggregate(col("_l"), zero, step, _("_out"))).as("_e"))
      .select("_e.*")
    val withLocal = sumCols.foldLeft(bucketed) { (d2, c) =>
      d2.withColumn(s"_loc_$c", sum(col(c)).over(wLocal))
    }
    val joined = withLocal.join(broadcast(offsets), "_b")
    sumCols.foldLeft(joined) { (d2, c) =>
      d2.withColumn(s"${c}_cum", col(s"_loc_$c") + col(s"_off_$c"))
    }.drop("_b" +: sumCols.flatMap(c => Seq(s"_loc_$c", s"_off_$c")): _*)
  }
}
