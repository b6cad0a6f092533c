package graft.window

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/** Sequence / window operators (SURVEY.md §2.5 W1–W14) — the heart of the
  * reference's dataflow (windowing for the autoencoder, rolling thresholds,
  * anomaly-start detection).
  *
  * Scale design: positional windows are computed with SHUFFLE-based
  * grouping on arithmetically-derived keys (window id = idx div step),
  * never with an unpartitioned window (one task holding every row). Each
  * order-dependent operator runs one of two branches, chosen by
  * `partCols`:
  *  - grouped (per bearing / sensor / user / document): one window
  *    partitioned by the keys, parallel by key;
  *  - ungrouped (one global series): one scale decomposition per job.
  *    Trailing frames ([[temporalize]], [[lagShift]], [[rollingMin]],
  *    [[rollingMean]]) use chunk+halo ([[trailing]]) and need the dense
  *    0-based idx of `Indexing.withOrderedIdx`; running totals use the
  *    two-phase [[rangeBucketedCumSum]] (per-bucket partials plus one
  *    fold over the bucket totals); [[islands]] uses anti-joins plus
  *    that bucketed rank; the global [[asofJoin]] shares its bucket rule
  *    and fold.
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

  /** W4 — temporalize: per row, the trailing `lookback` values (step 1);
    * rows with fewer than `lookback` predecessors are dropped. The
    * reference gathers rows i+2..i+lookback+1 (documented off-by-one,
    * `src/training/baseline.py:121-129`) — we implement the intended
    * trailing [i-lookback, i-1] frame. Grouped: a frame partitioned by
    * `partCols`. Ungrouped: chunk+halo over chunks of `chunkSize` rows
    * ([[trailing]]), which needs the dense 0-based idx.
    */
  def temporalize(df: DataFrame, idxCol: String, valueCol: String, lookback: Int,
                  partCols: Seq[String] = Nil, chunkSize: Long = 100000L): DataFrame =
    trailing(df, idxCol, partCols, lookback, chunkSize) { (d, w) =>
      d.withColumn("history", collect_list(col(valueCol)).over(w.rowsBetween(-lookback, -1)))
        .filter(size(col("history")) === lookback)
    }

  /** W6 — rolling min, pandas semantics: null until the frame is full
    * (first w-1 rows of each group, or of the series). Grouped or
    * chunk+halo like [[temporalize]].
    */
  def rollingMin(df: DataFrame, idxCol: String, valueCol: String, width: Int,
                 partCols: Seq[String] = Nil, out: String = "rolling_min",
                 chunkSize: Long = 100000L): DataFrame =
    rolling(df, idxCol, valueCol, width, partCols, out, chunkSize, min)

  /** W7 — rolling mean, same null-head semantics and branches. */
  def rollingMean(df: DataFrame, idxCol: String, valueCol: String, width: Int,
                  partCols: Seq[String] = Nil, out: String = "rolling_mean",
                  chunkSize: Long = 100000L): DataFrame =
    rolling(df, idxCol, valueCol, width, partCols, out, chunkSize, avg)

  private def rolling(df: DataFrame, idxCol: String, valueCol: String, width: Int,
                      partCols: Seq[String], out: String, chunkSize: Long,
                      f: Column => Column): DataFrame =
    // in a chunk+halo partition the halo rows come first, so an owner
    // row's row_number reaches `width` exactly when its frame is full
    trailing(df, idxCol, partCols, width - 1, chunkSize) { (d, w) =>
      d.withColumn("_rn", row_number().over(w))
        .withColumn(out, when(col("_rn") >= width,
          f(col(valueCol)).over(w.rowsBetween(-(width - 1), 0))))
        .drop("_rn")
    }

  /** One trailing-frame job over `idxCol` order. Grouped (`partCols`
    * non-empty): `body` runs over a window partitioned by the keys.
    * Ungrouped: chunk+halo — rows are assigned to chunk `idx div
    * chunkSize`, and the last `halo` rows of each chunk are REPLICATED
    * into the next chunk, so every row's trailing frame is complete
    * inside its own partition; `body` runs over a window partitioned by
    * that chunk, and only each chunk's own rows are kept. Parallelism is
    * n/chunkSize and only boundary rows are duplicated, but the ungrouped
    * branch requires the dense 0-based idx of `Indexing.withOrderedIdx`:
    * a gap would leave a chunk head without its halo rows.
    */
  private def trailing(df: DataFrame, idxCol: String, partCols: Seq[String], halo: Int,
                       chunkSize: Long)(body: (DataFrame, WindowSpec) => DataFrame): DataFrame =
    if (partCols.nonEmpty) {
      body(df, Window.partitionBy(partCols.map(col): _*).orderBy(col(idxCol)))
    } else {
      require(chunkSize >= halo, s"chunkSize ($chunkSize) must cover the halo ($halo)")
      val chunk = expr(s"`$idxCol` DIV $chunkSize")
      val haloed = df.withColumn("_tgt", explode(
        when(col(idxCol) % chunkSize >= chunkSize - halo, array(chunk, chunk + 1))
          .otherwise(array(chunk))))
      body(haloed, Window.partitionBy(col("_tgt")).orderBy(col(idxCol)))
        .filter(col("_tgt") === chunk)
        .drop("_tgt")
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

  /** W12 — adjacent-index islands → [start, end+1) spans. Input idx must
    * be unique per group; it may be sparse (the usual input is a filtered
    * series).
    *  - Grouped (`partCols`, e.g. per document): gaps-and-islands,
    *    `grp = idx - row_number()` is constant within a run, over a window
    *    partitioned by the keys.
    *  - Ungrouped: no row-sized window. An island START is an idx whose
    *    predecessor (idx−1) is absent — one hash LEFT ANTI self-join — and
    *    an island END is an idx whose successor is absent. The k-th start
    *    pairs with the k-th end, and that rank comes from the two-phase
    *    [[rangeBucketedCumSum]] over the boundary sets. Spans are longs.
    */
  def islands(df: DataFrame, idxCol: String, partCols: Seq[String] = Nil): DataFrame =
    if (partCols.nonEmpty) {
      val w = Window.partitionBy(partCols.map(col): _*).orderBy(col(idxCol))
      val grouped = df.withColumn("_grp", col(idxCol) - row_number().over(w))
      val keys = partCols :+ "_grp"
      grouped.groupBy(keys.map(col): _*)
        .agg(min(col(idxCol)).as("span_start"), (max(col(idxCol)) + 1).as("span_end"))
        .drop("_grp")
    } else {
      val ids = df.select(col(idxCol).cast("long").as("_i"))
      val starts = ids.join(ids.select((col("_i") + 1).as("_i")), Seq("_i"), "left_anti")
      val ends = ids.join(ids.select((col("_i") - 1).as("_i")), Seq("_i"), "left_anti")
      def ranked(b: DataFrame) =
        rangeBucketedCumSum(b.withColumn("_c", lit(1L)), Seq("_i"), Seq("_c"))
      ranked(starts).select(col("_c_cum").as("_rk"), col("_i").as("span_start"))
        .join(ranked(ends).select(col("_c_cum").as("_rk"), (col("_i") + 1).as("span_end")), "_rk")
        .drop("_rk")
    }

  /** W14 — lag-based alignment shift: first `k` values kept, remainder
    * shifted by `k` (`concatenate([x[:k], x[:-k]])`,
    * reference `src/evaluation/visualization.py:67`). Grouped or
    * chunk+halo like [[temporalize]].
    */
  def lagShift(df: DataFrame, idxCol: String, valueCol: String, k: Int,
               partCols: Seq[String] = Nil, out: String = "shifted",
               chunkSize: Long = 100000L): DataFrame =
    trailing(df, idxCol, partCols, k, chunkSize) { (d, w) =>
      d.withColumn(out, coalesce(lag(col(valueCol), k).over(w), col(valueCol)))
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
    * Ungrouped: composes the scale decompositions — the chunk+halo
    * [[lagShift]] for the previous timestamp and the two-phase
    * [[rangeBucketedCumSum]] for the running session id; no unpartitioned
    * window anywhere, and like every chunk+halo operator it needs the
    * dense 0-based `idxCol`. Grouped (per user/sensor): one partitioned
    * window, parallel by key.
    */
  def sessionize(df: DataFrame, idxCol: String, tsCol: String, gap: Long,
                 partCols: Seq[String] = Nil, out: String = "session",
                 chunkSize: Long = 100000L): DataFrame =
    if (partCols.isEmpty) {
      // lagShift coalesces the head row's prev to its own ts →
      // gap 0 → flag 0 → sessions start at 0
      val flagged = lagShift(df, idxCol, tsCol, 1, out = "_prev", chunkSize = chunkSize)
        .withColumn("_new", when(col(tsCol) - col("_prev") > gap, 1L).otherwise(0L))
      rangeBucketedCumSum(flagged, Seq(idxCol), Seq("_new"))
        .withColumn(out, col("_new_cum"))
        .drop("_prev", "_new", "_new_cum")
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
    *    the broadcast (min, max) time bounds (the bucket rule of
    *    [[rangeBucketedCumSum]]): per-bucket windows run in parallel, and
    *    each bucket's carry-in — the latest right row of any EARLIER
    *    bucket — is one fold over the sorted per-bucket last right rows,
    *    as [[rangeBucketedCumSum]] computes its offsets.
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
      // null-time left rows route to bucket 0, where they sort nulls-first
      // with no carry-in, so they match nothing
      val bucketed = withRangeBucket(unioned, col("_t"), numBuckets, ifNull = lit(0L))
      val wLocal = Window.partitionBy(col("_b")).orderBy(col("_t"), col("_tag"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val local = bucketed.withColumn("_m", last(rstruct, ignoreNulls = true).over(wLocal))
      // one row per non-empty bucket with its last right row (null when
      // it has none: max_by skips the left rows' null ordering)
      val perBucket = bucketed.groupBy("_b")
        .agg(max_by(rstruct, when(col("_tag") === 0, col("_t"))).as("_lastr"))
      val carry = bucketScan(perBucket, Nil, Seq("_lastr"), descending = false, lit(null))(
        (acc, x) => coalesce(x, acc))
      finish(local.join(broadcast(carry), "_b"),
        coalesce(col("_m"), col("_pre__lastr")))
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

  /** Two-phase running totals — the one cumulative sum of this package,
    * for any numeric order key, dense or not (idx, event id, ROC score,
    * hash). Rows go to `numBuckets` equal-width range buckets of the first
    * order column between its broadcast (min, max) — a 1-row lazy
    * aggregate, no driver action. Per-(group, bucket) partial sums run in
    * parallel, ordered by all `orderCols` (later columns break ties);
    * each bucket's offset is one fold over the group's sorted bucket
    * totals (a per-group aggregate, no unpartitioned window). Appends
    * `<c>_cum`, inclusive of the current row, per requested column.
    *
    * With `partCols`, totals run per group (null-safe: a null key is a
    * group like any other). `descending` reverses every order column.
    * The order must be total within a group, or tied rows get an
    * arbitrary split of their sum. A null in the first order column has
    * no bucket and raises an error naming the column.
    */
  def rangeBucketedCumSum(df: DataFrame, orderCols: Seq[String], sumCols: Seq[String],
                          numBuckets: Int = 1024, descending: Boolean = false,
                          partCols: Seq[String] = Nil): DataFrame = {
    val key = orderCols.head
    val bucketed = withRangeBucket(df, col(key), numBuckets,
      ifNull = raise_error(lit(s"rangeBucketedCumSum: null in order column `$key`")))
    val local = (partCols :+ "_b").map(col)
    val wLocal = Window.partitionBy(local: _*)
      .orderBy(orderCols.map(c => if (descending) col(c).desc else col(c).asc): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val totalAggs = sumCols.map(c => sum(col(c)).as(s"_t_$c"))
    val totals = bucketed.groupBy(local: _*).agg(totalAggs.head, totalAggs.tail: _*)
    val offsets = bucketScan(totals, partCols, sumCols.map(c => s"_t_$c"), descending, lit(0))(
        (acc, x) => acc + coalesce(x, lit(0)))
      .select(partCols.indices.map(i => col(partCols(i)).as(s"_k$i")) ++
        (col("_b").as("_ob") +: sumCols.map(c => col(s"_pre__t_$c").as(s"_off_$c"))): _*)
    val on = partCols.indices.foldLeft(col("_b") === col("_ob")) { (on, i) =>
      on && (col(partCols(i)) <=> col(s"_k$i"))
    }
    val withLocal = sumCols.foldLeft(bucketed) { (d2, c) =>
      d2.withColumn(s"_loc_$c", sum(col(c)).over(wLocal))
    }
    sumCols.foldLeft(withLocal.join(broadcast(offsets), on)) { (d2, c) =>
      d2.withColumn(s"${c}_cum", col(s"_loc_$c") + col(s"_off_$c"))
    }.drop(Seq("_b", "_ob") ++ partCols.indices.map(i => s"_k$i") ++
      sumCols.flatMap(c => Seq(s"_loc_$c", s"_off_$c")): _*)
  }

  /** The range-bucket rule of [[rangeBucketedCumSum]] and [[asofJoin]]:
    * `_b` in [0, numBuckets) from where `key` falls between its
    * broadcast (min, max) over `df`; every row in bucket 0 when all keys
    * are equal. A null key gets `ifNull` (`least` would skip it and
    * park the row in the last bucket).
    */
  private def withRangeBucket(df: DataFrame, key: Column, numBuckets: Int,
                              ifNull: Column): DataFrame = {
    val k = key.cast("double")
    val bounds = broadcast(df.agg(min(k).as("_lo"), max(k).as("_hi")))
    val rawB = floor((k - col("_lo")) / (col("_hi") - col("_lo")) * numBuckets)
    df.crossJoin(bounds)
      .withColumn("_b", when(k.isNull, ifNull).when(col("_hi") === col("_lo"), lit(0L))
        .otherwise(least(rawB, lit(numBuckets - 1L))).cast("long"))
      .drop("_lo", "_hi")
  }

  /** Exclusive scan over per-bucket rows (one per `keys` × `_b`): each
    * group's rows are collected into one array sorted by `_b`, folded
    * once with `step` from `zero`, and exploded back to one row per
    * (keys, `_b`) whose `_pre_<c>` folds every EARLIER bucket's `c`.
    * Quadratic in the bucket count (each step appends to the output
    * array), which is bounded by `numBuckets`.
    */
  private def bucketScan(perBucket: DataFrame, keys: Seq[String], cols: Seq[String],
                         descending: Boolean, zero: Column)
                        (step: (Column, Column) => Column): DataFrame = {
    val types = cols.map(c => perBucket.schema(c).dataType)
    val entry = StructType(StructField("_b", LongType) +:
      cols.zip(types).map { case (c, t) => StructField(s"_pre_$c", t) })
    val init = struct(cols.zip(types).map { case (c, t) => zero.cast(t).as(c) } :+
      array().cast(ArrayType(entry)).as("_out"): _*)
    def fold(acc: Column, x: Column): Column = struct(
      cols.zip(types).map { case (c, t) => step(acc(c), x(c)).cast(t).as(c) } :+
        concat(acc("_out"), array(struct(x("_b").as("_b") +:
          cols.map(c => acc(c).as(s"_pre_$c")): _*))).as("_out"): _*)
    perBucket.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("_b") +: cols.map(col): _*)), asc = !descending)
        .as("_l"))
      .select(keys.map(col) :+ explode(aggregate(col("_l"), init, fold, _("_out"))).as("_e"): _*)
      .select(keys.map(col) :+ col("_e.*"): _*)
  }
}
