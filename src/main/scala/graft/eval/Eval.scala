package graft.eval

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Evaluation operators (SURVEY.md §2.4 A4–A8, §2.7 J1–J5, §2.5 W9):
  * thresholding, confusion matrices, F1, AUC.
  *
  * The reference computes these with NumPy set algebra over index arrays
  * (`src/util/calculations.py`); here they are keyed aggregations and
  * semi/anti joins — every one shuffle-parallel, nothing collected to the
  * driver except final scalar rows.
  */
object Eval {

  /** A4 — `μ + k·σ` anomaly threshold per group, fit on a validation
    * slice (reference: first 10% of periods, `μ + 4σ`,
    * `src/evaluation/visualization.py:79-81`). `stddev_samp` matches
    * pandas ddof=1. One shuffle (the groupBy).
    */
  def threshold(validation: DataFrame, valueCol: String, k: Double,
                groupCols: Seq[String]): DataFrame =
    validation.groupBy(groupCols.map(col): _*)
      .agg((avg(col(valueCol)) + lit(k) * stddev_samp(col(valueCol))).as("threshold"))

  /** A6/J1–J4 — confusion-matrix counts from predicted and labeled index
    * sets over a universe of `n` indexes. Implemented with the join algebra
    * of the reference's set ops: TP = semi, FP/FN = anti, TN = arithmetic
    * complement (cheaper than materializing `range(n).except(...)`).
    */
  def confusion(pred: DataFrame, label: DataFrame, idxCol: String, n: Long): DataFrame =
    confusionCounts(pred, label, idxCol)
      .select(col("tp"), col("fp"), col("fn"),
        (lit(n) - col("tp") - col("fp") - col("fn")).as("tn"))

  /** [[confusion]] with the universe size derived lazily from a frame —
    * the 1-row count aggregate joins into the final select, so no driver
    * `.count()` action blocks plan construction.
    */
  def confusion(pred: DataFrame, label: DataFrame, idxCol: String,
                universe: DataFrame): DataFrame =
    confusionCounts(pred, label, idxCol)
      .crossJoin(broadcast(universe.agg(count(lit(1)).as("_n"))))
      .select(col("tp"), col("fp"), col("fn"),
        (col("_n") - col("tp") - col("fp") - col("fn")).as("tn"))

  private def confusionCounts(pred: DataFrame, label: DataFrame,
                              idxCol: String): DataFrame = {
    // One full-outer join + one conditional aggregate: a single job that
    // scans each side once (the semi/anti formulation scanned both twice
    // across three actions). SET semantics, like the reference's Python
    // sets (`src/util/calculations.py:68-71`): duplicate indexes count once.
    val p = pred.select(col(idxCol)).distinct().withColumn("_p", lit(1))
    val l = label.select(col(idxCol)).distinct().withColumn("_l", lit(1))
    p.join(l, Seq(idxCol), "full_outer")
      .agg(
        sum(when(col("_p").isNotNull && col("_l").isNotNull, 1L).otherwise(0L)).as("tp"),
        sum(when(col("_p").isNotNull && col("_l").isNull, 1L).otherwise(0L)).as("fp"),
        sum(when(col("_p").isNull && col("_l").isNotNull, 1L).otherwise(0L)).as("fn"))
  }

  /** J4 — universe complement: ids of `universe` appearing in none of the
    * `excludes` sets (reference `src/util/calculations.py:71`, TN set =
    * `set(range(n)) - pred - label`). Chained LEFT ANTI hash joins: one
    * scan of the universe, no `range(n)` materialization, none of
    * `except`'s distinct+shuffle over the full universe, no driver-side
    * count action. Small exclude sets broadcast (AQE); large ones
    * shuffle on the key — both scale-safe.
    */
  def universeComplement(universe: DataFrame, idxCol: String,
                         excludes: Seq[DataFrame]): DataFrame =
    excludes.foldLeft(universe.select(col(idxCol))) { (u, ex) =>
      u.join(ex.select(col(idxCol)), Seq(idxCol), "left_anti")
    }

  /** A7 — precision / recall / F1 with the reference's zero-guards
    * (`src/util/calculations.py:76-83`). Single-pass conditional
    * aggregation — one shuffle-free scan when pred/label are columns.
    */
  def f1Score(df: DataFrame, predCol: Column, labelCol: Column): DataFrame = {
    val agged = df.agg(
      sum(when(predCol && labelCol, 1L).otherwise(0L)).as("tp"),
      sum(when(predCol && !labelCol, 1L).otherwise(0L)).as("fp"),
      sum(when(!predCol && labelCol, 1L).otherwise(0L)).as("fn"),
      sum(when(!predCol && !labelCol, 1L).otherwise(0L)).as("tn"))
    agged
      .withColumn("precision",
        when(col("tp") + col("fp") === 0, 0.0).otherwise(col("tp") / (col("tp") + col("fp"))))
      .withColumn("recall",
        when(col("tp") + col("fn") === 0, 0.0).otherwise(col("tp") / (col("tp") + col("fn"))))
      .withColumn("f1",
        when(col("precision") + col("recall") === 0, 0.0)
          .otherwise(lit(2) * col("precision") * col("recall") / (col("precision") + col("recall"))))
  }

  /** A8 — ROC AUC via the Mann-Whitney rank statistic with average ranks
    * for ties: AUC = (Σ ranks(positives) − P(P+1)/2) / (P·N). Exactly
    * equal to the trapezoid over the full threshold sweep the reference
    * runs in O(n²) (`src/util/calculations.py:111-157`).
    *
    * Scale shape: ranks depend only on the score VALUE, so rows first
    * collapse to per-score (count, positives) — one hash shuffle — and the
    * tie-averaged rank of score s is `(#rows below s) + (count(s)+1)/2`,
    * where the running count comes from the two-phase
    * [[graft.window.Windows.rangeBucketedCumSum]]: per-bucket partial
    * cumsums in parallel + one fold over the bucket totals. No
    * unpartitioned window. A null score has no rank and raises an error.
    */
  def aucRoc(df: DataFrame, scoreCol: Column, labelCol: Column,
             numBuckets: Int = 1024): DataFrame = {
    val byScore = df.select(scoreCol.as("_s"), labelCol.cast("boolean").as("_y"))
      .groupBy("_s")
      .agg(count(lit(1)).as("_c"), sum(when(col("_y"), 1L).otherwise(0L)).as("_pc"))
    val cum = graft.window.Windows.rangeBucketedCumSum(byScore, Seq("_s"), Seq("_c"), numBuckets)
    val ranked = cum.withColumn("_rk",
      col("_c_cum") - col("_c") + (col("_c") + 1) / 2.0)
    ranked.agg(
      sum(col("_pc") * col("_rk")).as("_rsum"),
      sum(col("_pc")).as("_p"),
      sum(col("_c") - col("_pc")).as("_n")
    ).select(
      ((col("_rsum") - col("_p") * (col("_p") + 1) / 2.0) / (col("_p") * col("_n"))).as("auc"))
  }

  /** §3.3 — the reference's core evaluation query, end-to-end on a
    * per-period MSE series: validation slice = first `validationFrac` of
    * periods → threshold `μ + k·σ` → rolling-min(w) smoothing (pandas
    * null-head) → first period whose smoothed MSE exceeds the threshold
    * (0 sentinel when none). Reference:
    * `src/evaluation/visualization.py:58-94`.
    *
    * Input is period-granularity (already ~1000× reduced from raw
    * samples). Ungrouped, the unpartitioned rolling window is
    * driver-thread tiny even at 100 TB of raw input and the threshold is
    * a 1-row broadcast. Grouped, everything is one window pass over
    * `partitionBy(groupCols)`: one shuffle on the keys, no broadcast, no
    * join.
    */
  def anomalyStart(mse: DataFrame, periodCol: String, mseCol: String,
                   validationFrac: Double = 0.1, k: Double = 4.0,
                   rollingWidth: Int = 3, groupCols: Seq[String] = Nil): DataFrame = {
    // The reference slices and smooths POSITIONALLY (first 10% of rows,
    // rolling over w preceding rows) — on arrays, position and period id
    // coincide. Here the period column may be sparse (filtered series,
    // empty periods), so a dense 0..n-1 position is derived first; the
    // validation slice runs on it and the rolling min on a rows frame (or,
    // ungrouped, on chunks of it); the reported anomaly_start stays the
    // original period value.
    val exceeded = coalesce(min(when(col("_rmin") > col("_thr"), col(periodCol))), lit(0L))
      .as("anomaly_start")
    if (groupCols.nonEmpty) {
      // Per-group position, size, rolling min and threshold over windows
      // partitioned by the keys (the rolling min's window orders by the
      // period like `_pos`'s, so it adds no exchange or sort); the final
      // groupBy reuses that partitioning. A group whose validation slice
      // is empty (fewer than 1/validationFrac periods) still appears, with
      // a null threshold and the 0 sentinel (the reference yields NaN + no
      // alarm).
      val keys = groupCols.map(col)
      val group = Window.partitionBy(keys: _*)
      val inValidation = when(col("_pos") < floor(col("_np") * validationFrac), col(mseCol))
      val positioned = mse.withColumn("_pos", row_number().over(group.orderBy(col(periodCol))) - 1)
      graft.window.Windows.rollingMin(positioned, periodCol, mseCol, rollingWidth, groupCols,
          out = "_rmin")
        .withColumn("_np", count(lit(1)).over(group))
        .withColumn("_thr",
          avg(inValidation).over(group) + lit(k) * stddev_samp(inValidation).over(group))
        .groupBy(keys: _*)
        .agg(first(col("_thr")).as("threshold"), exceeded)
    } else {
      // Two-phase bucketed rank (scale-safe, no global window) + chunk+halo
      // rolling min, which REQUIRES the dense index — chunk heads of a
      // sparse series would lack halo rows and silently null the min.
      val positioned = graft.window.Windows.rangeBucketedCumSum(
          mse.withColumn("_one", lit(1L)), Seq(periodCol), Seq("_one"))
        .withColumn("_pos", (col("_one_cum") - 1).cast("long"))
        .drop("_one", "_one_cum")
      val np = positioned.agg(count(lit(1)).as("_np"))
      val validation = positioned.crossJoin(broadcast(np))
        .filter(col("_pos") < floor(col("_np") * validationFrac))
      val thr = validation.agg((avg(col(mseCol)) + lit(k) * stddev_samp(col(mseCol))).as("_thr"))
      val smoothed = graft.window.Windows.rollingMin(positioned, "_pos", mseCol,
        rollingWidth, out = "_rmin")
      smoothed.crossJoin(broadcast(thr)).agg(first(col("_thr")).as("threshold"), exceeded)
    }
  }

  /** J5 — fractional label ranges → index set: `[a, b)` fractions of `n`
    * expand to concrete indexes (reference `src/util/calculations.py:62-66`).
    */
  def rangesToIndexes(df: DataFrame, startFracCol: Column, endFracCol: Column, n: Long): DataFrame =
    rangesToIndexes(df, startFracCol, endFracCol, lit(n))

  /** [[rangesToIndexes]] with `n` as a column — callers cross-join a
    * broadcast 1-row count aggregate instead of running a driver-side
    * `.count()` action to obtain the universe size.
    */
  def rangesToIndexes(df: DataFrame, startFracCol: Column, endFracCol: Column, n: Column): DataFrame = {
    val startIdx = floor(startFracCol * n).cast("long")
    val endIdx = floor(endFracCol * n).cast("long") - 1
    // Python range(a, b) is EMPTY when b <= a; Spark sequence would count
    // DOWN (default step -1), emitting spurious indexes for sub-1/n ranges.
    df.select(explode(when(endIdx >= startIdx, sequence(startIdx, endIdx))
      .otherwise(array().cast("array<long>"))).as("idx"))
  }
}
