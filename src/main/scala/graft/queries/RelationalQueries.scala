package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.eval.Eval
import graft.prep.Prep

/** One registry entry: the Spark query, and (when SQL-expressible) the
  * DuckDB oracle producing identical columns/rows. Every oracle-checked
  * query ends in a deterministic total ORDER BY, aliases every computed
  * column identically on both sides, and rounds floating aggregates so
  * summation-order differences can't flip the hash.
  */
final case class Q(name: String,
                   fn: (SparkSession, String) => DataFrame,
                   oracle: Option[String])

/** Scans, projections, filters, scalar functions, sorts, aggregations
  * (SURVEY.md §2.1 S*, §2.2 P*, §2.3 O*, §2.4 A*), demonstrated on the
  * driver's TPC-H-ish tables.
  */
object RelationalQueries {

  private def ev(s: SparkSession, d: String) = Tables.events(s, d)

  val all: Seq[Q] = Seq(

    // S3/P1 — column-pruned scan: projection reaches the parquet reader
    // (ReadSchema shows only these columns).
    Q("s3_pruned_scan",
      (s, d) => Tables.part(s, d)
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy("p_partkey"),
      Some("SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey")),

    Q("p1_projection",
      (s, d) => Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, c_name, c_mktsegment FROM customer ORDER BY c_custkey")),

    // P2 — embedded key-value extraction from a tag/props string.
    Q("p2_string_extract",
      (s, d) => ev(s, d)
        .select(col("event_id"),
          regexp_extract(col("props"), "([0-9]+)", 1).cast("long").as("k"))
        .orderBy("event_id"),
      Some("SELECT event_id, CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS k " +
        "FROM events ORDER BY event_id")),

    // P3 — drop sub-second/decimal suffix at the first '.'.
    Q("p3_drop_subseconds",
      (s, d) => ev(s, d)
        .select(col("event_id"),
          Prep.dropSubseconds(col("value").cast("string")).as("int_part"))
        .orderBy("event_id"),
      Some("SELECT event_id, split_part(CAST(value AS VARCHAR), '.', 1) AS int_part " +
        "FROM events ORDER BY event_id")),

    // P4 — multi-format timestamp parse with fallback.
    Q("p4_ts_parse_multi",
      (s, d) => {
        val withS = ev(s, d).withColumn("_ts", timestamp_micros(col("ts_micro")))
          .withColumn("_s",
            when(pmod(col("event_id"), lit(2)) === 0,
              date_format(col("_ts"), "yyyy-MM-dd HH:mm:ss"))
              .otherwise(date_format(col("_ts"), "dd/MM/yyyy HH:mm:ss")))
        withS.select(col("event_id"),
          unix_timestamp(Prep.parseTimestampMulti(col("_s"),
            Seq("yyyy-MM-dd HH:mm:ss", "dd/MM/yyyy HH:mm:ss"))).as("parsed_sec"))
          .orderBy("event_id")
      },
      Some("SELECT event_id, CAST(epoch(COALESCE(try_strptime(s, '%Y-%m-%d %H:%M:%S'), " +
        "try_strptime(s, '%d/%m/%Y %H:%M:%S'))) AS BIGINT) AS parsed_sec FROM " +
        "(SELECT event_id, CASE WHEN event_id % 2 = 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S') " +
        "ELSE strftime(ts, '%d/%m/%Y %H:%M:%S') END AS s FROM events) ORDER BY event_id")),

    // P5 — rounding of a derived price.
    Q("p5_round",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("net"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("SELECT l_orderkey, l_linenumber, round(l_extendedprice * (1 - l_discount), 4) AS net " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber")),

    // P6 — truncate tail to a multiple of 64. Positional ("first
    // floor(n/64)·64 ROWS"), so the cut keys on the contract idx.
    Q("p6_truncate_multiple",
      (s, d) => Prep.truncateToMultiple(Tables.eventsIdx(s, d), "_idx", 64)
        .select("event_id").orderBy("event_id"),
      Some("SELECT event_id FROM " +
        "(SELECT event_id, row_number() OVER (ORDER BY event_id) - 1 AS ridx FROM events) " +
        "WHERE ridx < (SELECT count(*) - count(*) % 64 FROM events) ORDER BY event_id")),

    // P7 — ordered train split, split point rounded UP to a multiple of 64.
    Q("p7_sequential_split",
      (s, d) => Prep.sequentialSplit(Tables.eventsIdx(s, d), "_idx", 0.7, 64)._1
        .select("event_id").orderBy("event_id"),
      Some("WITH s AS (SELECT CAST(floor(count(*) * 0.7) AS BIGINT) AS t FROM events) " +
        "SELECT event_id FROM " +
        "(SELECT event_id, row_number() OVER (ORDER BY event_id) - 1 AS ridx FROM events), s " +
        "WHERE ridx < t + (64 - t % 64) ORDER BY event_id")),

    // P9 — threshold predicate → boolean flag.
    Q("p9_threshold_flag",
      (s, d) => ev(s, d)
        .select(col("event_id"), col("value"), (col("value") > 100).as("anomaly"))
        .orderBy("event_id"),
      Some("SELECT event_id, value, value > 100 AS anomaly FROM events ORDER BY event_id")),

    // P10 — clamp-below-zero.
    Q("p10_clamp",
      (s, d) => ev(s, d)
        .select(col("event_id"), greatest(col("value") - 100, lit(0.0)).as("clamped"))
        .orderBy("event_id"),
      Some("SELECT event_id, greatest(value - 100, 0.0) AS clamped FROM events ORDER BY event_id")),

    // P11 — z-score standardization, scaler fit on an explicit slice
    // (here: the 'view' events) and applied to the full table.
    Q("p11_zscore",
      (s, d) => {
        val e = ev(s, d)
        val fit = e.filter(col("event_type") === "view")
        Prep.standardize(fit, e, Seq("value"))
          .select(col("event_id"), round(col("value"), 6).as("value_std"))
          .orderBy("event_id")
      },
      Some("SELECT event_id, round((value - (SELECT avg(value) FROM events WHERE event_type = 'view')) / " +
        "(SELECT stddev_samp(value) FROM events WHERE event_type = 'view'), 6) AS value_std " +
        "FROM events ORDER BY event_id")),

    // P12 — time-gap quality check per user stream.
    Q("p12_time_gaps",
      (s, d) => Prep.timeGaps(ev(s, d), "ts_sec", "event_id", 3600, Seq("user_id"))
        .select("user_id", "event_id", "gap_sec")
        .orderBy("user_id", "event_id"),
      Some("WITH d AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, " +
        "min(event_id) AS event_id FROM events GROUP BY 1, 2), " +
        "g AS (SELECT user_id, event_id, ts_sec - " +
        "lag(ts_sec) OVER (PARTITION BY user_id ORDER BY event_id) AS gap_sec FROM d) " +
        "SELECT user_id, event_id, gap_sec FROM g " +
        "WHERE gap_sec IS NOT NULL AND (gap_sec <= 3600 OR gap_sec < 0) ORDER BY user_id, event_id")),

    // O1 — sort by time.
    Q("o1_sort_time",
      (s, d) => ev(s, d).select("event_id", "ts_sec").orderBy("ts_sec", "event_id"),
      Some("SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events " +
        "ORDER BY ts_sec, event_id")),

    // O2 — full sort by metric value (the threshold-sweep sort).
    Q("o2_sort_value",
      (s, d) => ev(s, d).select("event_id", "value").orderBy("value", "event_id"),
      Some("SELECT event_id, value FROM events ORDER BY value, event_id")),

    // O3 — top-1 by metric per group (best model / max F1).
    Q("o3_top1_per_group",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type").orderBy(desc("value"), col("event_id"))
        ev(s, d).withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1)
          .select("event_type", "event_id", "value")
          .orderBy("event_type")
      },
      Some("SELECT event_type, event_id, value FROM (SELECT event_type, event_id, value, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn FROM events) " +
        "WHERE rn = 1 ORDER BY event_type")),

    // A1 — integer-division group mean (mean-downsample by 10).
    // positional (reference resample = consecutive-ROW groups), so the
    // group key is the ordering-contract idx, not raw event_id — on
    // id-gapped corpora id-div groups would mean something else entirely
    Q("a1_downsample",
      (s, d) => Prep.downsample(Tables.eventsIdx(s, d), "_idx", 10, Seq("value"))
        .select(col("grp"), round(col("value"), 6).as("value_avg"))
        .orderBy("grp"),
      Some("SELECT grp, round(avg(value), 6) AS value_avg FROM " +
        "(SELECT (row_number() OVER (ORDER BY event_id) - 1) // 10 AS grp, value FROM events) " +
        "GROUP BY grp ORDER BY grp")),

    // A2 — per-window MSE via higher-order array functions: windows are
    // materialized arrays; x̂ here is the window mean, so MSE(window) =
    // mean((x - x̂)²) — the zip_with/aggregate mechanics of reconstruction
    // error without a model in the loop.
    Q("a2_window_mse",
      (s, d) => {
        // tumbling windows over the ordering-contract idx (positional,
        // id-layout independent; materialized once — Tables.eventsIdx)
        val wins = graft.window.Windows.slidingWindows(
          Tables.eventsIdx(s, d), "_idx", "value", 100, 100)
        val mean = aggregate(col("values"), lit(0.0), (a, v) => a + v) / 100
        wins.withColumn("_m", mean)
          .select(col("window_id").as("period"),
            round(aggregate(zip_with(col("values"), array_repeat(col("_m"), 100),
                (x, m) => (x - m) * (x - m)),
              lit(0.0), (a, v) => a + v) / 100, 6).as("mse"))
          .orderBy("period")
      },
      Some("SELECT period, round(avg((value - m) * (value - m)), 6) AS mse FROM " +
        "(SELECT ridx // 100 AS period, value, " +
        "avg(value) OVER (PARTITION BY ridx // 100) AS m FROM " +
        "(SELECT row_number() OVER (ORDER BY event_id) - 1 AS ridx, value FROM events)) " +
        "WHERE period < (SELECT count(*) // 100 FROM events) " +
        "GROUP BY period ORDER BY period")),

    // A3 — per-period (chunk of 100) mean.
    Q("a3_chunk_mean",
      (s, d) => Prep.downsample(Tables.eventsIdx(s, d), "_idx", 100, Seq("value"))
        .select(col("grp").as("period"), round(col("value"), 6).as("mse"))
        .orderBy("period"),
      Some("SELECT period, round(avg(value), 6) AS mse FROM " +
        "(SELECT (row_number() OVER (ORDER BY event_id) - 1) // 100 AS period, value FROM events) " +
        "GROUP BY period ORDER BY period")),

    // A4 — μ + 4σ threshold per group, fit on the first 10% of rows.
    Q("a4_threshold",
      (s, d) => {
        val e = ev(s, d)
        val cutoff = e.agg(floor(count(lit(1)) * 0.1).as("_c"))
        val validation = e.crossJoin(broadcast(cutoff)).filter(col("event_id") < col("_c"))
        Eval.threshold(validation, "value", 4.0, Seq("event_type"))
          .select(col("event_type"), round(col("threshold"), 6).as("threshold"))
          .orderBy("event_type")
      },
      Some("SELECT event_type, round(avg(value) + 4 * stddev_samp(value), 6) AS threshold " +
        "FROM events WHERE event_id < (SELECT CAST(floor(count(*) * 0.1) AS BIGINT) FROM events) " +
        "GROUP BY event_type ORDER BY event_type")),

    // A6/J1–J4 — confusion-matrix counts via semi/anti join set algebra.
    Q("a6_confusion",
      (s, d) => {
        val e = ev(s, d)
        val pred = e.filter(col("value") > 150).select("event_id")
        val label = e.filter(col("event_type") === "error").select("event_id")
        // universe size via the lazy 1-row aggregate overload — no driver
        // .count() action at plan-build time
        Eval.confusion(pred, label, "event_id", e)
      },
      Some("SELECT CAST(sum(CASE WHEN value > 150 AND event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
        "CAST(sum(CASE WHEN value > 150 AND event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
        "CAST(sum(CASE WHEN value <= 150 AND event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS fn, " +
        "CAST(sum(CASE WHEN value <= 150 AND event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS tn " +
        "FROM events")),

    // A7 — precision / recall / F1 with zero-guards.
    Q("a7_f1",
      (s, d) => Eval.f1Score(ev(s, d), col("value") > 150, col("event_type") === "error")
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          round(col("precision"), 6).as("precision"),
          round(col("recall"), 6).as("recall"),
          round(col("f1"), 6).as("f1")),
      Some("WITH c AS (SELECT CAST(sum(CASE WHEN value > 150 AND event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
        "CAST(sum(CASE WHEN value > 150 AND event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
        "CAST(sum(CASE WHEN value <= 150 AND event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS fn, " +
        "CAST(sum(CASE WHEN value <= 150 AND event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS tn " +
        "FROM events), p AS (SELECT tp, fp, fn, tn, " +
        "CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / CAST(tp + fp AS DOUBLE) END AS precision, " +
        "CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / CAST(tp + fn AS DOUBLE) END AS recall FROM c) " +
        "SELECT tp, fp, fn, tn, round(precision, 6) AS precision, round(recall, 6) AS recall, " +
        "round(CASE WHEN precision + recall = 0 THEN 0.0 ELSE 2 * precision * recall / (precision + recall) END, 6) AS f1 " +
        "FROM p")),

    // A8 — ROC AUC via Mann-Whitney rank statistic (tie-averaged ranks):
    // O(n log n) distributed, exactly equal to the reference's O(n²)
    // threshold-sweep trapezoid.
    Q("a8_auc",
      (s, d) => Eval.aucRoc(ev(s, d), col("value"), col("event_type") === "error")
        .select(round(col("auc"), 6).as("auc")),
      Some("WITH r AS (SELECT value AS sc, (event_type = 'error') AS y, " +
        "rank() OVER (ORDER BY value) + (count(*) OVER (PARTITION BY value) - 1) / 2.0 AS rk FROM events) " +
        "SELECT round((sum(CASE WHEN y THEN rk END) - sum(CASE WHEN y THEN 1 ELSE 0 END) * " +
        "(sum(CASE WHEN y THEN 1 ELSE 0 END) + 1) / 2.0) / " +
        "(sum(CASE WHEN y THEN 1 ELSE 0 END) * sum(CASE WHEN NOT y THEN 1 ELSE 0 END)), 6) AS auc FROM r")),

    // A9 — resource-log style aggregation: sum/mean/max per series.
    Q("a9_group_stats",
      (s, d) => ev(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_v"),
          round(avg(col("value")), 6).as("avg_v"),
          max(col("value")).as("max_v"),
          min(col("value")).as("min_v"))
        .orderBy("event_type"),
      Some("SELECT event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_v, " +
        "round(avg(value), 6) AS avg_v, max(value) AS max_v, min(value) AS min_v " +
        "FROM events GROUP BY event_type ORDER BY event_type")),

    // A10 — cumulative over-threshold certainty score (clip → cumsum → /4),
    // two-phase range-bucketed cumsum (no single-task global window).
    Q("a10_certainty",
      (s, d) => {
        val g = ev(s, d).withColumn("_g", greatest(col("value") - 150, lit(0.0)) / 150)
        graft.window.Windows.rangeBucketedCumSum(g, Seq("event_id"), Seq("_g"))
          .select(col("event_id"), round(col("_g_cum") / 4, 6).as("certainty"))
          .orderBy("event_id")
      },
      Some("SELECT event_id, round(sum(greatest(value - 150, 0.0) / 150) OVER " +
        "(ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 4, 6) AS certainty " +
        "FROM events ORDER BY event_id"))
  )
}
