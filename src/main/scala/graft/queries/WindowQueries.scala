package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.eval.Eval
import graft.prep.Prep
import graft.window.Windows

/** Typed row for the Dataset[T] surface demo. */
final case class OrderRow(o_orderkey: Long, o_custkey: Long,
                          o_totalprice: Double, o_orderstatus: String)

/** Sequence/window operators (SURVEY.md §2.5 W*), restructuring (§2.6 R*),
  * joins/set ops (§2.7 J*), and the TPC-H-style headline joins/aggs.
  */
object WindowQueries {

  private def ev(s: org.apache.spark.sql.SparkSession, d: String) = Tables.events(s, d)

  /** events with the ordering-contract idx (SURVEY §4.1): the positional
    * operators below (windows, temporalize, lag, stack) are defined over
    * a CONTIGUOUS 0-based position, which raw `event_id` only happens to
    * be on the driver's testdata. Deriving `_idx` makes every row hold on
    * id-gapped corpora too (the r11 gapped-sf1 oracle sweep caught the
    * divergence); on the driver's RangeIndexed data `_idx == event_id`,
    * so gate values are unchanged. Oracles restate the position as
    * `row_number() - 1`.
    */
  private def evIdx(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.eventsIdx(s, d)

  val all: Seq[Q] = Seq(

    // W1/W2 — overlapping sliding windows (size 100, step 50), shuffle-
    // grouped by arithmetic window id — no global sort, no single task.
    Q("w1_sliding_windows",
      (s, d) => Windows.slidingWindows(evIdx(s, d), "_idx", "value", 100, 50)
        .select(col("window_id"),
          round(aggregate(col("values"), lit(0.0), (a, v) => a + v) / 100, 6).as("w_avg"),
          element_at(col("values"), 1).as("first_v"),
          element_at(col("values"), -1).as("last_v"))
        .orderBy("window_id"),
      Some("WITH t AS (SELECT row_number() OVER (ORDER BY event_id) - 1 AS ridx, " +
        "value, count(*) OVER w AS cnt, avg(value) OVER w AS a, " +
        "first_value(value) OVER w AS fv, last_value(value) OVER w AS lv FROM events " +
        "WINDOW w AS (ORDER BY event_id ROWS BETWEEN CURRENT ROW AND 99 FOLLOWING)) " +
        "SELECT ridx // 50 AS window_id, round(a, 6) AS w_avg, fv AS first_v, lv AS last_v " +
        "FROM t WHERE ridx % 50 = 0 AND cnt = 100 ORDER BY window_id")),

    // W3 — de-overlap: every 2nd window (the scoring stride).
    Q("w3_deoverlap",
      (s, d) => Windows.deoverlap(
          Windows.slidingWindows(evIdx(s, d), "_idx", "value", 100, 50), "window_id", 2)
        .select(col("window_id"),
          round(aggregate(col("values"), lit(0.0), (a, v) => a + v) / 100, 6).as("w_avg"))
        .orderBy("window_id"),
      Some("WITH t AS (SELECT row_number() OVER (ORDER BY event_id) - 1 AS ridx, " +
        "count(*) OVER w AS cnt, avg(value) OVER w AS a FROM events " +
        "WINDOW w AS (ORDER BY event_id ROWS BETWEEN CURRENT ROW AND 99 FOLLOWING)) " +
        "SELECT ridx // 50 AS window_id, round(a, 6) AS w_avg FROM t " +
        "WHERE ridx % 50 = 0 AND cnt = 100 AND (ridx // 50) % 2 = 0 ORDER BY window_id")),

    // W4 — temporalize: trailing lookback-20 history per row, chunk+halo
    // partitioned (no global single-task window; chunk 1000 gives n/1000
    // parallel window partitions).
    Q("w4_temporalize",
      (s, d) => Windows.temporalize(evIdx(s, d), "_idx", "value", 20, chunkSize = 1000L)
        .select(col("event_id"), size(col("history")).cast("long").as("hist_len"),
          round(aggregate(col("history"), lit(0.0), (a, v) => a + v) / 20, 6).as("hist_avg"))
        .orderBy("event_id"),
      Some("WITH t AS (SELECT event_id, count(value) OVER w AS c, avg(value) OVER w AS a FROM events " +
        "WINDOW w AS (ORDER BY event_id ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)) " +
        "SELECT event_id, CAST(c AS BIGINT) AS hist_len, round(a, 6) AS hist_avg FROM t " +
        "WHERE c = 20 ORDER BY event_id")),

    // W6 — rolling min w=3, pandas null-head semantics, per group.
    Q("w6_rolling_min",
      (s, d) => Windows.rollingMin(ev(s, d), "event_id", "value", 3, Seq("event_type"))
        .select("event_type", "event_id", "rolling_min")
        .orderBy("event_type", "event_id"),
      Some("SELECT event_type, event_id, CASE WHEN row_number() OVER w >= 3 THEN " +
        "min(value) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) END AS rolling_min " +
        "FROM events WINDOW w AS (PARTITION BY event_type ORDER BY event_id) " +
        "ORDER BY event_type, event_id")),

    // W7 — rolling mean w=5 (plot smoothing), same null-head rule.
    Q("w7_rolling_mean",
      (s, d) => Windows.rollingMean(ev(s, d), "event_id", "value", 5, Seq("event_type"))
        .select(col("event_type"), col("event_id"),
          round(col("rolling_mean"), 6).as("rolling_mean"))
        .orderBy("event_type", "event_id"),
      Some("SELECT event_type, event_id, round(CASE WHEN row_number() OVER w >= 5 THEN " +
        "avg(value) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) END, 6) AS rolling_mean " +
        "FROM events WINDOW w AS (PARTITION BY event_type ORDER BY event_id) " +
        "ORDER BY event_type, event_id")),

    // W8 — repeat/upsample ×3: period → sample granularity.
    // W8 — upsample: sample positions derive from the contract idx
    // (the reference repeats a RangeIndexed series).
    Q("w8_repeat",
      (s, d) => Windows.repeatRows(evIdx(s, d), "_idx", 3)
        .select(col("event_id"), col("rep").cast("long").as("rep"),
          col("sample_idx").cast("long").as("sample_idx"), col("value"))
        .orderBy("event_id", "rep"),
      Some("SELECT event_id, g AS rep, ridx * 3 + g AS sample_idx, value FROM " +
        "(SELECT event_id, value, row_number() OVER (ORDER BY event_id) - 1 AS ridx FROM events), " +
        "generate_series(0, 2) t(g) ORDER BY event_id, rep")),

    // W9 — first-POSITION-over-threshold with the reference's 0 sentinel
    // (np.argmax returns a position, so the result is the contract idx).
    Q("w9_first_over_threshold",
      (s, d) => Windows.firstOverThreshold(evIdx(s, d), "_idx", col("value") > 180, Seq("event_type"))
        .orderBy("event_type"),
      Some("WITH r AS (SELECT event_type, value, " +
        "row_number() OVER (ORDER BY event_id) - 1 AS ridx FROM events) " +
        "SELECT event_type, COALESCE(min(CASE WHEN value > 180 THEN ridx END), 0) AS first_over " +
        "FROM r GROUP BY event_type ORDER BY event_type")),

    // W10 — until-failure expansion: anomalous from first exceed onward.
    Q("w10_until_failure",
      (s, d) => Windows.untilFailure(ev(s, d), "event_id", col("value") > 180, Seq("event_type"))
        .select("event_type", "event_id", "anomaly")
        .orderBy("event_type", "event_id"),
      Some("WITH f AS (SELECT event_type, COALESCE(min(CASE WHEN value > 180 THEN event_id END), 0) AS fo " +
        "FROM events GROUP BY event_type) SELECT e.event_type, e.event_id, " +
        "f.fo > 0 AND e.event_id >= f.fo AS anomaly " +
        "FROM events e JOIN f USING (event_type) ORDER BY event_type, event_id")),

    // W11 — searchsorted: first index at/after a timestamp + its fraction.
    Q("w11_searchsorted",
      (s, d) => Windows.searchSorted(ev(s, d), "event_id", "ts_sec", lit(1709251200L))
        .select(col("first_idx"), round(col("fraction"), 6).as("fraction")),
      Some("SELECT COALESCE(min(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) >= 1709251200 THEN event_id END), count(*)) AS first_idx, " +
        "round(COALESCE(min(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) >= 1709251200 THEN event_id END), count(*)) / " +
        "CAST(count(*) AS DOUBLE), 6) AS fraction FROM events")),

    // W12 — gaps-and-islands: runs of adjacent over-threshold indexes
    // → [start, end+1) spans, via the anti-join + bucketed-rank
    // formulation (no row-sized window anywhere in the plan).
    Q("w12_islands",
      (s, d) => Windows.islands(ev(s, d).filter(col("value") > 170), "event_id")
        .select("span_start", "span_end")
        .orderBy("span_start"),
      Some("WITH f AS (SELECT event_id FROM events WHERE value > 170), " +
        "g AS (SELECT event_id, event_id - row_number() OVER (ORDER BY event_id) AS grp FROM f) " +
        "SELECT min(event_id) AS span_start, max(event_id) + 1 AS span_end FROM g " +
        "GROUP BY grp ORDER BY span_start")),

    // W13 — global cumulative sum, two-phase range-bucket pattern.
    Q("w13_cumsum",
      (s, d) => Windows.rangeBucketedCumSum(ev(s, d), Seq("event_id"), Seq("value"))
        .select(col("event_id"), round(col("value_cum"), 4).as("cum"))
        .orderBy("event_id"),
      Some("SELECT event_id, round(sum(value) OVER (ORDER BY event_id ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW), 4) AS cum FROM events ORDER BY event_id")),

    // W14 — alignment shift: first k kept, remainder lagged by k
    // (chunk+halo — no global single-task window).
    Q("w14_lag_shift",
      (s, d) => Windows.lagShift(evIdx(s, d), "_idx", "value", 20, chunkSize = 1000L)
        .select("event_id", "shifted")
        .orderBy("event_id"),
      Some("SELECT event_id, COALESCE(lag(value, 20) OVER (ORDER BY event_id), value) AS shifted " +
        "FROM events ORDER BY event_id")),

    // R1 — column-stack to a single series (channel-major global index).
    Q("r1_stack",
      (s, d) => {
        val base = evIdx(s, d).select(col("_idx"), col("value"),
          col("user_id").cast("double").as("u"),
          (col("event_id") % 7).cast("double").as("m"))
        Prep.stackChannels(base, "_idx", Seq("value", "u", "m"))
          .select(col("global_idx"), col("channel").cast("long").as("channel"), col("value"))
          .orderBy("global_idx")
      },
      Some("WITH n AS (SELECT count(*) AS n FROM events), " +
        "e AS (SELECT row_number() OVER (ORDER BY event_id) - 1 AS ridx, " +
        "event_id, user_id, value FROM events), s AS (" +
        "SELECT 0 AS channel, ridx, value AS v FROM e " +
        "UNION ALL SELECT 1, ridx, CAST(user_id AS DOUBLE) FROM e " +
        "UNION ALL SELECT 2, ridx, CAST(event_id % 7 AS DOUBLE) FROM e) " +
        "SELECT s.channel * n.n + s.ridx AS global_idx, CAST(s.channel AS BIGINT) AS channel, " +
        "s.v AS value FROM s, n ORDER BY global_idx")),

    // R2 — column-major unstack: inverse of R1 via pivot.
    Q("r2_unstack",
      (s, d) => {
        val base = evIdx(s, d).select(col("_idx"), col("value"),
          col("user_id").cast("double").as("u"),
          (col("event_id") % 7).cast("double").as("m"))
        val stacked = Prep.stackChannels(base, "_idx", Seq("value", "u", "m"))
        Prep.unstackChannels(stacked, "global_idx", "value", 3)
          .orderBy("idx")
      },
      Some("WITH n AS (SELECT count(*) AS n FROM events), " +
        "e AS (SELECT row_number() OVER (ORDER BY event_id) - 1 AS ridx, " +
        "event_id, user_id, value FROM events), s AS (" +
        "SELECT 0 AS channel, ridx, value AS v FROM e " +
        "UNION ALL SELECT 1, ridx, CAST(user_id AS DOUBLE) FROM e " +
        "UNION ALL SELECT 2, ridx, CAST(event_id % 7 AS DOUBLE) FROM e), " +
        "g AS (SELECT s.channel * n.n + s.ridx AS global_idx, s.v FROM s, n) " +
        "SELECT global_idx % n.n AS idx, " +
        "max(CASE WHEN global_idx // n.n = 0 THEN v END) AS \"0\", " +
        "max(CASE WHEN global_idx // n.n = 1 THEN v END) AS \"1\", " +
        "max(CASE WHEN global_idx // n.n = 2 THEN v END) AS \"2\" " +
        "FROM g, n GROUP BY 1 ORDER BY idx")),

    // R3 — long → wide pivot with an explicit column set.
    Q("r3_pivot",
      (s, d) => Tables.documents(s, d)
        .groupBy("source")
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .count()
        .na.fill(0L, Seq("de", "en", "es", "fr", "zh"))
        .orderBy("source"),
      Some("SELECT source, " +
        "count(CASE WHEN lang = 'de' THEN 1 END) AS de, " +
        "count(CASE WHEN lang = 'en' THEN 1 END) AS en, " +
        "count(CASE WHEN lang = 'es' THEN 1 END) AS es, " +
        "count(CASE WHEN lang = 'fr' THEN 1 END) AS fr, " +
        "count(CASE WHEN lang = 'zh' THEN 1 END) AS zh " +
        "FROM documents GROUP BY source ORDER BY source")),

    // R4 — per-group ordered concat (collect_list) summarized.
    Q("r4_group_collect",
      (s, d) => Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(sort_array(collect_list(col("o_orderkey"))).as("_keys"))
        .select(col("o_custkey"), size(col("_keys")).cast("long").as("n_orders"),
          element_at(col("_keys"), 1).as("first_order"),
          element_at(col("_keys"), -1).as("last_order"))
        .orderBy("o_custkey"),
      Some("SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders, min(o_orderkey) AS first_order, " +
        "max(o_orderkey) AS last_order FROM orders GROUP BY o_custkey ORDER BY o_custkey")),

    // J1 — semi join (TP set).
    Q("j1_semi_join",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, c_name FROM customer WHERE EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey")),

    // J2 — anti join (FP set).
    // The orders side is restricted to a date subrange: with the full
    // table every customer has an order at every sf, so the unrestricted
    // complement is empty and the check would be vacuous (rows/schema/
    // hash all match on 0 rows). Pre-1996 orders cover only some
    // customers → a strict non-empty subset (34/150 at sf0.001).
    Q("j2_anti_join",
      (s, d) => Tables.customer(s, d)
        .join(
          Tables.orders(s, d).filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate < TIMESTAMP '1996-01-01') ORDER BY c_custkey")),

    // J4 — universe complement: range(n) minus pred minus label. The
    // universe IS the (dense 0..n-1) event_id domain, so no range() is
    // materialized and no driver count() runs: one scan of events through
    // two anti joins (broadcast under AQE — the exclude sets are small;
    // at 100 TB they degrade to shuffle hash anti joins, still one pass).
    Q("j4_universe_complement",
      (s, d) => {
        val e = ev(s, d)
        val pred = e.filter(col("value") > 150).select(col("event_id").as("id"))
        val label = e.filter(col("event_type") === "error").select(col("event_id").as("id"))
        Eval.universeComplement(e.select(col("event_id").as("id")), "id",
          Seq(pred, label)).orderBy("id")
      },
      // the universe IS the table's id set (the Spark side passes the
      // actual ids) — a generate_series(0, n−1) restatement conflates
      // count with id range and breaks on id-gapped corpora
      Some("SELECT event_id AS id FROM events " +
        "WHERE event_id NOT IN (SELECT event_id FROM events WHERE value > 150) " +
        "AND event_id NOT IN (SELECT event_id FROM events WHERE event_type = 'error') " +
        "ORDER BY id")),

    // J5 — fractional label ranges → concrete index set. The universe size
    // joins in as a broadcast 1-row aggregate — no driver count() action.
    Q("j5_range_expand",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val nRow = broadcast(ev(s, d).agg(count(lit(1)).as("_n")))
        Eval.rangesToIndexes(
            Seq((0.2, 0.3), (0.7, 0.75)).toDF("a", "b").crossJoin(nRow),
            col("a"), col("b"), col("_n"))
          .orderBy("idx")
      },
      Some("WITH n AS (SELECT count(*) AS n FROM events), r(a, b) AS (VALUES (0.2, 0.3), (0.7, 0.75)) " +
        "SELECT unnest(generate_series(CAST(floor(a * n.n) AS BIGINT), " +
        "CAST(floor(b * n.n) AS BIGINT) - 1)) AS idx FROM r, n ORDER BY idx")),

    // J7 — tagged union of per-source frames.
    Q("j7_union",
      (s, d) => {
        val e = ev(s, d)
        e.filter(col("event_type") === "error").select(lit("err").as("tag"), col("event_id"))
          .unionByName(
            e.filter(col("value") > 180).select(lit("big").as("tag"), col("event_id")))
          .orderBy("tag", "event_id")
      },
      Some("SELECT 'err' AS tag, event_id FROM events WHERE event_type = 'error' " +
        "UNION ALL SELECT 'big' AS tag, event_id FROM events WHERE value > 180 " +
        "ORDER BY tag, event_id")),

    // As-of join, grouped: every event gets the latest 'purchase' value
    // by the SAME user at-or-before its timestamp (the "latest campaign
    // touch" attribution lookup). Union + keyed window — no non-equi
    // join; oracle = DuckDB's native ASOF JOIN, so the tie/no-match
    // semantics are pinned against an independent implementation. Both
    // sides join on MICROSECONDS (Tables.events' ts_micro / epoch_us):
    // DuckDB's TIMESTAMP truncates the parquet nanos to µs on read, and
    // the ns tail would desynchronize asof_ts (timestamps stay µs-unique).
    Q("x_asof_join",
      (s, d) => {
        val e = ev(s, d)
        Windows.asofJoin(
            e.select("event_id", "user_id", "ts_micro"),
            e.filter(col("event_type") === "purchase").select("user_id", "ts_micro", "value"),
            "ts_micro", "ts_micro", Seq("value"), partCols = Seq("user_id"))
          .select(col("event_id"), col("user_id"), col("asof_ts"),
            round(col("asof_value"), 6).as("asof_value"))
          .orderBy("event_id")
      },
      Some("WITH r AS (SELECT user_id, epoch_us(ts) AS rt, value AS rv " +
        "FROM events WHERE event_type = 'purchase') " +
        "SELECT l.event_id, l.user_id, r.rt AS asof_ts, round(r.rv, 6) AS asof_value " +
        "FROM events l ASOF LEFT JOIN r ON l.user_id = r.user_id AND epoch_us(l.ts) >= r.rt " +
        "ORDER BY l.event_id")),

    // As-of join, global (no key): every event gets the latest 'error'
    // value corpus-wide at-or-before its timestamp. Exercises the
    // range-bucketed decomposition — per-bucket windows + one fold over
    // the per-bucket last right rows, no global window. µs axis as above.
    Q("x_asof_global",
      (s, d) => {
        val e = ev(s, d)
        Windows.asofJoin(
            e.select("event_id", "ts_micro"),
            e.filter(col("event_type") === "error").select("ts_micro", "value"),
            "ts_micro", "ts_micro", Seq("value"))
          .select(col("event_id"), col("asof_ts"),
            round(col("asof_value"), 6).as("asof_value"))
          .orderBy("event_id")
      },
      Some("WITH r AS (SELECT epoch_us(ts) AS rt, value AS rv " +
        "FROM events WHERE event_type = 'error') " +
        "SELECT l.event_id, r.rt AS asof_ts, round(r.rv, 6) AS asof_value " +
        "FROM events l ASOF LEFT JOIN r ON epoch_us(l.ts) >= r.rt " +
        "ORDER BY l.event_id")),

    // Interval join: every event labeled with the hour-long "outage"
    // windows (opened by high-value error events) containing it. Runs
    // as an equi join on a derived time bucket — intervals explode to
    // their <= 2 covering buckets, containment filters the collisions —
    // never the nested-loop all-pairs plan the naive range predicate
    // produces. Oracle states the naive non-equi join directly, so the
    // green hash certifies the bucketed rewrite IS that join.
    Q("x_interval_join",
      (s, d) => {
        val e = ev(s, d)
        val outages = e.filter(col("event_type") === "error" && col("value") > 190)
          .select(col("event_id").as("outage_id"), col("ts_sec").as("o_start"),
            (col("ts_sec") + 3600L).as("o_end"))
        Windows.intervalJoin(e.select("event_id", "ts_sec"), outages,
            "ts_sec", "o_start", "o_end", bucketWidth = 3600L)
          .select(col("event_id"), col("outage_id"),
            (col("ts_sec") - col("o_start")).as("offset_sec"))
          .orderBy("event_id", "outage_id")
      },
      Some("WITH o AS (SELECT event_id AS outage_id, CAST(floor(epoch(ts)) AS BIGINT) AS o_start " +
        "FROM events WHERE event_type = 'error' AND value > 190), " +
        "l AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events) " +
        "SELECT l.event_id, o.outage_id, l.ts_sec - o.o_start AS offset_sec " +
        "FROM l JOIN o ON l.ts_sec >= o.o_start AND l.ts_sec < o.o_start + 3600 " +
        "ORDER BY l.event_id, o.outage_id")),

    // Composite event enrichment — the three sequence operators chained
    // in ONE plan: every purchase event labeled with (a) its gap-600s
    // session episode (sessionize: chunk+halo lag + two-phase cumsum),
    // (b) the latest error value at-or-before it (global as-of join),
    // and (c) whether it falls inside an hour-long high-error outage
    // window (bucketized interval containment as a flag). Each stage is
    // the registered operator; one oracle checks the composition.
    Q("x_event_enrich",
      (s, d) => {
        val e = ev(s, d)
        val sess = Windows.sessionize(e, "event_id", "ts_sec", gap = 600)
        val purchases = sess.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("session"), col("ts_sec"), col("ts_micro"))
        val errors = e.filter(col("event_type") === "error")
          .select(col("ts_micro"), col("value"))
        val enriched = Windows.asofJoin(purchases, errors,
          "ts_micro", "ts_micro", Seq("value"))
        val outages = e.filter(col("event_type") === "error" && col("value") > 190)
          .select(col("ts_sec").as("o_start"), (col("ts_sec") + 3600L).as("o_end"))
        val inOutage = Windows.intervalJoin(
            enriched.select(col("event_id"), col("ts_sec")), outages,
            "ts_sec", "o_start", "o_end", bucketWidth = 3600L)
          .select(col("event_id")).distinct().withColumn("in_outage", lit(true))
        enriched.join(inOutage, Seq("event_id"), "left")
          .select(col("event_id"), col("session"),
            round(col("asof_value"), 6).as("last_error_value"),
            coalesce(col("in_outage"), lit(false)).as("in_outage"))
          .orderBy("event_id")
      },
      Some("WITH t AS (SELECT event_id, event_type, value, " +
        "CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, epoch_us(ts) AS tu FROM events), " +
        "g AS (SELECT *, CASE WHEN ts_sec - lag(ts_sec) OVER (ORDER BY event_id) > 600 " +
        "THEN 1 ELSE 0 END AS nw FROM t), " +
        "sx AS (SELECT *, sum(nw) OVER (ORDER BY event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session FROM g), " +
        "p AS (SELECT event_id, CAST(session AS BIGINT) AS session, ts_sec, tu FROM sx " +
        "WHERE event_type = 'purchase'), " +
        "er AS (SELECT tu AS rt, value AS rv FROM t WHERE event_type = 'error'), " +
        "a AS (SELECT p.event_id, p.session, p.ts_sec, round(er.rv, 6) AS last_error_value " +
        "FROM p ASOF LEFT JOIN er ON p.tu >= er.rt), " +
        "o AS (SELECT ts_sec AS s FROM t WHERE event_type = 'error' AND value > 190), " +
        "hit AS (SELECT DISTINCT a.event_id FROM a JOIN o ON a.ts_sec >= o.s " +
        "AND a.ts_sec < o.s + 3600) " +
        "SELECT a.event_id, a.session, a.last_error_value, " +
        "hit.event_id IS NOT NULL AS in_outage " +
        "FROM a LEFT JOIN hit ON a.event_id = hit.event_id " +
        "ORDER BY a.event_id")),

    // Salted skew join in the registry: lineitem⋈orders through
    // Layout.saltedJoin (salt from hashed row content, small side
    // replicated saltFactor×), aggregated to revenue per order status.
    // The oracle is the PLAIN join — the green hash certifies salting
    // changes the physical distribution only, never the join result.
    Q("x_salted_join",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
            col("l_linenumber"))
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
        graft.core.Layout.saltedJoin(li, ord, "l_orderkey",
            saltFactor = 4, bigSaltSource = col("l_linenumber"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
          .orderBy("o_orderstatus")
      },
      Some("SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus")),

    // O4 — sort of (metric, label) pairs.
    Q("o4_sort_pairs",
      (s, d) => ev(s, d).select("value", "event_type", "event_id")
        .orderBy("value", "event_type", "event_id"),
      Some("SELECT value, event_type, event_id FROM events " +
        "ORDER BY value, event_type, event_id")),

    // W5 — flatten window to its last timestep (element_at(history, -1));
    // chunk+halo partitioned like W4.
    Q("w5_last_timestep",
      (s, d) => Windows.temporalize(evIdx(s, d), "_idx", "value", 20, chunkSize = 1000L)
        .select(col("event_id"), element_at(col("history"), -1).as("last_prev"))
        .orderBy("event_id"),
      Some("SELECT event_id, last_prev FROM (SELECT event_id, " +
        "lag(value, 1) OVER (ORDER BY event_id) AS last_prev, " +
        "count(value) OVER (ORDER BY event_id ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS c " +
        "FROM events) WHERE c = 20 ORDER BY event_id")),

    // J6 — merge per-client files by client key recovered from the path.
    Q("j6_client_merge",
      (s, d) => {
        val path = IoModelQueries.tmp(d, "j6")
        ev(s, d).select((col("user_id") % 4).as("client"), col("event_id"), col("value"))
          .write.mode("overwrite").partitionBy("client").json(path)
        s.read.schema("event_id LONG, value DOUBLE").json(s"$path/*/")
          .withColumn("client",
            regexp_extract(input_file_name(), "client=([0-9]+)", 1).cast("long"))
          .groupBy("client")
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
          .orderBy("client")
      },
      Some("SELECT user_id % 4 AS client, CAST(count(*) AS BIGINT) AS n, " +
        "round(sum(value), 4) AS sum_v FROM events GROUP BY 1 ORDER BY 1")),

    // Typed Dataset surface: case-class rows, groupByKey + mapGroups.
    Q("typed_dataset_agg",
      (s, d) => {
        val spark = s
        import spark.implicits._
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
          .as[OrderRow]
          .groupByKey(_.o_orderstatus)
          .mapGroups { (status, rows) =>
            val prices = rows.map(_.o_totalprice).toArray
            (status, prices.length.toLong,
              BigDecimal(prices.sum / prices.length)
                .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
          .toDF("o_orderstatus", "n", "avg_price")
          .orderBy("o_orderstatus")
      },
      Some("SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
        "round(avg(o_totalprice), 4) AS avg_price FROM orders " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus")),

    // A8 (trapezoid form) — ROC AUC built exactly as the reference's
    // threshold sweep: cumulative TP/FP per distinct score descending →
    // (fpr, tpr) points → trapezoid integral. Same value as a8_auc's rank
    // statistic. Scale shape: the cumulative-TP window is the two-phase
    // rangeBucketedCumSum (no single-task sort over distinct scores), and
    // the trapezoid's lag() terms collapse algebraically — the previous
    // point of a cumulative sequence is just (cum − increment), so
    // fpr − prev_fpr = np/N and tpr + prev_tpr = (2·tp − p)/P and the
    // second global window disappears entirely.
    Q("a8b_auc_trapezoid",
      (s, d) => {
        val byScore = ev(s, d)
          .groupBy(col("value").as("sc"))
          .agg(sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("p"),
            sum(when(col("event_type") =!= "error", 1L).otherwise(0L)).as("np"))
        val cum = Windows.rangeBucketedCumSum(byScore, Seq("sc"), Seq("p"), descending = true)
        val totals = byScore.agg(sum(col("p")).as("total_p"), sum(col("np")).as("total_n"))
        cum.crossJoin(broadcast(totals))
          .agg(round(sum((col("np") / col("total_n")) *
            ((lit(2) * col("p_cum") - col("p")) / col("total_p")) / 2), 6).as("auc"))
      },
      Some("WITH byscore AS (SELECT value AS sc, " +
        "sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS p, " +
        "sum(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS np " +
        "FROM events GROUP BY value), " +
        "pts AS (SELECT sc, sum(p) OVER w AS tp, sum(np) OVER w AS fp FROM byscore " +
        "WINDOW w AS (ORDER BY sc DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "tot AS (SELECT sum(p) AS total_p, sum(np) AS total_n FROM byscore), " +
        "rates AS (SELECT tp / CAST(total_p AS DOUBLE) AS tpr, fp / CAST(total_n AS DOUBLE) AS fpr FROM pts, tot), " +
        "tz AS (SELECT fpr, tpr, lag(fpr, 1, 0.0) OVER w2 AS prev_fpr, " +
        "lag(tpr, 1, 0.0) OVER w2 AS prev_tpr FROM rates WINDOW w2 AS (ORDER BY fpr, tpr)) " +
        "SELECT round(sum((fpr - prev_fpr) * (tpr + prev_tpr) / 2), 6) AS auc FROM tz")),

    // Rollup (subtotals + grand total) — free from Spark SQL, demonstrated
    // for SQL-surface completeness. NULLS FIRST pinned: Spark's ASC
    // default vs DuckDB's NULLS LAST.
    Q("rollup_revenue",
      (s, d) => {
        // via the engine's SQL surface (Spark 4's analyzer flags the
        // DataFrame rollup+sort as an ambiguous self-join false positive)
        Tables.lineitem(s, d).createOrReplaceTempView("li_v")
        Tables.orders(s, d).createOrReplaceTempView("o_v")
        // round to whole units, not tenths: the grand-total sum reaches
        // ~3.5e9 at sf1, where summation-order noise (~1e-6 abs) can
        // flip a 0.05 rounding boundary — the gapped-sf1 sweep caught
        // exactly one such flip. Whole-unit rounding keeps the boundary
        // 5 orders away from the noise at any realistic scale.
        s.sql("SELECT o_orderstatus, l_returnflag, round(sum(l_extendedprice), 0) AS rev, " +
          "count(*) AS n FROM li_v JOIN o_v ON l_orderkey = o_orderkey " +
          "GROUP BY ROLLUP(o_orderstatus, l_returnflag) " +
          "ORDER BY o_orderstatus ASC NULLS FIRST, l_returnflag ASC NULLS FIRST")
      },
      Some("SELECT o_orderstatus, l_returnflag, round(sum(l_extendedprice), 0) AS rev, " +
        "CAST(count(*) AS BIGINT) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY ROLLUP(o_orderstatus, l_returnflag) " +
        "ORDER BY o_orderstatus NULLS FIRST, l_returnflag NULLS FIRST")),

    // Distinct aggregates (free from Spark SQL).
    Q("agg_distinct",
      (s, d) => Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority"),
      Some("SELECT o_orderpriority, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs, " +
        "CAST(count(*) AS BIGINT) AS n_orders FROM orders GROUP BY o_orderpriority " +
        "ORDER BY o_orderpriority")),

    // Headline: TPC-H Q3-style — selective join + group + distributed top-k.
    Q("q3_top_orders",
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, d)
        val li = Tables.lineitem(s, d)
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderkey", "o_orderdate")
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
          .orderBy(desc("revenue"), col("o_orderkey"))
          .limit(10)
          .select(col("o_orderkey"), col("revenue"))
      },
      Some("SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON o_orderkey = l_orderkey WHERE c_mktsegment = 'BUILDING' " +
        "GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10")),

    // Headline: TPC-H Q6-style — the pure pushdown query: every predicate
    // reaches the parquet scan, the agg is one scalar.
    Q("q6_forecast_revenue",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n")),
      Some("SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, " +
        "CAST(count(*) AS BIGINT) AS n FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24")),

    // Headline: TPC-H Q1-style scan-heavy aggregation.
    Q("q1_pricing_summary",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 1).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 1).as("sum_disc"),
          round(avg(col("l_quantity")), 5).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, " +
        "round(sum(l_extendedprice), 1) AS sum_base, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 1) AS sum_disc, " +
        "round(avg(l_quantity), 5) AS avg_qty, round(avg(l_extendedprice), 4) AS avg_price, " +
        "CAST(count(*) AS BIGINT) AS n FROM lineitem " +
        "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")),

    // Headline: star join — fact table joined through two broadcast dims.
    Q("q5_revenue_by_nation",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val n = Tables.nation(s, d)
        val r = Tables.region(s, d)
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 1).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("r_name", "n_name")
      },
      Some("SELECT r_name, n_name, round(sum(l_extendedprice * (1 - l_discount)), 1) AS revenue, " +
        "CAST(count(*) AS BIGINT) AS n_items FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name, n_name ORDER BY r_name, n_name"))
  )
}
