package graft

import org.apache.spark.sql.functions._

import graft.window.Windows

/** Unit + property coverage for the ordering-sensitive window operators
  * (SURVEY.md §2.5). Fixtures are tiny; semantics are checked against the
  * reference's pandas/NumPy behavior (documented per test).
  */
class WindowsSpec extends SparkSpec {
  import spark.implicits._

  private def series(n: Int) =
    spark.range(n.toLong).select(col("id").as("idx"), (col("id") * 2).cast("double").as("v"))

  test("W1: sliding windows size 100 step 50 — count = n/50 - 1, ordered contents") {
    val n = 400
    val wins = Windows.slidingWindows(series(n), "idx", "v", 100, 50)
      .orderBy("window_id").collect()
    // reference: [data[i:i+100] for i in range(0, len-50, 50)] → n/50 - 1 full windows
    assert(wins.length == n / 50 - 1)
    val first = wins.head.getSeq[Double](wins.head.fieldIndex("values"))
    assert(first == (0 until 100).map(_ * 2.0))
    val second = wins(1).getSeq[Double](wins(1).fieldIndex("values"))
    assert(second.head == 100.0) // starts at idx 50 → value 100
  }

  test("W1: window count property across sizes") {
    for (n <- Seq(150, 1000, 1040)) {
      val cnt = Windows.slidingWindows(series(n), "idx", "v", 100, 50).count()
      assert(cnt == n / 50 - 1, s"n=$n")
    }
  }

  test("W3: de-overlap stride 2 keeps even window ids = chunk(100)") {
    val wins = Windows.slidingWindows(series(500), "idx", "v", 100, 50)
    val deo = Windows.deoverlap(wins, "window_id", 2).orderBy("window_id").collect()
    assert(deo.map(_.getLong(0)).toSeq == Seq(0L, 2L, 4L, 6L, 8L))
    // de-overlapped windows tile the series without gaps: starts 0,100,…,400
    val starts = deo.map(r => r.getSeq[Double](r.fieldIndex("values")).head)
    assert(starts.toSeq == Seq(0.0, 200.0, 400.0, 600.0, 800.0))
  }

  test("W6: rolling min emits null for the first w-1 rows (pandas parity)") {
    val df = Seq((0L, 5.0), (1L, 3.0), (2L, 4.0), (3L, 1.0)).toDF("idx", "v")
    val out = Windows.rollingMin(df, "idx", "v", 3).orderBy("idx")
      .select("rolling_min").collect().map(r => Option(r.get(0)))
    assert(out.toSeq == Seq(None, None, Some(3.0), Some(1.0)))
  }

  test("W8: repeat ×k produces contiguous sample_idx") {
    val out = Windows.repeatRows(Seq((0L, 1.0), (1L, 2.0)).toDF("idx", "v"), "idx", 3)
      .orderBy("sample_idx").select("sample_idx", "v").as[(Long, Double)].collect()
    assert(out.toSeq == Seq((0L, 1.0), (1L, 1.0), (2L, 1.0), (3L, 2.0), (4L, 2.0), (5L, 2.0)))
  }

  test("W9: first-over-threshold returns 0 sentinel when nothing exceeds") {
    val df = Seq((0L, "a", 1.0), (1L, "a", 9.0), (2L, "b", 1.0)).toDF("idx", "g", "v")
    val out = Windows.firstOverThreshold(df, "idx", col("v") > 5, Seq("g"))
      .orderBy("g").as[(String, Long)].collect()
    assert(out.toSeq == Seq(("a", 1L), ("b", 0L)))
  }

  test("W10: no-exceed group yields NO anomalies (reference 0-sentinel → empty set)") {
    val df = Seq((0L, "a", 1.0), (1L, "a", 9.0), (2L, "a", 1.0),
                 (0L, "b", 1.0), (1L, "b", 2.0)).toDF("idx", "g", "v")
    val out = Windows.untilFailure(df, "idx", col("v") > 5, Seq("g"))
      .orderBy("g", "idx").select("g", "anomaly").as[(String, Boolean)].collect()
    assert(out.toSeq == Seq(("a", false), ("a", true), ("a", true),
                            ("b", false), ("b", false)))
  }

  test("W11: target beyond last timestamp → first_idx = n, fraction 1.0") {
    val df = Seq((0L, 10L), (1L, 20L)).toDF("idx", "ts")
    val out = Windows.searchSorted(df, "idx", "ts", lit(99L))
      .as[(Long, Double)].head()
    assert(out == ((2L, 1.0)))
  }

  test("W12: islands groups adjacent indexes into [start, end+1) spans") {
    val df = Seq(1L, 2L, 3L, 7L, 8L, 12L).toDF("idx")
    val out = Windows.islands(df, "idx").orderBy("span_start")
      .as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 4L), (7L, 9L), (12L, 13L)))
  }

  test("W13: scalable cumsum equals sequential cumsum across bucket edges") {
    val vals = (0 until 250).map(i => (i.toLong, (i % 7).toDouble))
    val df = vals.toDF("idx", "v")
    val expect = vals.map(_._2).scanLeft(0.0)(_ + _).tail
    for (buckets <- bucketCounts) {
      val out = Windows.rangeBucketedCumSum(df, Seq("idx"), Seq("v"), buckets)
        .orderBy("idx").select("v_cum").as[Double].collect()
      assert(out.length == expect.length)
      out.zip(expect).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9, s"buckets=$buckets") }
    }
  }

  test("W14: lag shift keeps first k values then shifts by k") {
    val df = (0 until 6).map(i => (i.toLong, i.toDouble)).toDF("idx", "v")
    val out = Windows.lagShift(df, "idx", "v", 2).orderBy("idx")
      .select("shifted").as[Double].collect()
    assert(out.toSeq == Seq(0.0, 1.0, 0.0, 1.0, 2.0, 3.0))
  }

  /** Unpartitioned Window nodes in the executed plan. A WindowExec plan
    * line has the shape `Window [fns], [partSpec], [orderSpec]` — one
    * top-level `], [` separator means the partition spec is missing.
    */
  private def globalDataWindows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("Window ["))
      .filter(l => "\\], \\[".r.findAllIn(l).size < 2)
      .toSeq

  /** A dense 0-based series with unordered values, and its local copy. */
  private val noisyVals = (0 until 100).map(i => ((i * 37) % 101).toDouble)
  private def noisy = noisyVals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("idx", "v")

  /** Chunk sizes from the halo itself up to one chunk for the series. */
  private def chunkSizes(halo: Int) = Seq(halo.toLong, 20L, 33L, 1000L)

  /** Bucket counts down to one bucket, and the default. */
  private val bucketCounts = Seq(1, 7, 64, 1024)

  test("W4: ungrouped temporalize equals a plain-Scala trailing frame at any chunk size") {
    val expect = (7 until 100).map(i => (i.toLong, noisyVals.slice(i - 7, i)))
    for (chunk <- chunkSizes(7)) {
      val got = Windows.temporalize(noisy, "idx", "v", 7, chunkSize = chunk)
        .orderBy("idx").select("idx", "history")
        .as[(Long, Seq[Double])].collect().toSeq
      assert(got == expect, s"chunkSize=$chunk")
    }
    // grouped: the same frame within each key, over sparse idx
    val grouped = Windows.temporalize(noisy.withColumn("g", col("idx") % 2), "idx", "v", 3, Seq("g"))
      .select("idx", "history").as[(Long, Seq[Double])].collect().toMap
    val expectG = (6 until 100).map(i => i.toLong -> Seq(6, 4, 2).map(d => noisyVals(i - d))).toMap
    assert(grouped == expectG)
  }

  test("W14: ungrouped lagShift equals a plain-Scala shift at any chunk size") {
    val expect = noisyVals.indices.map(i => noisyVals(if (i < 5) i else i - 5))
    for (chunk <- chunkSizes(5)) {
      val got = Windows.lagShift(noisy, "idx", "v", 5, chunkSize = chunk)
        .orderBy("idx").select("shifted").as[Double].collect().toSeq
      assert(got == expect, s"chunkSize=$chunk")
    }
  }

  test("sessionize: gap threshold splits the stream; grouped and chunked forms agree") {
    // ts: 0,10,20 | 700,710 | 1400 → 3 sessions at gap=600
    val ts = Seq(0L, 10L, 20L, 700L, 710L, 1400L)
    val df = ts.zipWithIndex.map { case (t, i) => (i.toLong, t, "k") }
      .toDF("idx", "ts", "g")
    val expect = Seq(0L, 0L, 0L, 1L, 1L, 2L)
    for (chunk <- Seq(2L, 4L, 100000L)) { // incl. chunk edges mid-session
      val got = Windows.sessionize(df, "idx", "ts", gap = 600, chunkSize = chunk)
        .orderBy("idx").select("session").as[Long].collect().toSeq
      assert(got == expect, s"chunkSize=$chunk got=$got")
    }
    val grouped = Windows.sessionize(df, "idx", "ts", gap = 600, partCols = Seq("g"))
      .orderBy("idx").select("session").as[Long].collect().toSeq
    assert(grouped == expect, s"grouped=$grouped")
  }

  test("chunked windows: no unpartitioned data window in the plan") {
    val df = series(100)
    val events = df.select(col("idx"), col("idx").as("id"), (col("idx") * 60).as("ts"),
      (col("idx") % 3).as("stratum"), (col("idx") % 11 + 1).as("w"))
    val plans = Map(
      "temporalize" -> Windows.temporalize(df, "idx", "v", 7),
      "lagShift" -> Windows.lagShift(df, "idx", "v", 5),
      "rollingMin" -> Windows.rollingMin(df, "idx", "v", 3),
      "rangeBucketedCumSum" -> Windows.rangeBucketedCumSum(df, Seq("idx"), Seq("v")),
      "sessionize" -> Windows.sessionize(events, "idx", "ts", gap = 100),
      "tokenBudgetSample" -> graft.prep.Prep.tokenBudgetSample(events, "id", "stratum", "w", 50),
      "packSequences" -> graft.prep.Prep.packSequences(events, "id", "w", 64),
      "asofJoin" -> Windows.asofJoin(events.select("id", "ts"),
        events.select(col("ts").as("rt"), col("w").as("v")), "ts", "rt", Seq("v")))
    plans.foreach { case (name, plan) => assert(globalDataWindows(plan).isEmpty, name) }
    // the one unpartitioned window left (sparse idx) — the helper must see it
    assert(globalDataWindows(graft.prep.Prep.timeGaps(events, "ts", "idx", 30)).nonEmpty)
  }

  test("rangeBucketedCumSum equals a sequential cumsum, asc and desc") {
    // distinct double keys, unordered insert, negatives included
    val keys = scala.util.Random.shuffle((0 until 200).toList)
      .map(i => (i - 50) * 0.37)
    val df = keys.map(k => (k, 1L, (math.abs(k * 10).toLong % 5)))
      .toDF("k", "c", "p")
    for (desc <- Seq(false, true); buckets <- bucketCounts) {
      val got = Windows.rangeBucketedCumSum(df, Seq("k"), Seq("c", "p"), buckets, desc)
        .orderBy("k").select("k", "c_cum", "p_cum")
        .as[(Double, Long, Long)].collect().toSeq
      val sorted = keys.sorted(if (desc) Ordering[Double].reverse else Ordering[Double])
      val expC = sorted.zipWithIndex.map { case (k, i) => k -> (i + 1L) }.toMap
      val cumP = sorted.map(k => math.abs(k * 10).toLong % 5)
        .scanLeft(0L)(_ + _).tail
      val expP = sorted.zip(cumP).toMap
      got.foreach { case (k, c, p) =>
        assert(c == expC(k) && p == expP(k), s"k=$k desc=$desc buckets=$buckets")
      }
    }
  }

  test("rangeBucketedCumSum: single distinct key (hi == lo) does not divide by zero") {
    val df = Seq((1.5, 2L), (1.5, 3L)).toDF("k", "c").groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("c").as("c"))
    val out = Windows.rangeBucketedCumSum(df, Seq("k"), Seq("c"), 16)
      .select("c_cum").as[Long].head()
    assert(out == 5L)
  }

  test("rangeBucketedCumSum: per-group totals, null-safe keys, tie-break column") {
    // keys repeat within a group (k = i % 9), so only (k, id) orders totally
    val rows = (0 until 120).map { i =>
      (Option(i % 3).filter(_ != 2).map(g => s"g$g"), (i % 9) * 1.5, i.toLong, (i % 4 + 1).toLong)
    }
    val df = rows.toDF("g", "k", "id", "w")
    for (desc <- Seq(false, true); buckets <- bucketCounts) {
      val got = Windows.rangeBucketedCumSum(df, Seq("k", "id"), Seq("w"), buckets, desc,
          partCols = Seq("g"))
        .select("id", "w_cum").as[(Long, Long)].collect().toMap
      val ord = Ordering.Tuple2[Double, Long]
      val expect = rows.groupBy(_._1).values.flatMap { rs =>
        val sorted = rs.sortBy(r => (r._2, r._3))(if (desc) ord.reverse else ord)
        sorted.map(_._3).zip(sorted.map(_._4).scanLeft(0L)(_ + _).tail)
      }.toMap
      assert(got == expect, s"desc=$desc buckets=$buckets")
    }
  }

  test("rangeBucketedCumSum: a null order key raises an error naming the column") {
    val df = Seq((Some(1.0), 1L), (None, 2L), (Some(3.0), 3L)).toDF("k", "c")
    val e = intercept[Exception](Windows.rangeBucketedCumSum(df, Seq("k"), Seq("c")).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("null in order column `k`"))), e)
  }

  test("W12-scalable: anti-join islands equals the window formulation") {
    val idxs = Seq(1L, 2L, 3L, 7L, 8L, 12L, 40L, 41L, 42L, 43L)
    // plain-Scala runs over the sparse idx
    val expect = idxs.foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, i) if i == e => (s, i + 1) :: rest
      case (acc, i) => (i, i + 1) :: acc
    }.reverse
    val df = idxs.toDF("idx")
    val ungrouped = Windows.islands(df, "idx").orderBy("span_start")
      .select("span_start", "span_end").as[(Long, Long)].collect().toSeq
    val windowed = Windows.islands(df.withColumn("g", lit(1)), "idx", Seq("g"))
      .orderBy("span_start").select("span_start", "span_end").as[(Long, Long)].collect().toSeq
    assert(ungrouped == expect && windowed == expect)
    assert(globalDataWindows(Windows.islands(df, "idx")).isEmpty)
    // single island and single element edge cases
    assert(Windows.islands(Seq(5L).toDF("idx"), "idx")
      .as[(Long, Long)].collect().toSeq == Seq((5L, 6L)))
  }

  test("W6: ungrouped rollingMin/Mean equal a plain-Scala frame at any chunk size") {
    def frames(i: Int) = if (i < 6) None else Some(noisyVals.slice(i - 6, i + 1))
    val expectMin = noisyVals.indices.map(i => frames(i).map(_.min))
    val expectMean = noisyVals.indices.map(i => frames(i).map(_.sum / 7))
    for (chunk <- chunkSizes(6)) {
      val got = Windows.rollingMean(Windows.rollingMin(noisy, "idx", "v", 7, chunkSize = chunk),
          "idx", "v", 7, chunkSize = chunk)
        .orderBy("idx").select("rolling_min", "rolling_mean").collect().toSeq
      assert(got.map(r => Option(r.get(0))) == expectMin, s"chunkSize=$chunk")
      got.map(r => Option(r.get(1)).map(_.asInstanceOf[Double])).zip(expectMean).foreach {
        case (a, b) => assert(a.isDefined == b.isDefined &&
          a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-9 }, s"chunkSize=$chunk")
      }
    }
  }

  test("asofJoin: grouped — latest right row at-or-before, inclusive ties, nulls before first") {
    val left = Seq((0L, "a", 10L), (1L, "a", 20L), (2L, "a", 30L), (3L, "b", 15L), (4L, "b", 5L))
      .toDF("id", "k", "t")
    val right = Seq(("a", 20L, 2.0), ("a", 25L, 2.5), ("b", 10L, 1.0))
      .toDF("k", "rt", "v")
    val got = Windows.asofJoin(left, right, "t", "rt", Seq("v"), partCols = Seq("k"))
      .orderBy("id")
      .select("id", "asof_ts", "asof_v")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    assert(got == Seq(
      (0L, None, None),            // before any right row in group a
      (1L, Some(20L), Some(2.0)),  // tie: inclusive — matches rt == t
      (2L, Some(25L), Some(2.5)),  // strictly-later right row ignored? no: 25 <= 30
      (3L, Some(10L), Some(1.0)),
      (4L, None, None)))           // b@5 precedes b's first right row
  }

  test("asofJoin: a right row with a NULL value still wins the match") {
    val left = Seq((0L, "a", 30L)).toDF("id", "k", "t")
    val right = Seq(("a", 10L, Some(1.0)), ("a", 20L, Option.empty[Double]))
      .toDF("k", "rt", "v")
    val got = Windows.asofJoin(left, right, "t", "rt", Seq("v"), partCols = Seq("k"))
      .select("asof_ts", "asof_v").collect()
    // the t=20 row is the as-of match even though its value is null —
    // per-column last(ignoreNulls) would have leaked 1.0 from t=10
    assert(got.head.getLong(0) == 20L && got.head.isNullAt(1))
  }

  test("asofJoin: null times — null-t left matches nothing, null-t right never matches") {
    val left = Seq((0L, Some(30L)), (1L, Option.empty[Long]), (2L, Some(5L)))
      .toDF("id", "t")
    val right = Seq((Some(10L), 1.0), (Option.empty[Long], 99.0)).toDF("rt", "v")
    // global (bucketed) form: the null-t left must NOT inherit the
    // carry ledger's latest right (the least()-skips-null bucket trap)
    val gotG = Windows.asofJoin(left, right, "t", "rt", Seq("v"))
      .orderBy("id").select("id", "asof_ts", "asof_v").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    // keyed single-group form must agree
    val gotK = Windows.asofJoin(left.withColumn("k", lit(1)),
        right.withColumn("k", lit(1)), "t", "rt", Seq("v"), partCols = Seq("k"))
      .orderBy("id").select("id", "asof_ts", "asof_v").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    val expect = Seq(
      (0L, Some(10L), Some(1.0)), // normal match; null-rt right (v=99) never wins
      (1L, None, None),           // null-t left: no fabricated match
      (2L, None, None))           // before any right
    assert(gotG == expect, s"global: $gotG")
    assert(gotK == expect, s"keyed: $gotK")
  }

  test("asofJoin: global bucketed form equals the single-group keyed form") {
    val n = 500
    val left = spark.range(n.toLong)
      .select(col("id"), (col("id") * 7 % 1000).as("t"), lit("g").as("k"))
    val right = spark.range(40L)
      .select((col("id") * 25 + 3).as("rt"), (col("id") * 1.5).as("v"), lit("g").as("k"))
    val expect = Windows.asofJoin(left, right, "t", "rt", Seq("v"), partCols = Seq("k"))
      .orderBy("id").select("id", "asof_ts", "asof_v")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    for (buckets <- Seq(1, 7, 64)) {
      val got = Windows.asofJoin(left.drop("k"), right.drop("k"), "t", "rt", Seq("v"),
          numBuckets = buckets)
        .orderBy("id").select("id", "asof_ts", "asof_v")
        .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSeq
      assert(got == expect, s"numBuckets=$buckets")
    }
    // scale posture: no unpartitioned data-sized window in the global plan
    assert(globalDataWindows(
      Windows.asofJoin(left.drop("k"), right.drop("k"), "t", "rt", Seq("v"))).isEmpty)
  }

  test("intervalJoin: equals the naive range join for any bucketWidth; [start,end) bounds") {
    val left = spark.range(200L).select(col("id"), (col("id") * 13 % 500).as("t"))
    val ivals = Seq((0L, 10L, 60L), (1L, 55L, 56L), (2L, 400L, 499L),
        (3L, 100L, 100L), (4L, 90L, 80L)) // 3, 4: empty → match nothing
      .toDF("ival_id", "s", "e")
    val naive = left.join(ivals, col("t") >= col("s") && col("t") < col("e"))
      .select("id", "ival_id").as[(Long, Long)].collect().sorted.toSeq
    assert(naive.nonEmpty)
    for (w <- Seq(1L, 7L, 64L, 1000L)) {
      val got = Windows.intervalJoin(left, ivals, "t", "s", "e", bucketWidth = w)
        .select("id", "ival_id").as[(Long, Long)].collect().sorted.toSeq
      assert(got == naive, s"bucketWidth=$w")
    }
    // boundary semantics: t == start matches, t == end does not
    val b = Windows.intervalJoin(
        Seq((0L, 10L), (1L, 60L)).toDF("id", "t"),
        Seq((9L, 10L, 60L)).toDF("ival_id", "s", "e"),
        "t", "s", "e", bucketWidth = 50L)
      .select("id").as[Long].collect().toSeq
    assert(b == Seq(0L))
  }

  test("retentionCohorts: cohort by first period, distinct per cell, frac vs own cohort") {
    val events = Seq(
      // cohort 0: u1 active periods 0,1,2; u2 active 0 only (twice -> distinct)
      (1L, 5L), (1L, 15L), (1L, 25L),
      (2L, 1L), (2L, 9L),
      // cohort 2: u3 active periods 2 and 3
      (3L, 21L), (3L, 35L))
      .toDF("user_id", "ts_sec")
    val got = Windows.retentionCohorts(events, "user_id", "ts_sec", bucket = 10L)
      .orderBy("cohort_start", "age")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (0L, 0L, 2L, 1.0), (0L, 1L, 1L, 0.5), (0L, 2L, 1L, 0.5),
      (2L, 0L, 1L, 1.0), (2L, 1L, 1L, 1.0)), s"got $got")
    // FLOOR division: a pre-epoch timestamp buckets to period -1, not 0
    // (truncation would fold it into period 0 and widen that bucket)
    val neg = Windows.retentionCohorts(
        Seq((9L, -5L), (9L, 5L)).toDF("user_id", "ts_sec"),
        "user_id", "ts_sec", bucket = 10L)
      .orderBy("age").as[(Long, Long, Long, Double)].collect().toSeq
    assert(neg == Seq((-1L, 0L, 1L, 1.0), (-1L, 1L, 1L, 1.0)), s"got $neg")
  }

  test("conversionFunnel: strict order, first-occurrence chaining, horizon cutoff") {
    val events = Seq(
      // u1 converts fully within horizon
      (1L, 0L, "A"), (1L, 10L, "B"), (1L, 20L, "C"),
      // u2 reaches B too late (horizon 100)
      (2L, 0L, "A"), (2L, 200L, "B"),
      // u3 never does A -> not in the funnel at all
      (3L, 5L, "B"), (3L, 6L, "C"),
      // u4 does B BEFORE A only -> step 2 unreachable
      (4L, 0L, "B"), (4L, 10L, "A"),
      // u5: chain is vs the FIRST A (t=0), so the B@50 counts but the
      // C must follow B@50, not the later A
      (5L, 0L, "A"), (5L, 90L, "A"), (5L, 50L, "B"), (5L, 40L, "C"))
      .toDF("user_id", "t", "typ")
    val got = Windows.conversionFunnel(events, "user_id", "t", "typ",
        Seq("A", "B", "C"), horizon = Some(100L))
      .orderBy("step").as[(Int, String, Long)].collect().toSeq
    // step1: u1,u2,u4,u5; step2: u1,u5 (u2 late, u4 pre-A); step3: u1
    // (u5's only C precedes its B)
    assert(got == Seq((1, "A", 4L), (2, "B", 2L), (3, "C", 1L)), s"got $got")
  }

  test("A8 plans: aucRoc keeps every data-sized window partitioned") {
    val df = (0 until 300).map(i => ((i % 97) * 0.21, i % 3 == 0)).toDF("s", "y")
    val auc = graft.eval.Eval.aucRoc(df, col("s"), col("y"))
    assert(globalDataWindows(auc).isEmpty, auc.queryExecution.executedPlan.toString)
  }
}
