package graft

import org.apache.spark.sql.functions._

import graft.core.Indexing
import graft.prep.Prep

class PrepSpec extends SparkSpec {
  import spark.implicits._

  test("Indexing: ordered idx is contiguous and follows the sort key") {
    val df = Seq(("c", 30), ("a", 10), ("b", 20), ("d", 40)).toDF("k", "v")
      .repartition(3)
    val out = Indexing.withOrderedIdx(df, "idx", col("k")).orderBy("idx")
      .select("k", "idx").as[(String, Long)].collect()
    assert(out.toSeq == Seq(("a", 0L), ("b", 1L), ("c", 2L), ("d", 3L)))
  }

  test("A1: downsample preserves global mean on multiples of k") {
    val vals = (0 until 120).map(i => (i.toLong, math.sin(i) * 10))
    val df = vals.toDF("idx", "v")
    val down = Prep.downsample(df, "idx", 10, Seq("v"))
    val globalMean = vals.map(_._2).sum / vals.size
    val downMean = down.agg(avg("v")).as[Double].head()
    assert(math.abs(globalMean - downMean) < 1e-9)
    assert(down.count() == 12)
  }

  test("P7: sequential split rounds UP to next multiple of chunk") {
    // reference: split_len = int(n*r) + (SPLIT - int(n*r) % SPLIT)
    val df = (0 until 1000).map(_.toLong).toDF("idx")
    val (train, rest) = Prep.sequentialSplit(df, "idx", 0.7, 64)
    val expected = 700 + (64 - 700 % 64) // 700 → 704
    assert(train.count() == expected)
    assert(rest.count() == 1000 - expected)
    // split is ORDERED, not random: max(train) < min(rest)
    assert(train.agg(max("idx")).as[Long].head() < rest.agg(min("idx")).as[Long].head())
  }

  test("P6: truncate to multiple of k") {
    val df = (0 until 1003).map(_.toLong).toDF("idx")
    assert(Prep.truncateToMultiple(df, "idx", 100).count() == 1000)
  }

  test("P11: standardize fits on the given slice only") {
    val fit = Seq(0.0, 10.0).toDF("v")      // μ=5, σ=√50 (sample)
    val tx = Seq(5.0, 10.0).toDF("v")
    val out = Prep.standardize(fit, tx, Seq("v")).select("v").as[Double].collect()
    val sd = math.sqrt(50.0)
    assert(math.abs(out(0) - 0.0) < 1e-9)
    assert(math.abs(out(1) - 5.0 / sd) < 1e-9)
  }

  test("R1/R2: unstack ∘ stack = identity") {
    val base = (0 until 50).map(i => (i.toLong, i * 1.0, i * 2.0, i * 3.0))
      .toDF("idx", "c0", "c1", "c2")
    val stacked = Prep.stackChannels(base, "idx", Seq("c0", "c1", "c2"))
    // channel-major: global 0..49 = c0, 50..99 = c1, 100..149 = c2
    val g = stacked.orderBy("global_idx").select("value").as[Double].collect()
    assert(g(0) == 0.0 && g(49) == 49.0 && g(50) == 0.0 && g(100) == 0.0 && g(149) == 147.0)
    val un = Prep.unstackChannels(stacked, "global_idx", "value", 3).orderBy("idx")
    val back = un.select("idx", "0", "1", "2").as[(Long, Double, Double, Double)].collect()
    base.orderBy("idx").as[(Long, Double, Double, Double)].collect()
      .zip(back).foreach { case (a, b) => assert(a == b) }
  }

  test("P12: duplicate timestamps are not flagged as stalls (distinct-ts semantics)") {
    // 3 samples per second, one real 5-second hole, one genuine 1-sec step
    val rows = Seq(10L, 10L, 10L, 11L, 11L, 11L, 16L, 16L, 16L)
      .zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
    val df = rows.toDF("idx", "ts")
    val gaps = Prep.timeGaps(df, "ts", "idx", 1)
      .select("ts", "gap_sec").as[(Long, Long)].collect().toSeq.sorted
    assert(gaps == Seq((11L, 1L))) // only the distinct 10→11 step; 11→16 gap=5 not ≤1
  }

  test("J5: sub-1/n fractional range expands to the EMPTY index set") {
    val df = Seq((0.25, 0.252)).toDF("a", "b")
    assert(graft.eval.Eval.rangesToIndexes(df, col("a"), col("b"), 100).count() == 0)
  }

  test("hashSplit: deterministic, exhaustive, roughly proportional, append-stable") {
    val df = (0L until 2000L).toDF("id")
    val fracs = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = Prep.hashSplit(df, "id", fracs).as[(Long, String)].collect().toMap
    val b = Prep.hashSplit(df, "id", fracs).as[(Long, String)].collect().toMap
    assert(a == b) // reproducible
    val counts = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > 1500 && counts("train") < 1700, s"counts=$counts")
    assert(counts("val") > 120 && counts("val") < 280, s"counts=$counts")
    // a row's split does not depend on what else is in the frame
    val subset = Prep.hashSplit(df.filter(col("id") < 100), "id", fracs)
      .as[(Long, String)].collect().toMap
    assert(subset.forall { case (id, s) => a(id) == s })
  }

  test("portableSplit: assignment equals the local Knuth-hash re-derivation") {
    val df = (0L until 2000L).toDF("id")
    val fracs = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = Prep.portableSplit(df, "id", fracs).as[(Long, String)].collect().toMap
    def knuth(id: Long) = java.lang.Math.floorMod(id * 2654435761L, 4294967296L) % 10000
    val expect = (0L until 2000L).map { id =>
      val b = knuth(id)
      id -> (if (b < 8000) "train" else if (b < 9000) "val" else "test")
    }.toMap
    assert(got == expect)
    // append-stable like hashSplit: a row's split ignores the rest of the frame
    val subset = Prep.portableSplit(df.filter(col("id") < 100), "id", fracs)
      .as[(Long, String)].collect().toMap
    assert(subset.forall { case (id, s) => got(id) == s })
  }

  test("tokenBudgetSample: per-stratum hash-order prefix within budget") {
    // weights 10..29 over 2 strata; local simulation is the contract
    val rows = (0L until 20L).map(i => (i, if (i % 2 == 0) "a" else "b", 10L + i))
    val df = rows.toDF("id", "stratum", "w")
    val budget = 60L
    def knuth(id: Long) = java.lang.Math.floorMod(id * 2654435761L, 4294967296L)
    val expected = rows.groupBy(_._2).flatMap { case (_, rs) =>
      val ordered = rs.sortBy(r => (knuth(r._1), r._1))
      val cums = ordered.scanLeft(0L)(_ + _._3).tail
      ordered.zip(cums).takeWhile(_._2 <= budget).map { case (r, c) => (r._1, c) }
    }.toMap
    // 20 hashes spread over the default buckets: cross-bucket offsets
    val got = Prep.tokenBudgetSample(df, "id", "stratum", "w", budget)
      .select(col("id"), col("_cum")).as[(Long, Long)].collect().toMap
    assert(got == expected, s"got=$got expected=$expected")
    // larger budget only ever adds rows (append-stable mixing)
    val wider = Prep.tokenBudgetSample(df, "id", "stratum", "w", budget * 2)
      .select(col("id")).as[Long].collect().toSet
    assert(expected.keySet.subsetOf(wider))
  }

  test("packSequences: exclusive hash-order token offsets match a local simulation") {
    val rows = (0L until 40L).map(i => (i, (i * 7) % 23 + 1))
    def knuth(id: Long) = java.lang.Math.floorMod(id * 2654435761L, 4294967296L)
    val ordered = rows.sortBy(r => (knuth(r._1), r._1))
    val starts = ordered.scanLeft(0L)(_ + _._2)
    val expected = ordered.zip(starts).map { case ((id, _), st) => (id, st, st / 64, st % 64) }
    val got = Prep.packSequences(rows.toDF("id", "w"), "id", "w", seqLen = 64L)
      .select("id", "_start", "seq_id", "seq_offset").as[(Long, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == expected.sortBy(_._1))
  }

  test("P4: multi-format timestamp parse falls back per row") {
    val df = Seq("2024-01-02 03:04:05", "02/01/2024 03:04:05", "garbage").toDF("s")
    val out = df.select(Prep.parseTimestampMulti(col("s"),
        Seq("yyyy-MM-dd HH:mm:ss", "dd/MM/yyyy HH:mm:ss")).cast("long").as("t"))
      .as[Option[Long]].collect()
    assert(out(0).isDefined && out(0) == out(1) && out(2).isEmpty)
  }

  test("quantileBuckets: quartile labels are equal-mass and ordered by value") {
    val df = spark.range(1000L).select(col("id"), ((col("id") * 37) % 1000).as("v"))
    val got = Prep.quantileBuckets(df, "v", Seq(0.25, 0.5, 0.75))
      .select("v", "bucket").as[(Long, Int)].collect()
    assert(got.map(_._2).distinct.sorted.toSeq == Seq(0, 1, 2, 3))
    // equal mass (v is a permutation of 0..999 → exact quartiles)
    val sizes = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(sizes.values.forall(n => n >= 249 && n <= 251), sizes.toString)
    // monotone: every bucket-k value is below every bucket-(k+1) value
    val maxByBucket = got.groupBy(_._2).view.mapValues(_.map(_._1).max).toMap
    val minByBucket = got.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    for (k <- 0 to 2) assert(maxByBucket(k) <= minByBucket(k + 1))
  }

  test("profile: one-pass row/null/exact-distinct counts per column") {
    val df = Seq((Some(1), "a"), (None, "a"), (Some(1), "b"), (Some(3), null))
      .toDF("x", "s")
    val got = Prep.profile(df, Seq("x", "s")).orderBy("col_name")
      .as[(String, Long, Long, Long)].collect().toSeq
    // countDistinct ignores nulls (SQL semantics) — x has {1, 3}, s has {a, b}
    assert(got == Seq(("s", 4L, 1L, 2L), ("x", 4L, 1L, 2L)))
    // single aggregate: exactly one scan of the source in the plan
    val scans = Prep.profile(df, Seq("x", "s")).queryExecution.optimizedPlan
      .collect { case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l }
    assert(scans.length == 1)
  }

  test("temperatureSample: alpha interpolates between natural (1) and balanced (0)") {
    // two strata, 9:1 — big has ids 0..899, small 900..999
    val df = spark.range(1000L)
      .select(col("id"), when(col("id") < 900, "big").otherwise("small").as("s"))
    def kept(alpha: Double, target: Long): Map[String, Long] =
      Prep.temperatureSample(df, "id", "s", alpha, target)
        .groupBy("s").count().as[(String, Long)].collect().toMap
    // alpha=1: rate is target/N for every stratum — shares stay natural
    val a1 = kept(1.0, 200L)
    assert(a1("big").toDouble / a1("small") > 4.0, a1.toString)
    // alpha=0: q_s = 1/#strata — small stratum fully kept (100 target each)
    val a0 = kept(0.0, 200L)
    assert(a0("small") == 100L, a0.toString) // rate 1.0: ALL of small kept
    assert(a0("big") < 200L)
    // monotone: lowering alpha shifts share toward the small stratum
    val mid = kept(0.5, 200L)
    assert(a1("small") <= mid("small") && mid("small") <= a0("small"))
    // deterministic membership: same call, same rows
    val ids = Prep.temperatureSample(df, "id", "s", 0.5, 200L)
      .select("id").as[Long].collect().toSet
    assert(ids == Prep.temperatureSample(df, "id", "s", 0.5, 200L)
      .select("id").as[Long].collect().toSet)
  }

  test("stratifiedTopK: exactly k per stratum, ranked by (hash, id), prefilter-safe") {
    val df = spark.range(5000L)
      .select(col("id"), (col("id") % 3).cast("string").as("s"))
    val got = Prep.stratifiedTopK(df, "id", "s", k = 7)
      .select("s", "id", "sample_rank").as[(String, Long, Int)].collect()
    assert(got.length == 21)
    assert(got.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._3).sorted.toSeq == (1 to 7) })
    // matches the unfiltered global ranking (the prefilter lost nothing)
    val expect = df.select(col("id"), col("s"), Prep.portableHash(col("id")).as("h"))
      .as[(Long, String, Long)].collect()
      .groupBy(_._2).toSeq.flatMap { case (s, rows) =>
        rows.sortBy(r => (r._3, r._1)).take(7).zipWithIndex
          .map { case (r, i) => (s, r._1, i + 1) }.toSeq
      }.toSet
    assert(got.toSet == expect)
    // a stratum smaller than safety*k is passed through whole (rate 1)
    val tiny = spark.range(10L).select(col("id"), lit("one").as("s"))
    assert(Prep.stratifiedTopK(tiny, "id", "s", k = 20).count() == 10L)
  }

  test("groupTopK: salted decomposition equals the single-window top-k") {
    // skewed strata (4900 / 90 / 10 rows) + heavy score ties
    val df = spark.range(5000L).select(col("id"),
      when(col("id") < 4900L, "big").when(col("id") < 4990L, "mid")
        .otherwise("small").as("g"),
      (col("id") % 7).cast("double").as("score"))
    val got = Prep.groupTopK(df, "g", "id", col("score"), k = 12)
      .select("g", "id", "score", "group_rank")
      .as[(String, Long, Double, Int)].collect()
    val expect = df.select(col("g"), col("id"), col("score"))
      .as[(String, Long, Double)].collect()
      .groupBy(_._1).toSeq.flatMap { case (g, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(12).zipWithIndex
          .map { case (r, i) => (g, r._2, r._3, i + 1) }
      }.toSet
    assert(got.toSet == expect)
    // a group smaller than k is kept whole
    assert(got.count(_._1 == "small") == 10)
    // exactness cannot depend on the salt count
    val one = Prep.groupTopK(df, "g", "id", col("score"), k = 12, salts = 1)
      .select("g", "id", "group_rank").as[(String, Long, Int)].collect().toSet
    val many = Prep.groupTopK(df, "g", "id", col("score"), k = 12, salts = 7)
      .select("g", "id", "group_rank").as[(String, Long, Int)].collect().toSet
    assert(one == many)
    // working-column collisions fail loudly instead of silently
    // replacing caller data (withColumn overwrites same-named columns)
    for (c <- Seq("_salt", "_r1", "group_rank")) {
      val bad = df.withColumn(c, lit(1))
      val e = intercept[IllegalArgumentException] {
        Prep.groupTopK(bad, "g", "id", col("score"), k = 12)
      }
      assert(e.getMessage.contains(c))
    }
  }
}
