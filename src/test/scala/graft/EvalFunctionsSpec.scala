package graft

import org.apache.spark.sql.functions._

import graft.eval.Eval
import graft.functions.{FftMagnitude, GraftFunctions}

class EvalFunctionsSpec extends SparkSpec {
  import spark.implicits._

  /** Count Spark jobs launched while `body` runs (job-group scoped). */
  private def jobsDuring(group: String)(body: => Unit): Int = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
    // status-store updates are async: drain the listener bus instead of
    // sleeping a fixed interval (flaky on loaded machines)
    org.apache.spark.graftTestBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  test("A6: confusion counts match set algebra") {
    val pred = Seq(1L, 2L, 3L).toDF("idx")
    val label = Seq(2L, 3L, 4L).toDF("idx")
    val out = Eval.confusion(pred, label, "idx", 10)
      .as[(Long, Long, Long, Long)].head()
    assert(out == ((2L, 1L, 1L, 6L))) // tp fp fn tn
  }

  test("A7: F1 zero-guards") {
    val df = Seq((false, false), (false, true)).toDF("p", "y")
    val out = Eval.f1Score(df, col("p"), col("y"))
      .select("precision", "recall", "f1").as[(Double, Double, Double)].head()
    assert(out == ((0.0, 0.0, 0.0)))
  }

  test("A8: AUC of a perfect separator is 1, of a random-constant is 0.5") {
    val perfect = Seq((0.1, false), (0.2, false), (0.8, true), (0.9, true)).toDF("s", "y")
    assert(math.abs(Eval.aucRoc(perfect, col("s"), col("y")).as[Double].head() - 1.0) < 1e-12)
    val const = Seq((0.5, false), (0.5, true), (0.5, false), (0.5, true)).toDF("s", "y")
    assert(math.abs(Eval.aucRoc(const, col("s"), col("y")).as[Double].head() - 0.5) < 1e-12)
  }

  test("A6: confusion uses SET semantics — duplicate indexes count once") {
    // reference operates on Python sets (src/util/calculations.py:68-71)
    val pred = Seq(1L, 1L, 2L, 3L, 3L).toDF("idx")
    val label = Seq(2L, 3L, 4L, 4L).toDF("idx")
    val out = Eval.confusion(pred, label, "idx", 10)
      .as[(Long, Long, Long, Long)].head()
    assert(out == ((2L, 1L, 1L, 6L)))
  }

  test("A6: universe-frame overload matches the literal-n overload") {
    val pred = Seq(1L, 2L).toDF("idx")
    val label = Seq(2L, 5L).toDF("idx")
    val universe = spark.range(10).toDF("idx")
    val a = Eval.confusion(pred, label, "idx", 10L).as[(Long, Long, Long, Long)].head()
    val b = Eval.confusion(pred, label, "idx", universe).as[(Long, Long, Long, Long)].head()
    assert(a == b)
  }

  test("J4: universeComplement = universe minus every exclude set") {
    val universe = spark.range(10).toDF("id")
    val ex1 = Seq(1L, 2L, 2L).toDF("id") // duplicates must not matter
    val ex2 = Seq(2L, 3L, 11L).toDF("id") // ids outside the universe ignored
    val out = Eval.universeComplement(universe, "id", Seq(ex1, ex2))
      .orderBy("id").as[Long].collect()
    assert(out.toSeq == Seq(0L, 4L, 5L, 6L, 7L, 8L, 9L))
  }

  test("A8: bucketed AUC matches a locally computed tie-averaged rank statistic") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { _ =>
      (math.floor(rnd.nextDouble() * 50) / 10.0, rnd.nextDouble() < 0.3)
    } // coarse grid → plenty of ties
    val got = Eval.aucRoc(rows.toDF("s", "y"), col("s"), col("y")).as[Double].head()
    // local reference: average rank over ties, Mann-Whitney
    val sorted = rows.sortBy(_._1)
    val ranks = scala.collection.mutable.Map[Double, Double]()
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
      ranks(sorted(i)._1) = (i + 1 + j) / 2.0 // avg of ranks i+1..j
      i = j
    }
    val p = rows.count(_._2).toDouble
    val n = rows.size - p
    val rsum = rows.filter(_._2).map(r => ranks(r._1)).sum
    val expect = (rsum - p * (p + 1) / 2.0) / (p * n)
    assert(math.abs(got - expect) < 1e-9, s"got=$got expect=$expect")
  }

  test("A8: AUC invariant under strictly monotone score transform") {
    val df = Seq((0.1, true), (0.3, false), (0.7, true), (0.9, true), (0.2, false))
      .toDF("s", "y")
    val a1 = Eval.aucRoc(df, col("s"), col("y")).as[Double].head()
    val a2 = Eval.aucRoc(df.withColumn("s2", exp(col("s") * 3)), col("s2"), col("y"))
      .as[Double].head()
    assert(math.abs(a1 - a2) < 1e-12)
  }

  test("A8: a null score raises an error instead of returning an AUC") {
    // a null has no place in the score order; the rank sweep's bucket
    // rule says so rather than ranking it after every real score
    val df = Seq((Some(0.1), false), (None, true), (Some(0.9), true)).toDF("s", "y")
    val e = intercept[Exception](Eval.aucRoc(df, col("s"), col("y")).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("null in order column `_s`"))), e)
  }

  test("A4: threshold is mean + k*sample-stddev (pandas ddof=1)") {
    val df = Seq(("a", 1.0), ("a", 3.0)).toDF("g", "v") // μ=2, s=√2
    val thr = Eval.threshold(df, "v", 4.0, Seq("g")).select("threshold").as[Double].head()
    assert(math.abs(thr - (2.0 + 4 * math.sqrt(2.0))) < 1e-12)
  }

  test("anomalyStart: sparse period ids detect positionally (chunk-gap regression)") {
    // Period VALUES 60000 apart span many 100k rolling chunks with < width
    // rows each — before densification, every chunk head lacked halo rows,
    // the rolling min was null everywhere, and the anomaly was silently
    // missed (0 sentinel). Positional semantics: validation = first 10% of
    // ROWS, detection at the 3rd anomalous ROW, reported as its period.
    val rows = (0 until 200).map(i => (i.toLong * 60000L, if (i >= 160) 100.0 else 1.0))
    val df = rows.toDF("period", "mse")
    val res = Eval.anomalyStart(df, "period", "mse").collect().head
    assert(res.getDouble(0) == 1.0, s"threshold=${res.getDouble(0)}")
    assert(res.getLong(1) == 162L * 60000L, s"anomaly_start=${res.getLong(1)}")
  }

  test("anomalyStart grouped: per-group start and threshold match a plain-Scala reference") {
    // validation = first floor(n·frac) periods by position, μ + k·σ
    // (ddof=1; null below two values), rolling min over w positions with
    // a null head, first period whose rolling min exceeds the threshold,
    // 0 when none or when the threshold is null
    def reference(series: Seq[(Long, Double)], frac: Double, k: Double,
                  w: Int): (Option[Double], Long) = {
      val s = series.sortBy(_._1)
      val v = s.take(math.floor(s.size * frac).toInt).map(_._2)
      val thr = if (v.size < 2) None else {
        val mu = v.sum / v.size
        Some(mu + k * math.sqrt(v.map(x => (x - mu) * (x - mu)).sum / (v.size - 1)))
      }
      val start = thr.flatMap { t =>
        (w - 1 until s.size).find(i => s.slice(i - w + 1, i + 1).map(_._2).min > t).map(s(_)._1)
      }.getOrElse(0L)
      (thr, start)
    }
    val rnd = new scala.util.Random(11)
    // validation values lie in [1, 1.1), later normal ones in [0.9, 1), so
    // only fault values (≥ 9) can pass a threshold of μ + 4σ ≥ 1
    def value(pos: Int, n: Int, fault: Boolean) =
      (if (fault) 9.0 else if (pos < n / 10) 1.0 else 0.9) + rnd.nextDouble() * 0.1
    val groups: Map[(String, Int), Seq[(Long, Double)]] = Map(
      // fewer than 1/validationFrac periods: empty validation slice
      ("a", 1) -> (0 until 8).map(p => (p.toLong, value(p, 8, p >= 5))),
      // sparse period ids, fault from the 30th period on
      ("a", 2) -> (0 until 40).map(i => (i * 7L + (i % 3), value(i, 40, i >= 30))),
      // never exceeds its threshold
      ("b", 1) -> (0 until 30).map(p => (p.toLong, value(p, 30, fault = false))),
      // lone spikes the rolling min suppresses, then a sustained fault
      ("b", 2) -> (0 until 50).map(p => (p.toLong,
        value(p, 50, p == 12 || p == 20 || p == 21 || p >= 41))))
    val df = groups.toSeq.flatMap { case ((m, mach), rows) =>
      rows.map { case (p, v) => (m, mach, p, v) }
    }.toDF("model", "machine", "period", "mse")
    val got = Eval.anomalyStart(df, "period", "mse", validationFrac = 0.1, k = 4.0,
        rollingWidth = 3, groupCols = Seq("model", "machine"))
      .select("model", "machine", "threshold", "anomaly_start").collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getLong(3))).toMap
    assert(got.keySet == groups.keySet)
    groups.foreach { case (g, rows) =>
      val (thr, start) = reference(rows, 0.1, 4.0, 3)
      val (gotThr, gotStart) = got(g)
      assert(gotThr.isDefined == thr.isDefined &&
        gotThr.zip(thr).forall { case (a, b) => math.abs(a - b) < 1e-9 },
        s"$g threshold $gotThr, expected $thr")
      assert(gotStart == start, s"$g anomaly_start $gotStart, expected $start")
    }
    assert(got(("a", 1)) == ((None, 0L)) && got(("b", 1))._2 == 0L)
    assert(got(("a", 2))._2 == 32 * 7L + 2 && got(("b", 2))._2 == 43L)
  }

  test("M3: FFT magnitude matches direct DFT on power-of-two input") {
    val x = Array.tabulate(64)(i => math.sin(2 * math.Pi * 5 * i / 64.0) + 0.3)
    val fft = FftMagnitude.magnitudes(x)
    // DC bin = |sum| = 64*0.3; bin 5 = n/2 = 32 for unit sine
    assert(math.abs(fft(0) - 64 * 0.3) < 1e-9)
    assert(math.abs(fft(5) - 32.0) < 1e-9)
    // symmetry |X[k]| = |X[n-k]| for real input
    (1 until 32).foreach(k => assert(math.abs(fft(k) - fft(64 - k)) < 1e-9))
  }

  test("M3: non-power-of-two falls back to exact DFT; expression works on columns") {
    val x = Array(1.0, 2.0, 3.0) // n=3: X0=6, |X1|=|X2|=√3
    val m = FftMagnitude.magnitudes(x)
    assert(math.abs(m(0) - 6.0) < 1e-12)
    assert(math.abs(m(1) - math.sqrt(3.0)) < 1e-12)
    val df = Seq(Seq(1.0, 2.0, 3.0)).toDF("w")
    val viaCol = df.select(GraftFunctions.fft_magnitude(col("w"))).as[Seq[Double]].head()
    assert(viaCol.zip(m).forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("ext: minhash LSH finds a near-duplicate pair, not unrelated docs") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (2L, "completely different content about spark catalyst optimizer internals here")
    ).toDF("doc_id", "text")
    val pairs = graft.ext.Dedup.minhashCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((1L, 2L)))
    val verified = graft.ext.Dedup.jaccardVerify(
      pairs.toSeq.toDF("id1", "id2"), docs, "doc_id", "text")
      .select("jaccard").as[Double].head()
    assert(verified > 0.5)
  }

  test("ext: jaccardVerifyFromPairs equals jaccardVerify; stored plan reads no text") {
    val docs = Seq(
      (0L, "a b c d e f g h"),
      (1L, "a b c d e f g z"),
      (2L, "q r s t u v w x"),
      (3L, "a b"), // shorter than one 3-shingle: drops from both paths
      (7L, "q r s t u v w y")
    ).toDF("doc_id", "text")
    val pairsIn = Seq((0L, 1L), (0L, 2L), (2L, 7L), (0L, 3L), (5L, 6L))
      .toDF("id1", "id2")
    val inline = graft.ext.Dedup.jaccardVerify(pairsIn, docs, "doc_id", "text")
      .orderBy("id1", "id2").as[(Long, Long, Double)].collect().toSeq
    val grams = graft.ext.TextAnalysis.ngramPairs(docs, "doc_id", "text", n = 3)
    val fromPairs = graft.ext.Dedup.jaccardVerifyFromPairs(pairsIn, grams)
      .orderBy("id1", "id2").as[(Long, Long, Double)].collect().toSeq
    assert(fromPairs == inline, s"stored-pair verify diverged:\n$fromPairs\n$inline")
    // the gramRows option on jaccardVerify routes to the same stored path
    val viaOption = graft.ext.Dedup.jaccardVerify(
        pairsIn, docs, "doc_id", "text", gramRows = Some(grams))
      .orderBy("id1", "id2").as[(Long, Long, Double)].collect().toSeq
    assert(viaOption == inline, s"gramRows delegation diverged:\n$viaOption\n$inline")
    // the missing-doc pair (5,6) and the short-doc pair (0,3) drop in both
    assert(inline.map(r => (r._1, r._2)) == Seq((0L, 1L), (0L, 2L), (2L, 7L)))
    // against a WRITTEN table the verify plan never re-shingles text
    graft.core.Layout.writeBucketed(grams, "jaccard_gram_index", 4, "_id")
    val stored = graft.ext.Dedup.jaccardVerifyFromPairs(
      pairsIn, spark.table("jaccard_gram_index"))
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("jaccard_gram_index"), "plan does not scan the stored gram table")
    assert(!plan.toLowerCase.contains("split"), // the shingle path tokenizes via split()
      s"stored-pair verify plan touches text:\n${plan.take(1200)}")
  }

  test("ext: quantizeInt8 codes hit the range ends; constant dims code to 0") {
    val vecs = Seq(
      (0L, Array(0.0f, 5.0f, 7.0f)),
      (1L, Array(10.0f, 5.0f, 3.0f)),
      (2L, Array(5.0f, 5.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val got = graft.ext.Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .orderBy("vec_id").select("codes", "mse")
      .as[(Seq[Int], Double)].collect()
    // dim0 spans [0,10]: codes 0/255/128 (5/10*255+.5 floors to 128)
    // dim1 constant: code 0 everywhere, zero error contribution
    // dim2 spans [3,7]: codes 255/0/128
    assert(got(0)._1 == Seq(0, 0, 255) && got(1)._1 == Seq(255, 0, 0) &&
      got(2)._1 == Seq(128, 0, 128))
    // range-end codes reconstruct exactly; only the midpoints carry error
    val mid0 = math.pow(5.0 - 128.0 / 255 * 10, 2)
    val mid2 = math.pow(5.0 - (3 + 128.0 / 255 * 4), 2)
    assert(math.abs(got(0)._2) < 1e-12 && math.abs(got(1)._2) < 1e-12)
    assert(math.abs(got(2)._2 - (mid0 + mid2) / 3) < 1e-12)
  }

  test("ext: decontaminate flags n-gram overlap with the benchmark set only") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),   // shares 4-grams w/ bench
      (1L, "one two three four five six seven"),     // clean
      (2L, "alpha beta gamma delta unrelated tail")  // shares exactly one 4-gram
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "prefix alpha beta gamma delta epsilon suffix"))
      .toDF("doc_id", "text")
    val got = graft.ext.Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 4)
      .orderBy("doc_id").as[(Long, Boolean, Long)].collect().toSeq
    // doc 0: "alpha beta gamma delta" + "beta gamma delta epsilon" = 2 shared
    assert(got == Seq((0L, true, 2L), (1L, false, 0L), (2L, true, 1L)))
  }

  test("ext: normalize canonicalizes case/punct/whitespace; dedup catches near-copies") {
    val docs = Seq(
      (1L, "Hello, World!"),
      (2L, "hello  world"),      // same after normalization
      (3L, "(hello) [world]"),   // same after normalization
      (4L, "goodbye world")
    ).toDF("doc_id", "text")
    val norm = docs.select(graft.ext.TextAnalysis.normalize(col("text")).as("n"))
      .as[String].collect().toSeq
    assert(norm == Seq("hello world", "hello world", "hello world", "goodbye world"))
    val survivors = graft.ext.Dedup.exact(
        docs.withColumn("text", graft.ext.TextAnalysis.normalize(col("text"))),
        "doc_id", "text")
      .select("keep_id", "copies").orderBy("keep_id")
      .as[(Long, Long)].collect().toSeq
    assert(survivors == Seq((1L, 3L), (4L, 1L)))
  }

  test("ext: canonicalPerCluster — highest score wins, ties break to lowest id") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("id", "cluster")
    val quality = Seq((1L, 10L), (2L, 30L), (3L, 30L), (7L, 5L), (9L, 5L))
      .toDF("doc_id", "score")
    val got = graft.ext.Dedup.canonicalPerCluster(
        clusters, "id", "cluster", quality, "doc_id", "score")
      .orderBy("cluster").as[(Long, Long, Long)].collect().toSeq
    // cluster 1: scores 10/30/30 -> tie between 2 and 3 -> lowest id 2
    // cluster 7: tie between 7 and 9 -> 7
    assert(got == Seq((1L, 2L, 3L), (7L, 7L, 2L)))
  }

  test("ext: canonicalPerCluster — unscored members still count; scored members outrank them") {
    val clusters = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)).toDF("id", "cluster")
    // doc 1 unscored (quality computed on a filtered corpus); cluster 5 all unscored
    val quality = Seq((2L, 1L)).toDF("doc_id", "score")
    val got = graft.ext.Dedup.canonicalPerCluster(
        clusters, "id", "cluster", quality, "doc_id", "score")
      .orderBy("cluster").as[(Long, Long, Long)].collect().toSeq
    // cluster 1: members 2 (not 1!), scored doc 2 beats unscored doc 1
    // cluster 5: no scores anywhere -> lowest id wins
    assert(got == Seq((1L, 2L, 2L), (5L, 5L, 2L)))
  }

  test("ext: bpeLearn — reproduces the hand-derived merge sequence on the classic fixture") {
    // the Sennrich et al. corpus: low×5 lower×2 newest×6 widest×3
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val got = graft.ext.TextAnalysis.bpeLearn(Seq(text).toDF("text"), "text", 8)
      .as[(Int, String, String, Long)].collect().toSeq
    // hand-derived greedy merges; ties break count desc then left/right asc
    assert(got == Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "l", "o", 7L),
      (4, "lo", "w", 7L), (5, "e", "w", 6L), (6, "ew", "est", 6L),
      (7, "n", "ewest", 6L), (8, "d", "est", 3L)), s"got $got")
  }

  test("ext: bpeEncode — applies merges in rank order with the learner's greedy fold") {
    val learnText = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val merges = graft.ext.TextAnalysis.bpeLearn(Seq(learnText).toDF("text"), "text", 8)
      .orderBy("merge_rank").select("left", "right")
      .as[(String, String)].collect().toSeq
    // unseen word "lowest" = low + est under the learned merges;
    // "newest" fully merges; unseen chars stay single symbols
    val got = graft.ext.TextAnalysis.bpeEncode(
        Seq((1L, "lowest newest qi")).toDF("doc_id", "text"), "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().head
    assert(got == (1L, Seq("low", "est", "newest", "q", "i")), s"got $got")
  }

  test("ext: bpeLearnBatched — bitwise table parity with bpeLearn, in fewer jobs") {
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val corpus = Seq(text).toDF("text")
    var seq: Seq[(Int, String, String, Long)] = null
    var bat: Seq[(Int, String, String, Long)] = null
    val seqJobs = jobsDuring("bpe_seq") {
      seq = graft.ext.TextAnalysis.bpeLearn(corpus, "text", 8)
        .as[(Int, String, String, Long)].collect().toSeq
    }
    // driverVocabLimit = 0 forces the distributed rounds — the path this
    // test prices; the driver-tail regime is pinned separately below
    val batJobs = jobsDuring("bpe_bat") {
      bat = graft.ext.TextAnalysis.bpeLearnBatched(corpus, "text", 8,
          driverVocabLimit = 0L)
        .as[(Int, String, String, Long)].collect().toSeq
    }
    assert(bat == seq, s"batched learner diverged:\n$bat\n$seq")
    assert(batJobs < seqJobs,
      s"batched learner should launch fewer jobs: $batJobs vs $seqJobs")
    // the AQE-off override lives on a cloned session, never the caller's
    assert(spark.conf.get("spark.sql.adaptive.enabled") != "false",
      "batched learner mutated the caller's session conf")
  }

  test("ext: bpeLearnBatched — parity with bpeLearn on corpus data and on " +
      "an interaction-heavy fixture") {
    // real corpus: every sf's documents table (31 word types); 40 merges
    // spans several batch rounds and the feeder-bound stops
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val seq = graft.ext.TextAnalysis.bpeLearn(docs, "text", 40)
      .as[(Int, String, String, Long)].collect().toSeq
    val bat = graft.ext.TextAnalysis.bpeLearnBatched(docs, "text", 40,
        driverVocabLimit = 0L)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(bat == seq, s"batched learner diverged on documents:\n$bat\n$seq")
    // the DEFAULT (driver-tail) regime: same table, bitwise — the
    // 31-word corpus is far under the collect limit
    val batD = graft.ext.TextAnalysis.bpeLearnBatched(docs, "text", 40)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(batD == seq, s"driver-tail learner diverged on documents:\n$batD\n$seq")
    // chained merges: each winner feeds the next ((a,a)->(aa,a)->...),
    // so every batch must stop at one merge yet stay exact
    val chain = Seq((Seq.fill(3)("aaaaaaaa") :+ "bbbb").mkString(" ")).toDF("text")
    val seqC = graft.ext.TextAnalysis.bpeLearn(chain, "text", 6)
      .as[(Int, String, String, Long)].collect().toSeq
    val batC = graft.ext.TextAnalysis.bpeLearnBatched(chain, "text", 6,
        driverVocabLimit = 0L)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(batC == seqC, s"batched learner diverged on chained merges:\n$batC\n$seqC")
    val chainD = graft.ext.TextAnalysis.bpeLearnBatched(chain, "text", 6)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(chainD == seqC, s"driver-tail learner diverged on chained merges:\n$chainD\n$seqC")
    // tiny topK still exact (outside-top-K feeder bound engages)
    val batK = graft.ext.TextAnalysis.bpeLearnBatched(docs, "text", 40,
        maxBatch = 4, topK = 4, driverVocabLimit = 0L)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(batK == seq, s"batched learner diverged at topK=4:\n$batK\n$seq")
  }

  test("ext: bpeLearnBatched — distributed rounds on the sf0.1 corpus " +
      "match the driver-tail regime (r10 verdict item 8)") {
    // the 64k driver tail handles every bench corpus, so without this
    // test the distributed rounds would only ever run in the 10x scale
    // study — here they run in CI against the biggest local corpus, with
    // a job-count assertion proving the distributed path actually ran
    assume(new java.io.File("/root/testdata/sf0.1/documents.parquet").exists())
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    var dist: Seq[(Int, String, String, Long)] = null
    var tail: Seq[(Int, String, String, Long)] = null
    val distJobs = jobsDuring("bpe_dist_sf01") {
      dist = graft.ext.TextAnalysis.bpeLearnBatched(docs, "text", 60,
          driverVocabLimit = 0L)
        .as[(Int, String, String, Long)].collect().toSeq
    }
    val tailJobs = jobsDuring("bpe_tail_sf01") {
      tail = graft.ext.TextAnalysis.bpeLearnBatched(docs, "text", 60)
        .as[(Int, String, String, Long)].collect().toSeq
    }
    assert(dist.nonEmpty && dist == tail,
      s"distributed rounds diverged from driver tail on sf0.1:\n$dist\n$tail")
    // driver tail = probe + collect + final parallelize; distributed
    // rounds relaunch per batch — materially more jobs, or the forced
    // regime silently fell through to the tail
    assert(distJobs > tailJobs,
      s"distributed path did not run: $distJobs jobs vs driver tail's $tailJobs")
  }

  test("ext: bpeEncodeScalable — bitwise parity with the expression-chain " +
      "encoder; rank-order replay pinned against best-rank-first") {
    val learnText = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val merges = graft.ext.TextAnalysis.bpeLearn(
        Seq(learnText).toDF("text"), "text", 8)
      .orderBy("merge_rank").select("left", "right")
      .as[(String, String)].collect().toSeq
    val probe = Seq((1L, "lowest newest qi"), (2L, ""), (3L, "low low"))
      .toDF("doc_id", "text")
    val viaChain = graft.ext.TextAnalysis.bpeEncode(probe, "doc_id", "text", merges)
      .orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq
    val viaScalable = graft.ext.TextAnalysis.bpeEncodeScalable(
        probe, "doc_id", "text", merges)
      .orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq
    assert(viaScalable == viaChain, s"encoders diverged:\n$viaScalable\n$viaChain")
    // corpus-wide parity with a learned table
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val learned = graft.ext.TextAnalysis.bpeLearnBatched(docs, "text", 12)
      .orderBy("merge_rank").select("left", "right")
      .as[(String, String)].collect().toSeq
    val chainDocs = graft.ext.TextAnalysis.bpeEncode(docs, "doc_id", "text", learned)
      .orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq
    val scalDocs = graft.ext.TextAnalysis.bpeEncodeScalable(
        docs, "doc_id", "text", learned)
      .orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq
    assert(scalDocs == chainDocs, "encoders diverged on documents")
    // spelling-collision table: rank 1 = (xy, z), rank 2 = (x, y) whose
    // concatenation IS rank 1's left symbol. Exhaustive rank-order
    // replay leaves [xy, z] (rank 1's pass ran before "xy" existed);
    // a best-rank-first encoder would re-visit rank 1 and emit [xyz] —
    // this pins the exact semantics both encoders must share
    val collide = Seq(("xy", "z"), ("x", "y"))
    val word = Seq((1L, "xyz")).toDF("doc_id", "text")
    val chainC = graft.ext.TextAnalysis.bpeEncode(word, "doc_id", "text", collide)
      .as[(Long, Seq[String])].collect().head
    val scalC = graft.ext.TextAnalysis.bpeEncodeScalable(
        word, "doc_id", "text", collide)
      .as[(Long, Seq[String])].collect().head
    assert(chainC == ((1L, Seq("xy", "z"))), s"chain got $chainC")
    assert(scalC == chainC, s"scalable got $scalC, chain got $chainC")
  }

  test("ext: bpeEncode kernel — bitwise parity with the interpreted HOF " +
      "chain, incl. null text, space runs, and a learned corpus table") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val learned = graft.ext.TextAnalysis.bpeLearnBatched(docs, "text", 12)
      .orderBy("merge_rank").select("left", "right")
      .as[(String, String)].collect().toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").as[(Long, Option[Seq[String]])].collect().toSeq
    val kernelDocs = rows(graft.ext.TextAnalysis.bpeEncode(docs, "doc_id", "text", learned))
    val hofDocs = rows(TextAnalysisTwins.bpeEncodeHof(docs, "doc_id", "text", learned))
    assert(kernelDocs == hofDocs, "kernel diverged from HOF chain on documents")
    // null text → null array (both); space runs and edge spaces collapse;
    // empty text → empty array
    val edge = Seq((1L, null), (2L, "  low   lower "), (3L, ""), (4L, " "))
      .asInstanceOf[Seq[(Long, String)]].toDF("doc_id", "text")
    val kernelE = rows(graft.ext.TextAnalysis.bpeEncode(edge, "doc_id", "text", learned))
    val hofE = rows(TextAnalysisTwins.bpeEncodeHof(edge, "doc_id", "text", learned))
    assert(kernelE == hofE, s"edge-case divergence:\n$kernelE\n$hofE")
    assert(kernelE.head._2.isEmpty, "null text must encode to null")
    assert(kernelE(2)._2.contains(Seq.empty), "empty text must encode to []")
    assert(kernelE(3)._2.contains(Seq.empty), "all-space text must encode to []")
  }

  test("ext: bpeEncodeScalable — duplicate ids encode per row; non-BMP " +
      "chars split by code point like the expression chain") {
    val merges = Seq(("a", "b"))
    // duplicate ids with DIFFERENT texts stay separate rows (row identity
    // is the (id, text-hash) pair), and exact-duplicate rows fan back out
    // with identical arrays instead of interleaving
    val dup = Seq((1L, "ab"), (1L, "cd"), (2L, "ab"), (2L, "ab"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[String])] =
      df.as[(Long, Seq[String])].collect().toSeq
        .sortBy { case (id, subs) => (id, subs.mkString("\u0000")) }
    val chainDup = rows(graft.ext.TextAnalysis.bpeEncode(dup, "doc_id", "text", merges))
    val scalDup = rows(graft.ext.TextAnalysis.bpeEncodeScalable(dup, "doc_id", "text", merges))
    assert(chainDup == Seq((1L, Seq("ab")), (1L, Seq("c", "d")),
      (2L, Seq("ab")), (2L, Seq("ab"))), s"chain got $chainDup")
    assert(scalDup == chainDup, s"scalable diverged:\n$scalDup\n$chainDup")
    // astral-plane text: the word UDF must split by CODE POINT — UTF-16
    // units would shear the emoji into two lone surrogates
    val emoji = Seq((1L, "😀ab x😀")).toDF("doc_id", "text")
    val chainE = rows(graft.ext.TextAnalysis.bpeEncode(emoji, "doc_id", "text", merges))
    val scalE = rows(graft.ext.TextAnalysis.bpeEncodeScalable(emoji, "doc_id", "text", merges))
    assert(chainE == Seq((1L, Seq("😀", "ab", "x", "😀"))),
      s"chain got $chainE")
    assert(scalE == chainE, s"scalable diverged on non-BMP:\n$scalE\n$chainE")
  }

  test("ext: bpeLearn — stops early when every word is fully merged") {
    val got = graft.ext.TextAnalysis.bpeLearn(Seq("ab ab cd").toDF("text"), "text", 5)
      .as[(Int, String, String, Long)].collect().toSeq
    // two merges exhaust both words; asked-for extra ranks never happen
    assert(got == Seq((1, "a", "b", 2L), (2, "c", "d", 1L)), s"got $got")
  }

  test("ext: oovRate — occurrence-weighted OOV against the deterministic top-k cut") {
    // freqs: aa=4, bb=3, cc=2, dd=2, zz=1; vocabSize=3 -> {aa, bb, cc}
    // (cc beats dd on the token-asc tie-break)
    val docs = Seq(
      (1L, "aa aa bb cc"),          // 0/4 OOV
      (2L, "aa bb dd dd zz"),       // dd,dd,zz -> 3/5 OOV
      (3L, "aa aa bb cc"))          // 0/4 OOV
      .toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.oovRate(docs, "doc_id", "text", vocabSize = 3)
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 4L, 0.0), (2L, 5L, 0.6), (3L, 4L, 0.0)), s"got $got")
  }

  test("ext: compressionRatio — repetition compresses further; deterministic; empty is 1.0") {
    val docs = Seq(
      (1L, Seq.fill(200)("spam").mkString(" ")),          // extreme repetition
      (2L, (0 until 200).map(i => s"w${i * 7919 % 997}").mkString(" ")), // varied
      (3L, "")).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.compressionRatio(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(got(0)._3 < got(1)._3, s"repetitive text should compress further: $got")
    assert(got(0)._3 > 0 && got(1)._3 < 1.0)
    assert(got(2) == ((3L, 0L, 1.0)))
    val again = graft.ext.TextAnalysis.compressionRatio(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(again == got, "deflate signal must be deterministic")
  }

  test("ext: bm25Score — rarer terms outrank common ones; non-matching docs absent") {
    val docs = Seq(
      (1L, "spark spark spark catalyst"),  // tf(spark)=3
      (2L, "spark flink"),                 // one spark + the rare term
      (3L, "flink flink beam"),            // rare term twice
      (4L, "beam beam beam beam"))         // matches nothing in the query
      .toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.bm25Score(docs, "doc_id", "text",
        Seq("spark", "flink"))
      .orderBy("doc_id").as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L), s"got $got")
    val byId = got.toMap
    // tf saturation: doc 2's two DISTINCT query terms outrank both
    // doc 3's repeated flink and doc 1's thrice-repeated spark
    assert(byId(2L) > byId(3L) && byId(2L) > byId(1L), s"got $byId")
    assert(byId(3L) > 0 && byId(1L) > 0)
    // hand-check doc 1: N=4, df(spark)=2, idf=ln((4-2+.5)/(2+.5)+1)=ln(2)
    // tf=3, dl=4, avgdl=13/4 -> s = ln(2)*3*2.2/(3+1.2*(0.25+0.75*16/13))
    val expect1 = math.log(2.0) * 3 * 2.2 /
      (3 + 1.2 * (0.25 + 0.75 * 4.0 / (13.0 / 4.0)))
    assert(math.abs(byId(1L) - expect1) < 1e-9, s"${byId(1L)} vs $expect1")
  }

  test("ext: datasetCard — exact entropy identity; uniform langs give ln(k)") {
    // 4 docs over 2 langs uniformly -> entropy ln(2); one dup text
    val docs = Seq(
      (1L, "s1", "en", "a b"),
      (2L, "s1", "en", "a b"),
      (3L, "s2", "de", "c d e"),
      (4L, "s2", "de", "f"))
      .toDF("doc_id", "source", "lang", "text")
    val got = graft.ext.TextAnalysis.datasetCard(docs, "source", "lang", "text")
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect().head
    assert(got._1 == 4L && got._2 == 8L && got._3 == 2L && got._4 == 2L)
    assert(got._5 == 0.25, s"dup_frac ${got._5}") // 3 distinct of 4
    assert(got._6 == 2.0, s"mean tokens ${got._6}")
    assert(math.abs(got._7 - math.log(2.0)) < 1e-6, s"entropy ${got._7}")
  }

  test("ext: sourceOverlap — distinct shared n-grams per pair, no self or reversed pairs") {
    val docs = Seq(
      ("s1", "a b c d e"),     // grams: abcd, bcde
      ("s1", "a b c d x"),     // + abcx... distinct within source
      ("s2", "a b c d e"),     // shares abcd, bcde with s1
      ("s3", "a b c d z"),     // shares abcd with s1, s2
      ("s4", "q r s t u"))     // shares nothing
      .toDF("source", "text")
    val got = graft.ext.TextAnalysis.sourceOverlap(docs, "source", "text", n = 4)
      .orderBy("source_a", "source_b").as[(String, String, Long)].collect().toSeq
    assert(got == Seq(
      ("s1", "s2", 2L), ("s1", "s3", 1L), ("s2", "s3", 1L)), s"got $got")
  }

  test("ext: sourceReport — volumes, dup rate, dominant lang with deterministic tie-break") {
    val docs = Seq(
      (1L, "web", "en", "a b c"),
      (2L, "web", "en", "a b c"),   // exact dup of 1
      (3L, "web", "de", "x y"),
      (4L, "web", "fr", "p q"),     // en=2 > de=1, fr=1
      (5L, "books", "de", "one two three four"),
      (6L, "books", "en", "five six")) // 1-1 tie: lang desc -> "en"
      .toDF("doc_id", "source", "lang", "text")
    val got = graft.ext.TextAnalysis.sourceReport(docs, "source", "lang", "text")
      .orderBy("source")
      .as[(String, Long, Long, Long, Double, Double, String, Double)]
      .collect().toSeq
    assert(got == Seq(
      ("books", 2L, 6L, 2L, 0.0, 3.0, "en", 0.5),
      ("web", 4L, 10L, 3L, 0.25, 2.5, "en", 0.5)), s"got $got")
  }

  test("ext: extractHtmlText — scripts/comments dropped, entities decoded once, no fused words") {
    val cases = Seq(
      // script payload with a fake tag inside; style; comment; block tags separate words
      ("<script>if (a < b) { x = '<div>' }</script><style>p{}</style>" +
        "<!-- note --><h1>Title</h1><p>body text</p>", "Title body text"),
      // multiline script (dot must match newlines) and attribute-bearing tags
      ("<script type=\"a\">\nline1\nline2\n</script><a href=\"x\">link</a> tail",
        "link tail"),
      // entities: &amp; decodes LAST so &amp;lt; stays a literal "&lt;"
      ("a &lt;b&gt; &quot;c&quot; it&#39;s d&nbsp;e &amp; f &amp;lt;",
        "a <b> \"c\" it's d e & f &lt;"),
      ("   spaced\t\tout\n\ntext   ", "spaced out text"))
    val got = cases.map(_._1).toDF("html")
      .select(graft.ext.TextAnalysis.extractHtmlText(col("html"))).as[String]
      .collect().toSeq
    assert(got == cases.map(_._2), s"got $got")
  }

  test("ext: HtmlExtraction — stub parser path agrees byte-for-byte with the " +
      "regex kernel; schema and nulls contract") {
    // the kernel's own fixtures plus messy/degenerate inputs: the stub
    // replays the same chain with JVM regexes, so parity must hold on
    // EVERY input, not just clean ones
    val htmls = Seq(
      "<script>if (a < b) { x = '<div>' }</script><style>p{}</style>" +
        "<!-- note --><h1>Title</h1><p>body text</p>",
      "<script type=\"a\">\nline1\nline2\n</script><a href=\"x\">link</a> tail",
      "a &lt;b&gt; &quot;c&quot; it&#39;s d&nbsp;e &amp; f &amp;lt;",
      "   spaced\t\tout\n\ntext   ",
      "<p>unclosed <b\n", "", "plain words only",
      // control bytes (not \s, not ' '): Spark's trim strips only
      // spaces, so U+0001 must survive BOTH paths — Java String.trim
      // in the stub would strip it and break parity
      "<p>a</p> ")
    val df = htmls.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      .toDF("doc_id", "html")
    val parsed = graft.ext.HtmlExtraction.extractWithParser(df, "html")
    assert(parsed.schema.fieldNames.toSeq == Seq("doc_id", "html", "text_plain"))
    val viaParser = parsed.orderBy("doc_id")
      .select("text_plain").as[String].collect().toSeq
    val viaKernel = df.orderBy("doc_id")
      .select(graft.ext.TextAnalysis.extractHtmlText(col("html"))).as[String]
      .collect().toSeq
    assert(viaParser == viaKernel,
      s"parser stage diverged from the kernel:\n$viaParser\n$viaKernel")
    // pin the space-only trim semantics both paths must share
    assert(viaParser.last == " a", s"got '${viaParser.last}'")
    // null html -> null text, row preserved
    val withNull = graft.ext.HtmlExtraction.extractWithParser(
      Seq((1L, "<p>a</p>"), (2L, null)).toDF("doc_id", "html"), "html")
    assert(withNull.count() == 2)
    assert(withNull.filter(col("text_plain").isNull).count() == 1)
    // a custom extractor plugs in without touching the plumbing
    val custom = new graft.ext.HtmlExtraction.HtmlExtractor {
      def newPartitionParser(): String => String =
        h => if (h == null) null else s"len:${h.length}"
    }
    val got = graft.ext.HtmlExtraction.extractWithParser(
        Seq((1L, "abcd")).toDF("doc_id", "html"), "html", custom)
      .select("text_plain").as[String].head()
    assert(got == "len:4")
  }

  test("ext: duplicatedSpans/scrub — cross-doc k-gram runs merge to spans; " +
      "every occurrence scrubbed") {
    // docs 1 and 2 share "a b c d" (3-grams "a b c" and "b c d"); doc 4
    // repeats both grams in two DISJOINT windows; doc 3 shares nothing
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x x a b c d y y"),
      (3L, "q r s t u v"),
      (4L, "a b c z z z b c d"))
      .toDF("doc_id", "text")
    val spans = graft.ext.Dedup.duplicatedSpans(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long)].collect().toSeq
    assert(spans == Seq(
      (1L, 0L, 4L), (2L, 2L, 6L), (4L, 0L, 3L), (4L, 6L, 9L)), s"got $spans")
    val scrub = graft.ext.Dedup.scrubDuplicatedSpans(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(scrub == Seq(
      (1L, 8L, 4L, "e f g h"),
      (2L, 8L, 4L, "x x y y"),
      (3L, 6L, 0L, "q r s t u v"),
      (4L, 9L, 6L, "z z z")), s"got $scrub")
  }

  test("ext: corpusDiff — distinct-content add/remove/keep counts") {
    val v1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "beta"), (4L, "gamma"))
      .toDF("doc_id", "text") // distinct: alpha, beta, gamma
    val v2 = Seq((10L, "beta"), (11L, "delta"), (12L, "delta"))
      .toDF("doc_id", "text") // distinct: beta, delta
    val got = graft.ext.Dedup.corpusDiff(v1, v2, "text")
      .as[(Long, Long, Long)].collect().head
    // added: delta; removed: alpha, gamma; unchanged: beta
    assert(got == ((1L, 2L, 1L)), s"got $got")
  }

  test("ext: exactIncrementalBloom — identical to exactIncremental at any fpp") {
    val seenDocs = (0L until 200L).map(i => (i, s"history doc number $i"))
    val seen = seenDocs.toDF("doc_id", "text")
      .select(xxhash64(col("text")).as("content_hash"))
    // batch: 100 true dups of history, 100 new docs, plus an internal dup
    val batch = ((0L until 100L).map(i => (1000L + i, s"history doc number $i")) ++
      (0L until 100L).map(i => (2000L + i, s"fresh doc number $i")) :+
      (3000L, "fresh doc number 0")).toDF("doc_id", "text")
    val exact = graft.ext.Dedup.exactIncremental(batch, "doc_id", "text", seen)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    // a COARSE bloom (high fpp, many false positives) must not change output
    for (fpp <- Seq(0.5, 0.01)) {
      val bloom = graft.ext.Dedup.seenBloom(seen, "content_hash", 200L, fpp)
      val viaBloom = graft.ext.Dedup.exactIncrementalBloom(
          batch, "doc_id", "text", seen, bloom)
        .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
      assert(viaBloom == exact, s"bloom path diverged at fpp=$fpp")
    }
    assert(exact.map(_._1) == (2000L until 2100L), "survivors are the fresh docs only")
  }

  test("ext: seenBloom — no false negatives; false-positive rate near fpp") {
    val seen = (0L until 1000L).map(i => (i, s"seen $i")).toDF("doc_id", "text")
      .select(xxhash64(col("text")).as("content_hash"))
    val bloom = graft.ext.Dedup.seenBloom(seen, "content_hash", 1000L, fpp = 0.01)
    val seenHashes = seen.as[Long].collect()
    assert(seenHashes.forall(bloom.mightContainLong), "bloom dropped a seen hash")
    val fresh = (0L until 10000L).map(i => (i, s"fresh $i")).toDF("doc_id", "text")
      .select(xxhash64(col("text")).as("content_hash")).as[Long].collect()
    val fpr = fresh.count(bloom.mightContainLong).toDouble / fresh.length
    assert(fpr < 0.05, s"false-positive rate $fpr far above configured 0.01")
  }

  test("ext: exactIncremental — drops seen hashes, keeps first of a batch-internal dup") {
    val seen = Seq("already ingested").toDF("text")
      .select(xxhash64(col("text")).as("content_hash"))
    val batch = Seq(
      (10L, "already ingested"),  // in the seen table -> dropped
      (11L, "fresh one"),         // kept
      (12L, "fresh one"),         // batch-internal dup -> dropped
      (13L, "fresh two")          // kept
    ).toDF("doc_id", "text")
    val deduped = graft.ext.Dedup.exactIncremental(batch, "doc_id", "text", seen)
    val got = deduped.select("doc_id", "text").orderBy("doc_id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((11L, "fresh one"), (13L, "fresh two")))
    // the first-per-hash self-join compares two different attributes,
    // not `content_hash` with itself (which only an analyzer rewrite
    // of a trivially true predicate would make right)
    import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo}
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val hashEqs = deduped.queryExecution.analyzed.collect {
      case j: Join if j.joinType == Inner => j.condition.toSeq.flatMap(_.collect {
        case EqualTo(a: Attribute, b: Attribute) if a.name == "content_hash" ||
          b.name == "content_hash" => (a, b)
      })
    }.flatten
    assert(hashEqs.size == 1 && hashEqs.forall { case (a, b) =>
      a.exprId != b.exprId && a.name != b.name }, s"hash join predicates: $hashEqs")
  }

  test("ext: chunkDedup — first occurrence wins, docs reassemble in order") {
    val docs = Seq(
      (1L, "a b c d"),  // both chunks first-seen
      (2L, "a b x y"),  // "a b" already owned by doc 1
      (3L, "a b c d"),  // fully duplicated -> empty survivor
      (4L, "p q r"),    // short tail chunk "r" kept
      (5L, "z z z z")   // intra-doc repeat: second "z z" dropped
    ).toDF("doc_id", "text")
    val got = graft.ext.Dedup.chunkDedup(docs, "doc_id", "text", chunkTokens = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 2L, "a b c d"),
      (2L, 1L, 2L, "x y"),
      (3L, 0L, 2L, ""),
      (4L, 2L, 2L, "p q r"),
      (5L, 1L, 2L, "z z")))
  }

  test("ext: cmsTopTerms — never underestimates, heavy hitter ranks first, error bounded") {
    // 150 singleton tokens + one token appearing 100 times; a coarse
    // sketch (eps = 0.05 -> width ceil(2/eps) = 40 < 150 distinct)
    // forces collisions
    val docs = ((0 until 150).map(i => (i.toLong, s"tok$i")) :+
        (150L, Seq.fill(100)("heavy").mkString(" ")))
      .toDF("doc_id", "text")
    val n = 250.0 // total token occurrences
    val got = graft.ext.Sketches.cmsTopTerms(docs, "text", k = 5,
        eps = 0.05, confidence = 0.9, seed = 7)
      .as[(String, Long)].collect().toSeq
    assert(got.head._1 == "heavy", s"heavy hitter not rank 1: $got")
    val exact = Map("heavy" -> 100L).withDefaultValue(1L)
    got.foreach { case (t, est) =>
      assert(est >= exact(t), s"count-min underestimated $t: $est < ${exact(t)}")
      assert(est <= exact(t) + (0.05 * n).ceil.toLong,
        s"$t estimate $est exceeds exact + eps*N = ${exact(t) + (0.05 * n).ceil.toLong}")
    }
  }

  test("ext: approxProfile — HLL counts track exact within 5x rsd") {
    val docs = (0 until 300).map { i =>
      (i.toLong, if (i % 2 == 0) "g0" else "g1",
        (0 until 10).map(j => s"w${(i * 10 + j) % 97}").mkString(" "))
    }.toDF("doc_id", "grp", "text")
    val got = graft.ext.Sketches.approxProfile(docs, "grp", "doc_id", "text", rsd = 0.02)
      .orderBy("grp").as[(String, Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq("g0", "g1"))
    got.foreach { case (g, nTok, distTok, nDocs) =>
      assert(nTok == 1500L, s"$g n_tokens $nTok") // exact: 150 docs x 10 tokens
      assert(math.abs(distTok - 97.0) / 97.0 < 0.1, s"$g distinct tokens $distTok vs 97")
      assert(math.abs(nDocs - 150.0) / 150.0 < 0.1, s"$g docs $nDocs vs 150")
    }
  }

  test("ext: ngramNovelty — novel vs boilerplate fractions by corpus df") {
    val docs = Seq(
      (1L, "a b c d e"),      // grams "a b c d", "b c d e": both df=1
      (2L, "x y z w q2"),     // "x y z w" df=3, "y z w q2" df=1
      (3L, "x y z w q3"),
      (4L, "x y z w"),        // single gram, df=3
      (5L, "a b c")           // < n tokens: drops out
    ).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.ngramNovelty(docs, "doc_id", "text",
        n = 4, boilerplateDf = 3)
      .orderBy("doc_id").as[(Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1.0, 0.0),
      (2L, 2L, 0.5, 0.5),
      (3L, 2L, 0.5, 0.5),
      (4L, 1L, 0.0, 1.0)))
    // the stored-pair-table lifecycle: precomputed pairs, same result
    val pairs = graft.ext.TextAnalysis.ngramPairs(docs, "doc_id", "text", n = 4)
    val viaStored = graft.ext.TextAnalysis.ngramNoveltyFromPairs(pairs, "doc_id",
        boilerplateDf = 3)
      .orderBy("doc_id").as[(Long, Long, Double, Double)].collect().toSeq
    assert(viaStored == got)
  }

  test("ext: ngramNovelty from a WRITTEN gram table — no re-shingling in the plan") {
    // the 100 TB lifecycle the gramRows doc promises: write the distinct
    // (doc, gram-hash) pairs once bucketed by the gram hash, reload, and
    // run novelty from storage — the plan must scan the stored table and
    // never re-tokenize the corpus (no Generate / posexplode anywhere)
    val docs = Seq(
      (1L, "a b c d e"), (2L, "x y z w q2"), (3L, "x y z w q3"), (4L, "x y z w"))
      .toDF("doc_id", "text")
    graft.core.Layout.writeBucketed(
      graft.ext.TextAnalysis.ngramPairs(docs, "doc_id", "text", n = 4),
      "gram_pair_index", 4, "_sh")
    val reloaded = spark.table("gram_pair_index")
    val fromStore = graft.ext.TextAnalysis.ngramNoveltyFromPairs(reloaded, "doc_id",
      boilerplateDf = 3)
    val plan = fromStore.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"stored-pair plan re-shingles:\n${plan.take(1200)}")
    assert(plan.contains("gram_pair_index"), "plan does not scan the stored gram table")
    val got = fromStore.orderBy("doc_id")
      .as[(Long, Long, Double, Double)].collect().toSeq
    val inline = graft.ext.TextAnalysis.ngramNovelty(docs, "doc_id", "text",
        n = 4, boilerplateDf = 3)
      .orderBy("doc_id").as[(Long, Long, Double, Double)].collect().toSeq
    assert(got == inline)
  }

  test("ext: lmScore = mean ln of add-one bigram probabilities") {
    val docs = Seq((0L, "a b a b"), (1L, "a b c"), (2L, "c"))
      .toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.lmScore(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    // counts: ab=3, ba=1, bc=1; prefixes: a=3, b=2; V=3 (a,b,c)
    // P(b|a)=(3+1)/(3+3)  P(a|b)=(1+1)/(2+3)  P(c|b)=(1+1)/(2+3)
    val pAB = math.log(4.0 / 6); val pBA = math.log(2.0 / 5); val pBC = math.log(2.0 / 5)
    assert(got.map(r => (r._1, r._2)) == Seq((0L, 3L), (1L, 2L))) // doc 2: no bigrams
    assert(math.abs(got(0)._3 - (2 * pAB + pBA) / 3) < 1e-9)
    assert(math.abs(got(1)._3 - (pAB + pBC) / 2) < 1e-9)
  }

  test("ext: vocabulary and ngramCounts rank by frequency with token tie-break") {
    val docs = Seq(
      (0L, "a b a c"),
      (1L, "b a d d")
    ).toDF("doc_id", "text")
    val vocab = graft.ext.TextAnalysis.vocabulary(docs, "text", 3)
      .as[(String, Long)].collect().toSeq
    // a×3, b×2, d×2 (c×1 cut); tie b-before-d by token order
    assert(vocab == Seq(("a", 3L), ("b", 2L), ("d", 2L)), s"vocab=$vocab")
    val bigrams = graft.ext.TextAnalysis.ngramCounts(docs, "text", n = 2, k = 10)
      .as[(String, Long)].collect().toSeq
    // doc0: "a b","b a","a c"; doc1: "b a","a d","d d" → "b a"×2 first
    assert(bigrams.head == (("b a", 2L)), s"bigrams=$bigrams")
    assert(bigrams.toMap == Map("a b" -> 1L, "b a" -> 2L, "a c" -> 1L,
      "a d" -> 1L, "d d" -> 1L), s"bigrams=$bigrams")
  }

  test("ext: duplicateClusters labels every member with its component minimum") {
    // chain 1-2-3 (diameter 2), pair 5-6, plus 9-1 joining the chain late
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (1L, 9L)).toDF("id1", "id2")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.values
      .count(_.getStorageLevel.useMemory)
    val clusters = graft.ext.Dedup.duplicateClusters(pairs)
    val got = clusters.as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
    // superseded rounds + edges are released deterministically inside
    // the loop: only the RETURNED labels checkpoint may remain live
    val persistedAfter = spark.sparkContext.getPersistentRDDs.values
      .count(_.getStorageLevel.useMemory)
    assert(persistedAfter <= persistedBefore + 1,
      s"before=$persistedBefore after=$persistedAfter — intermediate rounds leaked")
    // the returned frame projects its checkpoint; release must still find it
    graft.core.Artifacts.release(clusters)
    val persistedReleased = spark.sparkContext.getPersistentRDDs.values
      .count(_.getStorageLevel.useMemory)
    assert(persistedReleased == persistedBefore,
      s"before=$persistedBefore released=$persistedReleased — labels checkpoint kept")
  }

  test("ext: per-row hashed signature bands reproduce the batch candidate set") {
    // The streaming path computes signatures per-row; a self-join over its
    // band keys must find EXACTLY the pairs minhashCandidates finds.
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (2L, "completely different content about spark catalyst optimizer internals here"),
      (3L, "the quick brown fox jumps over the lazy dog again and again today"),
      (4L, "so") // fewer tokens than the shingle length: no signature
    ).toDF("doc_id", "text")
    val sig = graft.ext.Dedup.minhashSignatureHashed(col("text"), 3, 16)
    val banded = docs.filter(size(split(col("text"), " +")) >= 3)
      .select(col("doc_id"), posexplode(graft.ext.Dedup.bandHashes(sig, 8, 2))
        .as(Seq("band", "bh")))
    val perRow = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct().as[(Long, Long)].collect().toSet
    val batch = graft.ext.Dedup.minhashCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(perRow == batch, s"perRow=$perRow batch=$batch")
    assert(batch.contains((0L, 3L))) // exact dup: every band matches
  }

  test("ext: brute-force cosine top-k ranks the identical vector first") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = graft.ext.Similarity.bruteForceTopK(df, "vec_id", "embedding",
      Array(1.0, 0.0, 0.0), 2).select("vec_id").as[Long].collect()
    assert(top.toSeq == Seq(1L, 2L))
  }

  test("ext: IVF with full probing recovers the brute-force top result") {
    val rnd = new scala.util.Random(3)
    val base = (1L to 60L).map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
    val target = (99L, Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))
    val df = (base :+ target).toDF("vec_id", "embedding")
    val q = Array(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val (assigned, km) = graft.ext.Similarity.ivfIndex(df, "embedding", nlist = 4)
    // nprobe = nlist → exhaustive: must find the exactly-matching vector
    val full = graft.ext.Similarity.ivfTopK(assigned, km, "vec_id", "embedding", q, 4, 1)
      .select("vec_id").as[Long].head()
    assert(full == 99L)
    // nprobe = 1: the matching vector's own cell is the nearest cell
    val one = graft.ext.Similarity.ivfTopK(assigned, km, "vec_id", "embedding", q, 1, 1)
      .select("vec_id").as[Long].head()
    assert(one == 99L)
  }

  test("ext: IVF cells are spherical — magnitude must not hide a cosine match") {
    // v=(100,0,…) has cosine 1.0 with q=(1,0,…) but a huge L2 distance;
    // raw-magnitude KMeans cells would park it in an unprobed cell.
    val rnd = new scala.util.Random(5)
    val base = (1L to 60L).map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
    val big = (99L, Seq(100f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))
    val df = (base :+ big).toDF("vec_id", "embedding")
    val q = Array(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val (assigned, km) = graft.ext.Similarity.ivfIndex(df, "embedding", nlist = 4)
    val top = graft.ext.Similarity.ivfTopK(assigned, km, "vec_id", "embedding", q, 1, 1)
      .select("vec_id").as[Long].head()
    assert(top == 99L)
    // and a null embedding row must not break index construction
    val withNull = df.unionByName(Seq((500L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
    val (a2, _) = graft.ext.Similarity.ivfIndex(withNull, "embedding", nlist = 4)
    assert(a2.count() == 61)
  }

  test("ext: simhash — near-identical docs agree in most bits, unrelated don't") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (2L, "catalyst optimizer rewrites logical plans into physical execution trees")
    ).toDF("doc_id", "text")
    val sigs = graft.ext.Dedup.simhashSignatures(docs, "doc_id", "text")
      .orderBy("_id").select("_sig").as[Long].collect()
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(0), sigs(1)) < 16, s"near-dups differ in ${hamming(sigs(0), sigs(1))} bits")
    assert(hamming(sigs(0), sigs(2)) > hamming(sigs(0), sigs(1)))
  }

  test("ext: SplitMix64 kernel — canonical vector, SplittableRandom parity, codegen + SQL paths") {
    import graft.functions.SplitMix64
    // the canonical splitmix64 sequence head for state 0 (public vector)
    assert(SplitMix64.mix(0L) == java.lang.Long.parseUnsignedLong("e220a8397b1dcdaf", 16))
    // Java's SplittableRandom(seed).nextLong() IS golden-gamma advance + mix64
    Seq(0L, 1L, 42L, -7L, Long.MaxValue, Long.MinValue).foreach { x =>
      assert(SplitMix64.mix(x) == new java.util.SplittableRandom(x).nextLong())
    }
    // the Column (codegen) and SQL surfaces agree with the JVM kernel
    val df = Seq(0L, 1L, 42L, -7L).toDF("k")
    val viaCol = df.select(graft.functions.GraftFunctions.splitmix64(col("k")))
      .as[Long].collect().toSeq
    assert(viaCol == Seq(0L, 1L, 42L, -7L).map(SplitMix64.mix))
    graft.functions.GraftFunctions.registerAll(spark)
    df.createOrReplaceTempView("sm_t")
    val viaSql = spark.sql("SELECT splitmix64(k) FROM sm_t").as[Long].collect().toSeq
    assert(viaSql == viaCol)
  }

  test("ext: restatableTokenKey — 8-bit lane mask keeps non-ASCII codepoints lane-safe") {
    // 'é' = 233 (< 256, mask is identity); '中' = 20013 → 20013 % 256 =
    // 45 — unmasked it would carry into the next lane's bits and ride
    // the engines' surrogate/codepoint difference (r12 advice)
    val keys = Seq("abcd", "é", "中文ab").toDF("t")
      .select(graft.ext.Dedup.restatableTokenKey(col("t")).as("k"))
      .as[Long].collect()
    def pack(cs: Seq[Int], len: Int): Long =
      cs.padTo(4, 0).take(4).zipWithIndex.map { case (c, i) =>
        (c % 256).toLong << (8 * i) }.sum + len.toLong * 4294967296L
    assert(keys(0) == pack(Seq('a', 'b', 'c', 'd').map(_.toInt), 4))
    assert(keys(1) == pack(Seq(233), 1))
    assert(keys(2) == pack(Seq(20013, 25991, 'a'.toInt, 'b'.toInt), 4))
    // every key stays inside the 52-bit budget regardless of charset
    assert(keys.forall(k => k >= 0 && k < (1L << 52)))
  }

  test("ext: simhash splitmix twin flags the same near-dup structure as the xxhash production path") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (2L, "catalyst optimizer rewrites logical plans into physical execution trees")
    ).toDF("doc_id", "text")
    val twinHash = (t: org.apache.spark.sql.Column) =>
      graft.functions.GraftFunctions.splitmix64(graft.ext.Dedup.restatableTokenKey(t))
    val pairs = graft.ext.Dedup.simhashCandidates(docs, "doc_id", "text", twinHash)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), s"near-dup pair not flagged: $pairs")
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((1L, 2L)),
      s"unrelated docs flagged: $pairs")
  }

  test("ext: minhash splitmix twin flags exact/near duplicates like the production path") {
    val base = "the quick brown fox jumps over the lazy dog and runs through the green field today " * 3
    val docs = Seq(
      (0L, base),
      (1L, base + "with one extra tail sentence appended here"),
      (2L, "catalyst optimizer rewrites logical plans into physical execution trees " * 4)
    ).toDF("doc_id", "text")
    val pairs = graft.ext.Dedup.minhashCandidatesSplitmix(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), s"near-dup pair not flagged: $pairs")
    assert(!pairs.exists(p => p._2 == 2L), s"unrelated doc flagged: $pairs")
  }

  test("ext: fingerprint is order-sensitive and stable") {
    val df = Seq((0L, "alpha beta gamma"), (1L, "beta alpha gamma"), (2L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val fps = df.select(graft.ext.TextAnalysis.fingerprint(col("text")))
      .as[Long].collect()
    assert(fps(0) == fps(2)) // identical text → identical fingerprint
    assert(fps(0) != fps(1)) // token order matters
  }

  test("ext: language ID picks the marker-dominant language") {
    val df = Seq(
      (0L, "der hund und die katze ist nicht mit dem ball"),
      (1L, "the cat and the dog is in that house it seems"),
      (2L, "le chat et les chiens est une des villes")
    ).toDF("doc_id", "text")
    val pred = graft.ext.TextAnalysis.languageId(df, "text")
      .orderBy("doc_id").select("lang_pred").as[String].collect()
    assert(pred.toSeq == Seq("de", "en", "fr"))
  }

  test("ext: multimodal stub decode is deterministic and batched") {
    val media = graft.ext.Multimodal.syntheticMedia(spark, 10)
    val f1 = graft.ext.Multimodal.extractFeatures(media, 8)
      .orderBy("media_id").select("features").as[Seq[Float]].collect()
    val f2 = graft.ext.Multimodal.extractFeatures(media, 8)
      .orderBy("media_id").select("features").as[Seq[Float]].collect()
    assert(f1.toSeq == f2.toSeq)
    assert(f1.forall(_.length == 8))
  }

  test("ext: resize re-samples image blobs and updates metadata; other kinds untouched") {
    val media = graft.ext.Multimodal.syntheticMedia(spark, 12)
    val resized = graft.ext.Multimodal.resizeImages(media, 4, 4)
    assert(resized.schema == media.schema) // resize never changes the shape
    val out = resized.select("media_id", "kind", "blob", "width", "height")
      .orderBy("media_id").collect()
    assert(out.length == 12)
    out.foreach { r =>
      val blob = r.getAs[Array[Byte]]("blob")
      if (r.getString(1) == "image") {
        assert(blob.length == 16 && r.getInt(3) == 4 && r.getInt(4) == 4, s"${r.getLong(0)}")
      } else {
        assert(blob.length == 33 && r.getInt(3) == 64, s"${r.getLong(0)}") // original
      }
    }
    // deterministic: nearest-neighbour of the same source bytes
    val again = graft.ext.Multimodal.resizeImages(media, 4, 4)
      .orderBy("media_id").select("blob").as[Array[Byte]].collect()
    assert(out.map(_.getAs[Array[Byte]]("blob").toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("ext: redactPii replaces emails/ips/phones with tags and counts each pattern") {
    val df = Seq(
      (0L, "mail bob.smith+x@corp.example.com now"),
      (1L, "server 192.168.1.17 and 10.0.0.1 up"),
      (2L, "call 555-123-4567 or 555.987.6543 today"),
      (3L, "mixed a@b.io at 127.0.0.1 tel 555-000-1111"),
      (4L, "clean text, no pii at all 12345")).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.redactPii(df, "text")
      .orderBy("doc_id")
      .select("n_emails", "n_ips", "n_phones", "redacted").collect()
    assert(got.map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq((1, 0, 0), (0, 2, 0), (0, 0, 2), (1, 1, 1), (0, 0, 0)))
    assert(got(0).getString(3) == "mail <EMAIL> now")
    assert(got(1).getString(3) == "server <IP> and <IP> up")
    assert(got(2).getString(3) == "call <PHONE> or <PHONE> today")
    assert(got(3).getString(3) == "mixed <EMAIL> at <IP> tel <PHONE>")
    assert(got(4).getString(3) == "clean text, no pii at all 12345")
  }

  test("ext: tfidfTopK ranks corpus-rare in-doc-frequent terms first, token tie-break") {
    // "rare" appears twice in doc 0 only; "common" is in every doc
    val docs = Seq(
      (0L, "rare rare common alpha"),
      (1L, "common beta beta"),
      (2L, "common gamma")).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.tfidfTopK(docs, "doc_id", "text", 2)
      .orderBy("doc_id", "rank")
      .select("doc_id", "token", "tf", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got == Seq(
      (0L, "rare", 2L, 1), (0L, "alpha", 1L, 2),
      (1L, "beta", 2L, 1), (1L, "common", 1L, 2),
      (2L, "gamma", 1L, 1), (2L, "common", 1L, 2)))
    // idf of the everywhere-token is ln(3/3) = 0
    val common = graft.ext.TextAnalysis.tfidfTopK(docs, "doc_id", "text", 2)
      .filter(col("token") === "common").select("tfidf").as[Double].collect()
    assert(common.forall(_ == 0.0))
  }

  test("ext: chunkDocuments — overlap, offsets, and the short-tail rule") {
    // 10 tokens a0..a9: starts 0/4/8; the 8-start tail has 2 tokens
    val docs = Seq(
      (0L, (0 until 10).map(i => s"a$i").mkString(" ")),
      (1L, "one two")).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.chunkDocuments(
        docs, "doc_id", "text", chunkLen = 6, stride = 4, minChunk = 3)
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "chunk_id", "start_pos", "n_tokens", "chunk_text")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (0L, 0L, 0L, 6L, "a0 a1 a2 a3 a4 a5"),
      (0L, 1L, 4L, 6L, "a4 a5 a6 a7 a8 a9"))) // 2-token tail dropped; doc 1 too
    // stride = chunkLen gives disjoint full coverage, every token once
    val disjoint = graft.ext.TextAnalysis.chunkDocuments(
        docs, "doc_id", "text", chunkLen = 4, stride = 4)
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "start_pos", "chunk_text")
      .as[(Long, Long, String)].collect()
    assert(disjoint.toSeq == Seq(
      (0L, 0L, "a0 a1 a2 a3"), (0L, 4L, "a4 a5 a6 a7"), (0L, 8L, "a8 a9"),
      (1L, 0L, "one two")))
  }

  test("ext: winnowFingerprints matches a sequential reference, incl. ties and short docs") {
    val M = 2147483647L
    // fold over CODE POINTS: the engine's length/substr count code
    // points and ascii() returns the full code point (probed: U+1F600
    // → 128512), so a per-Char fold would shear astral-plane tokens
    def tokHash(t: String): Long =
      t.codePoints().toArray.foldLeft(0L)((a, cp) => (a * 31 + cp) % M)
    def winnow(text: String, k: Int, w: Int): Set[(Long, Long)] = {
      val ws = text.split(" +")
      if (ws.length < k) return Set.empty
      val th = ws.map(tokHash)
      val gh = (0 to ws.length - k).map(p =>
        (0 until k).foldLeft(0L)((a, j) => (a * 131 + th(p + j)) % M))
      val wd = math.min(w, gh.length)
      (0 to gh.length - wd).map { q =>
        val sl = gh.slice(q, q + wd)
        val m = sl.min
        val j = sl.lastIndexOf(m) // rightmost tie
        ((q + j).toLong, m)
      }.toSet
    }
    val texts = Seq(
      0L -> "a b c d e f g h i j",        // 7 grams, 3 windows
      1L -> "z1 z2 z3 c d e f g h i j",   // shares the 8-token run c..j
      2L -> "x y x y x y x y",            // all-tie windows → rightmost
      3L -> "p q r s t",                  // 2 grams < w → one window
      4L -> "u v w",                      // < k tokens → no output
      5L -> "a😀b é c d e f")   // astral + BMP-accent tokens
    val docs = texts.toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.winnowFingerprints(docs, "doc_id", "text", k = 4, w = 5)
      .select("doc_id", "pos", "gram_hash").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    texts.foreach { case (id, tx) =>
      val exp = winnow(tx, 4, 5)
      assert(got.getOrElse(id, Set.empty) == exp, s"doc $id")
    }
    assert(!got.contains(4L) && got(3L).size == 1)
    // the winnowing guarantee: an 8-token (w+k-1) shared run ⇒ shared fingerprint hash
    assert(got(0L).map(_._2).intersect(got(1L).map(_._2)).nonEmpty)
  }

  test("ext: winnowFingerprints codegen kernel is bitwise-identical to the HOF reference") {
    // the kernel (graft.functions.WinnowSelect) replaced the interpreted
    // HOF chain; the HOF form stays as the independent parity reference.
    // Edge cases: ties, short docs, one-window docs, sub-k docs, empty
    // tokens from leading/multiple spaces, astral + BMP-accent code
    // points — plus the real corpus at sf0.001.
    val edge = Seq(
      0L -> "a b c d e f g h i j",
      1L -> "x y x y x y x y",
      2L -> "p q r s t",
      3L -> "u v w",
      4L -> "  lead space   run q r s t u",
      5L -> "a😀b é c d e f",
      6L -> "").toDF("doc_id", "text")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    for ((df, tag) <- Seq((edge, "edge"), (corpus, "corpus")); (k, w) <- Seq((4, 5), (1, 1), (3, 9))) {
      def rows(out: org.apache.spark.sql.DataFrame) =
        out.select("doc_id", "pos", "gram_hash").as[(Long, Long, Long)]
          .collect().sortBy(r => (r._1, r._2, r._3)).toSeq
      val fast = rows(graft.ext.TextAnalysis.winnowFingerprints(df, "doc_id", "text", k, w))
      val hof = rows(TextAnalysisTwins.winnowFingerprintsHof(df, "doc_id", "text", k, w))
      assert(fast == hof, s"$tag k=$k w=$w")
    }
  }

  test("ext: winnowCandidates — shared-run pairs found, stop fingerprints gated") {
    val run = (0 until 12).map(i => s"s$i").mkString(" ") // ≥ w+k−1 ⇒ guaranteed shared fingerprint
    val docs = Seq(
      (0L, s"alpha beta $run gamma delta"),
      (1L, s"$run epsilon zeta eta theta"),
      (2L, "totally different words with no overlap at all in here")).toDF("doc_id", "text")
    val got = graft.ext.Dedup.winnowCandidates(docs, "doc_id", "text",
        k = 4, w = 5, minShared = 1L)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got.contains((0L, 1L)))
    assert(!got.exists(p => p._1 == 2L || p._2 == 2L))
    // a fingerprint shared by MORE than maxDocFreq docs is a stop gram:
    // 10 identical docs pair fully without the gate, not at all with it
    val many = (0 until 10).map(i => (i.toLong, run)).toDF("doc_id", "text")
    assert(graft.ext.Dedup.winnowCandidates(many, "doc_id", "text",
      k = 4, w = 5, maxDocFreq = 3L, minShared = 1L).count() == 0L)
    assert(graft.ext.Dedup.winnowCandidates(many, "doc_id", "text",
      k = 4, w = 5, maxDocFreq = 64L, minShared = 1L).count() == 45L)
  }

  test("ext: winnowMatches aligns shared-run positions with the run offset") {
    val run = (0 until 12).map(i => s"s$i").mkString(" ")
    // the run starts at token 2 in doc 0 and token 0 in doc 1 ⇒ every
    // in-run matched fingerprint must satisfy pos1 − pos2 = 2
    val docs = Seq(
      (0L, s"alpha beta $run gamma delta"),
      (1L, s"$run epsilon zeta eta theta"),
      (2L, "totally different words with no overlap in them at all")).toDF("doc_id", "text")
    val got = graft.ext.Dedup.winnowMatches(docs, "doc_id", "text",
        k = 4, w = 5, minShared = 1L)
      .select("id1", "id2", "pos1", "pos2").as[(Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    assert(got.forall(r => r._1 == 0L && r._2 == 1L))
    assert(got.forall(r => r._3 - r._4 == 2L), got.mkString(","))
  }

  test("ext: winnowSpans merges same-diagonal matches; a gap splits spans") {
    val runA = (0 until 8).map(i => s"r$i").mkString(" ")
    val runB = (0 until 8).map(i => s"t$i").mkString(" ")
    // both docs: runA, 8 UNSHARED filler tokens, runB — same offsets, so
    // both runs sit on diagonal 0 with a >w gap of non-matches between
    val docs = Seq(
      (0L, s"$runA x1 x2 x3 x4 x5 x6 x7 x8 $runB"),
      (1L, s"$runA y1 y2 y3 y4 y5 y6 y7 y8 $runB"),
      (2L, "totally different words with no overlap in them at all")).toDF("doc_id", "text")
    val got = graft.ext.Dedup.winnowSpans(docs, "doc_id", "text",
        k = 4, w = 5, minShared = 1L)
      .select("id1", "id2", "start1", "end1", "start2", "end2", "n_fingerprints")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._2, r._3))
    assert(got.forall(r => r._1 == 0L && r._2 == 1L))
    assert(got.length == 2, got.mkString(",")) // one span per shared run
    // diagonal 0: both documents quote the same token ranges
    assert(got.forall(r => r._3 == r._5 && r._4 == r._6))
    // spans stay inside their runs: runA tokens [0,8), runB [16,24)
    assert(got(0)._3 >= 0L && got(0)._4 <= 8L)
    assert(got(1)._3 >= 16L && got(1)._4 <= 24L)
  }

  test("ext: winnowScrub drops shared spans from the higher-id copy only") {
    val runA = (0 until 8).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (0L, s"$runA x1 x2 x3"),
      (1L, s"y1 y2 $runA y3"),
      (2L, "totally different words with no overlap in them at all")).toDF("doc_id", "text")
    val got = graft.ext.Dedup.winnowScrub(docs, "doc_id", "text",
        k = 4, w = 5, minShared = 1L)
      .select("doc_id", "n_tokens", "n_dropped", "clean_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got.length == 3) // every document reported
    // keep-first: doc 0 (the lower id of the pair) is untouched
    assert(got(0) == ((0L, 11L, 0L, s"$runA x1 x2 x3")))
    // doc 1's scrub must equal a manual reconstruction from the spans'
    // id2-side ranges (winnowing guarantees >= 1 shared fingerprint for
    // an 8-token run, but coverage of the run may be PARTIAL)
    val cov = graft.ext.Dedup.winnowSpans(docs, "doc_id", "text",
        k = 4, w = 5, minShared = 1L)
      .filter(col("id2") === 1L).select("start2", "end2")
      .as[(Long, Long)].collect()
      .flatMap { case (s, e) => s until e }.toSet
    assert(cov.nonEmpty && cov.size >= 4) // at least one k-wide span hit
    val toks1 = s"y1 y2 $runA y3".split(" ")
    val manual = toks1.indices.filterNot(i => cov(i.toLong)).map(toks1).mkString(" ")
    val (_, n1, d1, t1) = got(1)
    assert(n1 == 11L && d1 == cov.size.toLong && t1 == manual)
    // only run tokens may be dropped; doc 1's own filler survives
    assert(t1.startsWith("y1 y2") && t1.endsWith("y3"))
    // the unrelated doc is reported intact
    assert(got(2)._3 == 0L && got(2)._4.startsWith("totally different"))
  }

  test("ext: winnowCandidatesFromStored — write→reload→probe parity, (k,w) stamp checked") {
    val run = (0 until 12).map(i => s"s$i").mkString(" ")
    val hist = Seq((0L, s"alpha beta $run gamma delta"),
      (2L, "totally different words with no overlap in them at all")).toDF("doc_id", "text")
    val batch = Seq((11L, s"$run epsilon zeta eta theta")).toDF("doc_id", "text")
    val fp = graft.ext.TextAnalysis.winnowFingerprints(hist, "doc_id", "text", k = 4, w = 5)
    val dir = java.nio.file.Files.createTempDirectory("winnow_idx").toString
    fp.write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val got = graft.ext.Dedup.winnowCandidatesFromStored(
        batch, "doc_id", "text", stored, "doc_id", k = 4, w = 5, minShared = 1L)
      .select("batch_id", "stored_id").as[(Long, Long)].collect().toSet
    val inline = graft.ext.Dedup.winnowCandidatesFromStored(
        batch, "doc_id", "text", fp, "doc_id", k = 4, w = 5, minShared = 1L)
      .select("batch_id", "stored_id").as[(Long, Long)].collect().toSet
    assert(got == inline && got == Set((11L, 0L)))
    // the metadata stamp survives parquet and blocks a mismatched probe
    val e = intercept[IllegalArgumentException] {
      graft.ext.Dedup.winnowCandidatesFromStored(
        batch, "doc_id", "text", stored, "doc_id", k = 3, w = 5)
    }
    assert(e.getMessage.contains("built at k=4"))
  }

  test("ext: collocations — PMI from bigram-table marginals, minCount gate") {
    val docs = Seq((0L, "a b a b"), (1L, "a b c")).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.collocations(docs, "text", minCount = 1L)
      .select("left", "right", "pair_count", "pmi")
      .as[(String, String, Long, Double)].collect()
      .map(r => ((r._1, r._2), (r._3, r._4))).toMap
    // c2: (a,b)=3, (b,a)=1, (b,c)=1; N=5; cl: a=3, b=2; cr: b=3, a=1, c=1
    assert(got.keySet == Set(("a", "b"), ("b", "a"), ("b", "c")))
    assert(got(("a", "b"))._1 == 3L)
    assert(math.abs(got(("a", "b"))._2 - math.log(5.0 / 3.0)) < 1e-12)
    assert(math.abs(got(("b", "a"))._2 - math.log(2.5)) < 1e-12)
    assert(math.abs(got(("b", "c"))._2 - math.log(2.5)) < 1e-12)
    // the noise gate drops singleton pairs
    val gated = graft.ext.TextAnalysis.collocations(docs, "text", minCount = 2L)
      .select("left", "right").as[(String, String)].collect()
    assert(gated.toSeq == Seq(("a", "b")))
  }

  test("ext: sourceDivergence — KL is 0 for matching distributions, positive for skew") {
    // two sources with IDENTICAL token distributions → both KL = 0
    val same = Seq((0L, "a", "x x y"), (1L, "b", "x x y")).toDF("doc_id", "source", "text")
    val kl0 = graft.ext.TextAnalysis.sourceDivergence(same, "source", "text")
      .select("kl").as[Double].collect()
    assert(kl0.forall(k => math.abs(k) < 1e-12), kl0.toSeq.toString)
    // a source that diverges from the mixture scores higher than one near it
    val skew = Seq((0L, "a", "x x x x y"), (1L, "b", "z z z z z")).toDF("doc_id", "source", "text")
    val kl = graft.ext.TextAnalysis.sourceDivergence(skew, "source", "text")
      .orderBy("source").select("kl").as[Double].collect()
    assert(kl.forall(_ > 0.1), kl.toSeq.toString)
  }

  test("ext: zipfSlope recovers ~ -1 on an exact Zipf corpus") {
    // token t_r repeated floor(1000/r) times → freq ∝ 1/rank exactly
    val words = (1 to 50).flatMap(r => Seq.fill(1000 / r)(f"t$r%03d"))
    val docs = words.grouped(100).zipWithIndex
      .map { case (w, i) => (i.toLong, w.mkString(" ")) }.toSeq.toDF("doc_id", "text")
    val slope = graft.ext.TextAnalysis.zipfSlope(docs, "text", 50)
      .as[Double].head()
    assert(math.abs(slope - (-1.0)) < 0.05, s"slope=$slope")
  }

  test("ext: approx_percentile tracks exact percentile (the 100 TB quantile path)") {
    val df = spark.range(10000L)
      .select((col("id") % 997 * 31 % 1009).cast("double").as("v"))
    val row = df.agg(
      expr("percentile(v, array(0.5D, 0.9D, 0.99D))").as("exact"),
      expr("approx_percentile(v, array(0.5D, 0.9D, 0.99D), 1000)").as("approx"))
      .head()
    val exact = row.getSeq[Double](0)
    val approx = row.getSeq[Double](1)
    exact.zip(approx).foreach { case (e, a) =>
      assert(math.abs(e - a) <= 0.02 * 1009, s"exact=$e approx=$a")
    }
  }

  // ---- r17 text-kernel parity pins: each rewritten hot expression is
  // pinned bitwise against its original expression-chain twin, on the
  // real corpus plus adversarial strings (multi-space runs, leading/
  // trailing separators, newlines — where split(limit=-1) keeps empty
  // pieces — unicode incl. astral plane, empty, null).

  private def textFixture = {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
    val edge = Seq("", " ", "   ", "a", " a ", "a  b", "the a of", "the  a",
      "a\nthe\n", "the\n", "¡héllo! 你好。 a?b!c", "x👀y z👀", "1.2.3", "...",
      "a@b.co the", "  the  ", "of", "a", null.asInstanceOf[String])
      .toDF("text")
    docs.union(edge)
  }

  test("r17: regex_count_lit / regex_count_replace_lit == regexp_extract_all/replace twins") {
    val pats = Seq(graft.ext.TextAnalysis.EmailRe, graft.ext.TextAnalysis.Ipv4Re,
      graft.ext.TextAnalysis.PhoneRe, "[A-Za-z0-9]+", " +")
    pats.foreach { p =>
      val bad = textFixture.select(
        GraftFunctions.regex_count(col("text"), p).as("k"),
        size(regexp_extract_all(col("text"), lit(p), lit(0))).as("t"),
        col("text"))
        .filter(!(col("k") <=> col("t"))).limit(3).collect()
      assert(bad.isEmpty, s"regex_count mismatch for '$p': ${bad.mkString("; ")}")
    }
    val badCr = textFixture.select(
      GraftFunctions.regex_count_replace(col("text"),
        graft.ext.TextAnalysis.EmailRe, "<EMAIL>").as("s"),
      size(regexp_extract_all(col("text"),
        lit(graft.ext.TextAnalysis.EmailRe), lit(0))).as("tn"),
      regexp_replace(col("text"), graft.ext.TextAnalysis.EmailRe, "<EMAIL>").as("tr"))
      .filter(!(col("s.n") <=> col("tn")) || !(col("s.replaced") <=> col("tr")))
      .limit(3).collect()
    assert(badCr.isEmpty, s"regex_count_replace mismatch: ${badCr.mkString("; ")}")
  }

  test("r17: subwordCount kernel == lookaround-split twin (BMP); astral follows the oracle") {
    // Astral-plane chars are the ONE documented divergence: the old
    // UTF-16 split counted each surrogate half as a piece, while
    // length/translate (and the DuckDB oracle's own count identity)
    // count code points — compare the twins on BMP-only inputs.
    val bmp = textFixture.filter(col("text").isNull ||
      !col("text").rlike("[\\x{10000}-\\x{10FFFF}]"))
    val bad = bmp.select(
      graft.ext.TextAnalysis.subwordCount(col("text")).as("k"),
      TextAnalysisTwins.subwordCountSplit(col("text")).as("t"), col("text"))
      .filter(!(col("k") <=> col("t"))).limit(3).collect()
    assert(bad.isEmpty, s"subwordCount mismatch: ${bad.mkString("; ")}")
    // astral: one emoji = one non-alnum CODE POINT, the oracle identity
    val astral = Seq("x👀y z👀").toDF("text")
      .select(graft.ext.TextAnalysis.subwordCount(col("text"))).as[Int].head()
    assert(astral == 6, s"astral subword count=$astral (runs x,y,z + eye,space,eye)")
  }

  test("r17: qualitySignals byte-scan == split/HOF twin (all five signals)") {
    val cols = Seq("n_chars_m", "n_tokens", "mean_token_len", "punct_ratio",
      "stopword_ratio")
    // ANSI mode: punct_ratio divides by length(text), so BOTH twins throw
    // on empty text — the operator's domain is non-empty documents
    val fix = textFixture.filter(length(col("text")) > 0)
    val k = graft.ext.TextAnalysis.qualitySignals(fix, "text")
    val t = TextAnalysisTwins.qualitySignalsSplit(fix, "text")
    // join rows positionally via a window-free zip: both frames derive
    // from the same input in the same order — compare via collected rows
    // (fixture is small)
    val kr = k.select("text", cols: _*).collect()
    val tr = t.select("text", cols: _*).collect()
    assert(kr.length == tr.length)
    kr.zip(tr).foreach { case (a, b) =>
      assert(a == b, s"qualitySignals mismatch: $a vs $b")
    }
  }

  test("r17: redactPii fused == regexp-chain twin") {
    val aug = textFixture.filter(col("text").isNotNull)
      .withColumn("text", concat(col("text"),
        lit(" u1@mail.example 10.0.9.7 555-123-4567 a@1.2.3.4.zz x@y.c")))
    val cols = Seq("n_emails", "n_ips", "n_phones", "redacted")
    val kr = graft.ext.TextAnalysis.redactPii(aug, "text").select("text", cols: _*).collect()
    val tr = TextAnalysisTwins.redactPiiRegexp(aug, "text").select("text", cols: _*).collect()
    assert(kr.length == tr.length)
    kr.zip(tr).foreach { case (a, b) => assert(a == b, s"redactPii mismatch: $a vs $b") }
  }

  test("r17: space_token_stats piece count == size(split(' +')) on adversarial strings") {
    val bad = textFixture.select(
      GraftFunctions.space_token_stats(col("text"),
        Seq("the", "a", "of", "and", "to", "in", "is", "on", "for"))
        .getField("n_tokens").as("k"),
      size(split(col("text"), " +")).as("t"), col("text"))
      .filter(!(col("k") <=> col("t"))).limit(3).collect()
    assert(bad.isEmpty, s"piece-count mismatch: ${bad.mkString("; ")}")
  }
}
