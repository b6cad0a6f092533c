package graft

import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.functions.{IvfPq, IvfQuantizer, PqBounds, SignBucketing}

/** LSH ANN recall + composed near-dup pipeline (VERDICT r1 #1/#2):
  * the round-1 lshTopK joined on one wide exact signature and returned 0
  * of k rows; these tests pin non-trivial recall vs the exact baseline
  * and the absence of any all-pairs join in the composed plan.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val rnd = new scala.util.Random(7)

  private def randVec(): Array[Double] = Array.fill(dim)(rnd.nextGaussian())

  private val queryVec: Array[Double] = randVec()

  /** 40 vectors near the query (cos ≳ 0.95) + 160 unrelated. */
  private lazy val fixture = {
    val near = (0 until 40).map { i =>
      val noisy = queryVec.map(_ + 0.15 * rnd.nextGaussian())
      (i.toLong, noisy.toSeq)
    }
    val far = (40 until 200).map(i => (i.toLong, randVec().toSeq))
    (near ++ far).toDF("vec_id", "embedding")
  }

  /** Pinned anchors at the count-derived nlist (nprobe 2, minList 8). */
  private def pinnedAuto(df: org.apache.spark.sql.DataFrame): IvfQuantizer =
    IvfQuantizer.pinned(df, "vec_id", "embedding",
      Similarity.autoNlist(df.count(), nprobe = 2, minList = 8))

  private def pinned(df: org.apache.spark.sql.DataFrame, nlist: Int): IvfQuantizer =
    IvfQuantizer.pinned(df, "vec_id", "embedding", nlist)

  test("lshTopK recall@20 >= 0.5 vs bruteForceTopK and returns k rows") {
    val k = 20
    val exact = Similarity.bruteForceTopK(fixture, "vec_id", "embedding", queryVec, k)
      .select("vec_id").as[Long].collect().toSet
    val approx = Similarity.lshTopK(fixture, "vec_id", "embedding", queryVec, k = k)
      .select("vec_id").as[Long].collect()
    assert(approx.length == k, s"lshTopK returned ${approx.length} of $k rows")
    val recall = approx.count(exact).toDouble / k
    assert(recall >= 0.5, s"recall@$k = $recall < 0.5")
  }

  test("cosineNearDupLsh finds the same pairs as the exact all-pairs query") {
    val exact = Similarity.cosineNearDuplicates(fixture, "vec_id", "embedding", 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val composed = Similarity.cosineNearDupLsh(fixture, "vec_id", "embedding",
        dim = dim, minCos = 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain true near-duplicate pairs")
    assert(composed == exact,
      s"missed=${(exact -- composed).take(5)} spurious=${(composed -- exact).take(5)}")
  }

  test("ivfKnnJoin: full-probe pinned join degenerates to exact top-k; " +
    "KMeans form returns n·k rows with real recall") {
    val k = 5
    val vecs = fixture.as[(Long, Seq[Double])].collect().toMap
    def cosD(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum) / math.sqrt(b.map(x => x * x).sum)
    }
    val exact = vecs.keys.map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .map(n => (n, cosD(vecs(q), vecs(n))))
        .sortBy { case (n, c) => (-c, n) }.take(k).map(_._1)
    }.toMap
    // probing ALL cells reaches every member exactly once → the exact
    // directed top-k, whatever the anchors are (the x_ann_ivf_full_probe
    // audit, at the join shape)
    val got = Similarity.ivfKnnJoin(fixture, "vec_id", "embedding",
        pinned(fixture, 4), nprobe = 4, k = k)
      .select("vec_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2).toSeq }
    assert(got.keySet == exact.keySet, "some query lost its neighbor list")
    got.foreach { case (q, ns) =>
      assert(ns == exact(q), s"query $q: $ns vs exact ${exact(q)}") }
    // the production KMeans form at nprobe < nlist: one row per (query,
    // rank), and the probed-cells recall trade still finds most top-1s
    val prod = Similarity.ivfKnnJoin(fixture, "vec_id", "embedding",
        IvfQuantizer.fit(fixture, "embedding", nlist = 8), nprobe = 2, k = 1)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(prod.size == vecs.size, s"expected ${vecs.size} rows, got ${prod.size}")
    val hit = prod.count { case (q, n) => exact(q).headOption.contains(n) }
    assert(hit.toDouble / vecs.size >= 0.5,
      s"top-1 recall ${hit.toDouble / vecs.size} < 0.5")
  }

  test("autoNlist: integer balance-rule boundaries (smallest nlist >= minList " +
    "with nlist^2 >= n*nprobe)") {
    import Similarity.autoNlist
    assert(autoNlist(0, 2, 8) == 8, "empty corpus resolves to minList")
    assert(autoNlist(31, 2, 8) == 8, "below minList^2/nprobe the floor holds")
    assert(autoNlist(32, 2, 8) == 8, "exact boundary: 8^2 = 64 = 32*2")
    assert(autoNlist(33, 2, 8) == 9, "one row past the boundary steps up")
    assert(autoNlist(128, 2, 8) == 16, "perfect square lands exactly (16^2 = 256)")
    assert(autoNlist(100, 2, 8) == 15, "15^2 = 225 >= 200 > 14^2 = 196")
    assert(autoNlist(20000, 2, 8) == 200, "the gapped-sf1 corpus (200^2 = 40000 exactly)")
    assert(autoNlist(200000, 2, 8) == 633, "the x100 probe corpus (633^2 = 400689)")
  }

  test("ivfKnnJoin: the pinned-auto quantizer equals the pinned one at the derived " +
    "nlist; a known count gives the same KMeans fit") {
    // n = 200, nprobe = 2 -> smallest m with m^2 >= 400 is exactly 20
    val derived = Similarity.autoNlist(200L, 2, 8)
    assert(derived == 20)
    val auto = pinnedAuto(fixture)
    assert(auto.centroids.length == derived)
    val pinnedAutoRows = Similarity.ivfKnnJoin(fixture, "vec_id", "embedding",
        auto, nprobe = 2, k = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    val pinnedExplicit = Similarity.ivfKnnJoin(fixture, "vec_id", "embedding",
        pinned(fixture, derived), nprobe = 2, k = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(pinnedAutoRows == pinnedExplicit, "auto twin must equal pinned at the derived nlist")
    // the KMeans fit at the derived nlist: passing the count the nlist
    // rule already paid for must not change the seeded fit
    val default = Similarity.ivfKnnJoin(fixture, "vec_id", "embedding",
        IvfQuantizer.fit(fixture, "embedding", derived), nprobe = 2, k = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    val counted = Similarity.ivfKnnJoin(fixture, "vec_id", "embedding",
        IvfQuantizer.fit(fixture, "embedding", derived, knownCount = 200L), nprobe = 2, k = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(default == counted, "a known count must give the same fit as counting")
    assert(default.map(_._1) == fixture.as[(Long, Seq[Double])].collect()
      .map(_._1).toSet, "every row keeps a neighbor list")
  }

  test("ivfKnnJoin pinned: zero-norm vectors are excluded as anchors and rows " +
    "(no NaN, result identical to the zero-free corpus)") {
    // the zero vector takes the SMALLEST id, so an unguarded anchor
    // selection would seat it as cell 0 and its 0/0 dots would NaN every
    // probe ranking (the r13 advice scenario)
    val withZero = fixture.union(
      Seq((-1L, Seq.fill(dim)(0.0))).toDF("vec_id", "embedding"))
    val got = Similarity.ivfKnnJoin(withZero, "vec_id", "embedding",
        pinned(withZero, 4), nprobe = 2, k = 3)
      .as[(Long, Long, Double, Long)].collect()
    assert(got.nonEmpty)
    assert(!got.exists(r => r._1 == -1L || r._2 == -1L),
      "zero-norm vector must not appear as query or neighbor")
    assert(!got.exists(_._3.isNaN), "NaN cosine leaked through the guard")
    val clean = Similarity.ivfKnnJoin(fixture, "vec_id", "embedding",
        pinned(fixture, 4), nprobe = 2, k = 3)
      .as[(Long, Long, Double, Long)].collect()
    assert(got.toSet == clean.toSet,
      "a zero-norm row must be a no-op for everyone else's neighbors")
  }

  test("cosineNearDupLshAuto: width follows the occupancy rule; degenerate " +
    "at minBits; scaled twins survive any width") {
    // n = 200, targetBucket = 64 → needed = 4 → bits resolves to minBits = 8:
    // bit-identical to the fixed 16×8 form (the x_cosine_near_dup_lsh_auto
    // shared-oracle contract at the driver sf)
    val auto = Similarity.cosineNearDupLshAuto(fixture, "vec_id", "embedding",
        dim, minCos = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    val fixed = Similarity.cosineNearDupLsh(fixture, "vec_id", "embedding",
        dim, 0.9, bitsPerBand = 8)
      .as[(Long, Long, Double)].collect().toSet
    assert(auto == fixed, "auto diverged from the fixed form below the boundary")
    // derived width: targetBucket = 8 over 200 rows → needed = 25 → bits = 5
    val derived = Similarity.cosineNearDupLshAuto(fixture, "vec_id", "embedding",
        dim, 0.9, targetBucket = 8L, minBits = 2)
      .as[(Long, Long, Double)].collect().toSet
    val atFive = Similarity.cosineNearDupLsh(fixture, "vec_id", "embedding",
        dim, 0.9, bitsPerBand = 5)
      .as[(Long, Long, Double)].collect().toSet
    assert(derived == atFive, "derived width != the occupancy rule's bit count")
    // exact-scaled twins keep identical sign patterns at ANY band width —
    // the dedup-side recall contract the auto form must not weaken
    val twins = fixture.union(fixture.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("embedding"), x => x * 2).as("embedding")))
    val wide = Similarity.cosineNearDupLshAuto(twins, "vec_id", "embedding",
        dim, 0.9, targetBucket = 1L, minBits = 12)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    (0L until 5L).foreach(i =>
      assert(wide.contains((i, i + 1000)), s"scaled twin $i missed at wide bands"))
  }

  test("cosineNearDupLsh: a duplicated id throws a declared error naming the id") {
    // the second row carries another row's vector under a taken id: its
    // pairs would be attributed to the wrong document
    val Array(dupId, other) = fixture.select("vec_id").as[Long].take(2)
    val dirty = fixture.union(fixture.filter(col("vec_id") === other)
      .withColumn("vec_id", lit(dupId)))
    val e = intercept[IllegalArgumentException](
      Similarity.cosineNearDupLsh(dirty, "vec_id", "embedding", dim = dim, minCos = 0.9))
    assert(e.getMessage ==
      s"cosineNearDupLsh: vec_id must be unique per row, but $dupId appears 2 times")
  }

  test("composed near-dup plan contains no all-pairs (nested-loop) join") {
    val plan = Similarity.cosineNearDupLsh(fixture, "vec_id", "embedding",
        dim = dim, minCos = 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"all-pairs join in composed plan:\n${plan.take(800)}")
  }

  test("cosineNearDupLsh pins both exchanges through Fanout: default ×4, " +
    "multiplier 0 unpinned, maxPartitions caps") {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    import graft.core.Fanout
    // Fanout.pin reads its confs when the frame is built
    def lsh(confs: (String, String)*) = {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try Similarity.cosineNearDupLsh(fixture, "vec_id", "embedding", dim = dim, minCos = 0.9)
        .queryExecution
      finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
    def pins(qe: org.apache.spark.sql.execution.QueryExecution) = qe.analyzed.collect {
      case r: RepartitionByExpression =>
        (r.partitionExpressions.flatMap(_.references.map(_.name)), r.optNumPartitions)
    }.toSet
    val n = 4 * spark.sparkContext.defaultParallelism
    // default confs: the shape the hard-coded 4 × defaultParallelism had
    val default = lsh()
    assert(pins(default) == Set((Seq("vec_id"), Some(n)), (Seq("_band", "_sig"), Some(n))))
    assert(default.executedPlan.toString.contains("REPARTITION_BY_NUM"))
    assert(pins(lsh(Fanout.MaxPartitionsConf -> "3")) ==
      Set((Seq("vec_id"), Some(3)), (Seq("_band", "_sig"), Some(3))))
    val unpinned = lsh(Fanout.MultiplierConf -> "0")
    assert(pins(unpinned).isEmpty)
    assert(!unpinned.executedPlan.toString.contains("REPARTITION_BY_NUM"))
  }

  test("bandedSignatureRows (fused one-pass) matches the inline banded signatures") {
    val inline = fixture.select(col("vec_id"),
        posexplode(Similarity.bandedSignatures(col("embedding"), dim, 16, 5))
          .as(Seq("_band", "_sig")))
      .as[(Long, Int, Long)].collect().toSet
    val fused = Similarity.bandedSignatureRows(fixture, "vec_id", "embedding", dim)
      .as[(Long, Int, Long)].collect().toSet
    assert(fused == inline)
  }

  test("cosineNearDupLsh with a precomputed signature frame gives the same pairs") {
    val sigs = Similarity.bandedSignatureRows(fixture, "vec_id", "embedding", dim)
    val inlineSigs = Similarity.cosineNearDupLsh(fixture, "vec_id", "embedding", dim, 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val precomp = Similarity.cosineNearDupLsh(fixture, "vec_id", "embedding", dim, 0.9,
        sigRows = Some(sigs))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(precomp == inlineSigs)
  }

  test("LSH index lifecycle: write bucketed by (_band,_sig), reload, verify from storage") {
    // The 100 TB write-once lifecycle bandedSignatureRows documents: the
    // (id, band, sig) index is written ONCE bucketed by the join key, and
    // every later near-dup run verifies from storage — no signature
    // recomputation (no MatVecProduct) anywhere in the plan.
    val sigs = Similarity.bandedSignatureRows(fixture, "vec_id", "embedding", dim)
    graft.core.Layout.writeBucketed(sigs, "lsh_sig_index", 4, "_band", "_sig")
    val reloaded = spark.table("lsh_sig_index")
    val fromStore = Similarity.cosineNearDupLsh(fixture, "vec_id", "embedding", dim, 0.9,
      sigRows = Some(reloaded))
    val plan = fromStore.queryExecution.executedPlan.toString
    assert(!plan.contains("matvec_product"),
      s"stored-index plan recomputes signatures:\n${plan.take(1200)}")
    assert(plan.contains("lsh_sig_index"), "stored-index plan does not scan the stored table")
    // the payoff of bucketing by the join key: the candidate self-join
    // over the stored index needs NO shuffle — both sides report the
    // bucketed hash partitioning straight off the scan
    val selfJoin = reloaded.as("a").join(reloaded.as("b"),
      col("a._band") === col("b._band") && col("a._sig") === col("b._sig") &&
        col("a._sid") < col("b._sid"))
    val sjPlan = selfJoin.queryExecution.executedPlan.toString
    assert(!sjPlan.contains("Exchange hashpartitioning"),
      s"bucketed self-join still shuffles:\n${sjPlan.take(1200)}")
    val inline = Similarity.cosineNearDupLsh(fixture, "vec_id", "embedding", dim, 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val stored = fromStore.select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(stored == inline,
      s"missed=${(inline -- stored).take(5)} spurious=${(stored -- inline).take(5)}")
  }

  test("IVF index lifecycle: cell-partitioned table + saved model, probe prunes partitions") {
    // The FAISS write-once shape at rest: the assigned table is
    // PARTITIONED by ivf_cell (one directory per cell — a probe reads only
    // its nprobe cells' directories), the coarse quantizer persists via
    // the MLlib writer, and a later session's probe matches the in-memory
    // probe exactly with the cell filter applied as a PARTITION filter
    // (directory pruning), never a per-row scan filter.
    val (assigned, km) = Similarity.ivfIndex(fixture, "embedding", nlist = 4)
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString + "/idx"
    assigned.write.mode("overwrite").partitionBy("ivf_cell").parquet(idxDir)
    val modelDir = java.nio.file.Files.createTempDirectory("graft_ivf_km").toString + "/model"
    km.write.overwrite().save(modelDir)
    val km2 = org.apache.spark.ml.clustering.KMeansModel.load(modelDir)
    val fromStore = Similarity.ivfTopK(spark.read.parquet(idxDir), km2,
      "vec_id", "embedding", queryVec, nprobe = 2, k = 10)
    val plan = fromStore.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [ivf_cell"),
      s"cell filter did not reach the scan as a partition filter:\n${plan.take(1200)}")
    val stored = fromStore.select("vec_id").as[Long].collect().toSeq
    val inMem = Similarity.ivfTopK(assigned, km, "vec_id", "embedding", queryVec,
        nprobe = 2, k = 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(stored == inMem, s"stored=$stored inMem=$inMem")
  }

  test("CosineSim kernel: parity with the HOF form, null/mismatch semantics, SQL surface") {
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)),
      (2L, Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)),
      (3L, Seq(0.5, -1.5, 2.5), Seq(-2.0, 0.25, 1.0))
    ).toDF("id", "a", "b")
    val hof = Similarity.dot(col("a"), col("b")) /
      (Similarity.norm(col("a")) * Similarity.norm(col("b")))
    val rows = df.select(col("id"),
        Similarity.cosine(col("a"), col("b")).as("k"), hof.as("h"))
      .orderBy("id").as[(Long, Double, Double)].collect()
    rows.foreach { case (id, k, h) => assert(k == h, s"id=$id kernel=$k hof=$h") }
    // length mismatch and null input → null (zip_with null-pad parity)
    val weird = Seq((Seq(1.0, 2.0), Seq(1.0)),
        (null.asInstanceOf[Seq[Double]], Seq(1.0))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c")).collect()
    assert(weird.forall(_.isNullAt(0)))
    // registered SQL surface
    graft.functions.GraftFunctions.registerAll(spark)
    df.createOrReplaceTempView("cos_t")
    val viaSql = spark.sql(
      "SELECT cosine_sim(CAST(a AS ARRAY<DOUBLE>), CAST(b AS ARRAY<DOUBLE>)) FROM cos_t WHERE id = 1")
      .as[Double].head()
    assert(math.abs(viaSql - 1.0) < 1e-12)
  }

  test("MatVecProduct kernel: parity with per-plane HOF projections") {
    val mat = Array.tabulate(6, dim)((p, i) => (p * 31 + i * 7 % 13) * 0.01 - 0.3)
    val kernel = fixture.select(col("vec_id"),
        graft.functions.GraftFunctions.matvec_product(
          col("embedding").cast("array<double>"), mat).as("proj"))
      .orderBy("vec_id").as[(Long, Seq[Double])].collect()
    val vecD = col("embedding").cast("array<double>")
    val hofCols = mat.indices.map { p =>
      aggregate(zip_with(vecD, typedlit(mat(p).toSeq), (v, h) => v * h),
        lit(0.0), (a, x) => a + x).as(s"p$p")
    }
    val hof = fixture.select(col("vec_id") +: hofCols: _*)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), mat.indices.map(p => r.getDouble(p + 1))))
    kernel.zip(hof).foreach { case ((idK, pk), (idH, ph)) =>
      assert(idK == idH && pk == ph, s"id=$idK kernel=$pk hof=$ph")
    }
  }

  test("exactKnnJoin: identical to the full-probe pinned IVF join (both are the " +
    "exact directed top-k); zero-norm rows excluded from both sides") {
    val exact = Similarity.exactKnnJoin(fixture, "vec_id", "embedding", k = 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    // probing ALL cells reaches every member exactly once -> exact top-k
    // (pinned by the full-probe test above), so the two must be EQUAL
    val fullProbe = Similarity.ivfKnnJoin(fixture, "vec_id", "embedding",
        pinned(fixture, 4), nprobe = 4, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(exact == fullProbe, "exactKnnJoin must equal the full-probe IVF join")
    // zero-norm exclusion: a zero vector neither queries nor serves
    val withZero = fixture.union(Seq((999L, Seq.fill(dim)(0.0))).toDF("vec_id", "embedding"))
    val z = Similarity.exactKnnJoin(withZero, "vec_id", "embedding", k = 1)
      .as[(Long, Long, Double, Long)].collect()
    assert(!z.exists(r => r._1 == 999L || r._2 == 999L), "zero-norm row leaked")
  }

  test("ivfKnnJoinFromStored: parquet round-trip of the quantizer changes no row; " +
    "non-dense cell ids are rejected") {
    val derived = Similarity.autoNlist(200L, 2, 8)
    val quant = Similarity.ivfPinnedQuantizerRows(fixture, "vec_id", "embedding", derived)
    val dir = java.nio.file.Files.createTempDirectory("ivf_quant_").toString
    quant.write.mode("overwrite").parquet(dir)
    val stored = Similarity.ivfKnnJoinFromStored(fixture, "vec_id", "embedding",
        spark.read.parquet(dir), nprobe = 2, k = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    val inline = Similarity.ivfKnnJoin(fixture, "vec_id", "embedding",
        pinnedAuto(fixture), nprobe = 2, k = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(stored == inline, "storage round-trip must not change a single row")
    // offsets are honored, not assumed zero: KMeans-style centroids with
    // their ‖c‖²/2 offsets round-trip to the same result as fromModel
    val (_, km) = Similarity.ivfIndex(fixture, "embedding", nlist = 4)
    val kmQuant = IvfQuantizer.fromModel(km).rows(spark)
    val kmStored = Similarity.ivfKnnJoinFromStored(fixture, "vec_id", "embedding",
        kmQuant, nprobe = 2, k = 3).as[(Long, Long, Double, Long)].collect().toSet
    val kmInline = Similarity.ivfKnnJoin(fixture, "vec_id", "embedding",
        IvfQuantizer.fromModel(km), nprobe = 2, k = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(kmStored == kmInline, "KMeans quantizer must round-trip through the table form")
    val gapped = quant.filter(col("ivf_cell") =!= 3)
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfKnnJoinFromStored(fixture, "vec_id", "embedding", gapped, 2, 3)
    }
    assert(err.getMessage.contains("dense"), s"wrong error: ${err.getMessage}")
  }

  test("ivfKnnJoinFromStored: corrupt quantizers fail loudly, not with 0 rows " +
    "(dim mismatch / ragged / NaN centroid / NaN offset)") {
    def quantOf(cells: Seq[(Int, Seq[Double], Double)]) =
      cells.toDF("ivf_cell", "centroid", "offset")
    val good = Seq(0.2, 0.1, 0.3)
    // a RAGGED table must fail at load, before any executor can throw an
    // ArrayIndexOutOfBounds on the short row (r14 advice)
    val ragged = quantOf(Seq((0, good, 0.0), (1, Seq(1.0, 0.0), 0.0)))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfKnnJoinFromStored(fixture, "vec_id", "embedding", ragged, 1, 2)
    }
    assert(e2.getMessage.contains("share one dimension"), s"wrong error: ${e2.getMessage}")
    val nanCent = quantOf(Seq((0, good, 0.0), (1, Seq(0.1, Double.NaN, 0.2), 0.0)))
    val e3 = intercept[IllegalArgumentException] {
      Similarity.ivfKnnJoinFromStored(fixture, "vec_id", "embedding", nanCent, 1, 2)
    }
    assert(e3.getMessage.contains("NaN"), s"wrong error: ${e3.getMessage}")
    val nanOff = quantOf(Seq((0, good, 0.0), (1, good.reverse, Double.NaN)))
    val e4 = intercept[IllegalArgumentException] {
      Similarity.ivfKnnJoinFromStored(fixture, "vec_id", "embedding", nanOff, 1, 2)
    }
    assert(e4.getMessage.contains("NaN"), s"wrong error: ${e4.getMessage}")
    val empty = quantOf(Seq((0, Seq.empty[Double], 0.0)))
    val e5 = intercept[IllegalArgumentException] {
      Similarity.ivfKnnJoinFromStored(fixture, "vec_id", "embedding", empty, 1, 2)
    }
    assert(e5.getMessage.contains("empty"), s"wrong error: ${e5.getMessage}")
  }

  test("IvfQuantizer.pinned: a ragged corpus fails with the ragged stored " +
    "table's dimension error, whichever anchor is shorter") {
    val long = Seq(0.2, 0.1, 0.3)
    val short = Seq(1.0, 0.0)
    // shorter anchor first: rows of the other length used to be dropped
    // silently; longer first: the probe kernel read past the short
    // anchor on an executor (ArrayIndexOutOfBounds)
    for ((first, second) <- Seq((short, long), (long, short))) {
      val storedErr = intercept[IllegalArgumentException] {
        Similarity.ivfKnnJoinFromStored(fixture, "vec_id", "embedding",
          Seq((0, first, 0.0), (1, second, 0.0)).toDF("ivf_cell", "centroid", "offset"),
          nprobe = 1, k = 1)
      }
      val corpus = Seq((0L, first), (1L, second), (2L, long)).toDF("vec_id", "embedding")
      val pinnedErr = intercept[IllegalArgumentException] {
        Similarity.ivfKnnJoin(corpus, "vec_id", "embedding", pinned(corpus, 2),
          nprobe = 1, k = 1).collect()
      }
      assert(pinnedErr.getMessage == storedErr.getMessage,
        s"pinned: ${pinnedErr.getMessage} / stored: ${storedErr.getMessage}")
      assert(pinnedErr.getMessage.contains("share one dimension"))
    }
  }

  test("IvfKernel: a NaN probe score is never seated; all-NaN scores reject the row") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val v = new GenericArrayData(Array(1.0, 0.0, 0.0))
    // cell 0 scores NaN (NaN centroid element); cells 1 and 2 are healthy.
    // Pre-r15 the first-untaken pick seated cell 0 and `score > NaN` kept
    // it there — the row's membership cell became the corrupt one.
    val cents = Array(
      Array(Double.NaN, 0.0, 0.0), Array(0.8, 0.1, 0.0), Array(0.0, 0.9, 0.1))
    val offs = Array(0.0, 0.0, 0.0)
    val got = graft.functions.IvfKernel.probes(v, cents, offs, 2)
    assert(got != null && got.toIntArray().toSeq == Seq(1, 2),
      s"NaN cell must be skipped: ${Option(got).map(_.toIntArray().toSeq)}")
    // all scores NaN -> rejected like a NaN input
    val allNan = Array(
      Array(Double.NaN, 0.0, 0.0), Array(0.0, Double.NaN, 0.0))
    assert(graft.functions.IvfKernel.probes(v, allNan, Array(0.0, 0.0), 1) == null,
      "all-NaN scores must null the row")
  }

  test("ivfIndex bounded fit: above the cap KMeans trains on a sample but " +
    "ASSIGNMENT stays full-corpus; ivfFitCap boundaries") {
    import Similarity.{ivfFitCap, ivfIndexWithCap}
    assert(ivfFitCap(8) == 1000000L, "small nlist floors at 1M")
    assert(ivfFitCap(3906) == 1000000L, "256*3906 = 999936 still floors")
    assert(ivfFitCap(3907) == 1000192L, "256 rows per centroid past the floor")
    assert(ivfFitCap(100000) == 25600000L)
    // cap injected below the 200-row fixture: the fit sees a ~60-row
    // sample, yet every corpus row still gets a cell
    val (assigned, km) = ivfIndexWithCap(fixture, "embedding", nlist = 4,
      seed = 42L, cap = 60L)
    assert(km.clusterCenters.length == 4)
    assert(assigned.count() == 200L,
      "assignment must cover the full corpus, not the fit sample")
    val cells = assigned.select("ivf_cell").as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < 4))
    // and the sampled-fit model still quantizes usefully: full-probe
    // top-k through it equals the exact join (nprobe = nlist degenerates
    // to exact whatever the centroids are)
    val full = Similarity.ivfKnnJoin(fixture, "vec_id", "embedding",
      IvfQuantizer.fromModel(km), nprobe = 4, k = 2)
      .as[(Long, Long, Double, Long)].collect().toSet
    val exact = Similarity.exactKnnJoin(fixture, "vec_id", "embedding", k = 2)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(full == exact)
  }

  test("IvfProbes kernel: parity with the composed norm+matvec+sort probe selection; " +
    "null contract on zero-norm/dim-mismatch/null-element rows") {
    val nlist = 7; val nprobe = 3
    // deliberately NON-unit centroids with the KMeans offsets ‖c‖²/2 so
    // the offset subtraction and the 1/‖v‖ scaling are both exercised
    val cents = Array.tabulate(nlist, dim)((p, i) => ((p * 17 + i * 5) % 11) * 0.07 - 0.3)
    val offs = cents.map(c => c.map(x => x * x).sum / 2)
    val vecD = col("embedding").cast("array<double>")
    val kernel = fixture.select(col("vec_id"),
        graft.functions.GraftFunctions.ivf_probes(vecD, cents, offs, nprobe).as("_p"))
      .orderBy("vec_id").as[(Long, Seq[Int])].collect()
    // the pre-r14 composed formulation, verbatim (the shape CollapseProject
    // melted at scale — kept here as the semantic reference)
    val offArr = array(offs.map(lit(_)): _*)
    val composed = fixture
      .select(col("vec_id"), vecD.as("_v"),
        sqrt(aggregate(zip_with(vecD, vecD, (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x)).as("_nrm"))
      .filter(col("_nrm") > 0)
      .select(col("vec_id"), col("_v"),
        (lit(1.0) / col("_nrm")).as("_inv"))
      .select(col("vec_id"),
        zip_with(
          graft.functions.GraftFunctions.matvec_product(col("_v"), cents),
          offArr, (d, o) => d * col("_inv") - o).as("_score"))
      .select(col("vec_id"), slice(array_sort(
        zip_with(col("_score"), sequence(lit(0), lit(nlist - 1)),
          (s, i) => struct((s * lit(-1.0)).as("ns"), i.as("ci")))),
        1, nprobe).getField("ci").as("_p"))
      .orderBy("vec_id").as[(Long, Seq[Int])].collect()
    assert(kernel.length == composed.length && kernel.length == 200)
    kernel.zip(composed).foreach { case ((idK, pk), (idC, pc)) =>
      assert(idK == idC && pk == pc, s"id=$idK kernel=$pk composed=$pc")
    }
    // contract rows: zero norm, dim mismatch, null element -> null;
    // nprobe > nlist truncates to all cells in rank order
    val edge = Seq(
      (1L, Seq.fill(dim)(0.0)),                          // zero norm
      (2L, Seq(1.0, 2.0)),                               // dim mismatch
      (3L, Seq.tabulate(dim)(i => i * 0.1))              // healthy
    ).toDF("vec_id", "v")
      .withColumn("v", when(col("vec_id") === 2, array(lit(1.0), lit(2.0)))
        .otherwise(col("v")))
    val edgeOut = edge.select(col("vec_id"),
        graft.functions.GraftFunctions.ivf_probes(col("v"), cents, offs, nprobe).as("_p"))
      .as[(Long, Option[Seq[Int]])].collect().toMap
    assert(edgeOut(1L).isEmpty, "zero-norm vector must be null")
    assert(edgeOut(2L).isEmpty, "dim-mismatched vector must be null")
    assert(edgeOut(3L).exists(_.length == nprobe))
    val nullElem = Seq(Tuple1(Seq[java.lang.Double](1.0, null))).toDF("v")
      .select(graft.functions.GraftFunctions.ivf_probes(
        concat(col("v"), array(Seq.fill(dim - 2)(lit(0.5)): _*)), cents, offs, nprobe).as("_p"))
      .as[Option[Seq[Int]]].head()
    assert(nullElem.isEmpty, "a null element must null the row")
    val truncated = fixture.limit(1).select(
        graft.functions.GraftFunctions.ivf_probes(vecD, cents, offs, nlist + 5).as("_p"))
      .as[Seq[Int]].head()
    assert(truncated.length == nlist && truncated.toSet == (0 until nlist).toSet,
      "nprobe > nlist returns every cell exactly once, rank-ordered")
  }

  test("IvfProbesBroadcast: bitwise parity with the plan-constant form " +
    "(same kernel, different shipping) and identical null contract") {
    val nlist = 7; val nprobe = 3
    val cents = Array.tabulate(nlist, dim)((p, i) => ((p * 17 + i * 5) % 11) * 0.07 - 0.3)
    val offs = cents.map(c => c.map(x => x * x).sum / 2)
    val bc = spark.sparkContext.broadcast(graft.functions.IvfQuantizer(cents, offs))
    val vecD = col("embedding").cast("array<double>")
    val viaBc = fixture.select(col("vec_id"),
        graft.functions.GraftFunctions.ivf_probes_bc(vecD, bc, nprobe).as("_p"))
      .orderBy("vec_id").as[(Long, Seq[Int])].collect()
    val viaConst = fixture.select(col("vec_id"),
        graft.functions.GraftFunctions.ivf_probes(vecD, cents, offs, nprobe).as("_p"))
      .orderBy("vec_id").as[(Long, Seq[Int])].collect()
    assert(viaBc.sameElements(viaConst), "broadcast and plan-constant forms diverged")
    // null contract rides through the shared kernel: zero-norm -> null
    val zero = Seq((1L, Seq.fill(dim)(0.0))).toDF("vec_id", "v")
      .select(graft.functions.GraftFunctions.ivf_probes_bc(col("v"), bc, nprobe).as("_p"))
      .as[Option[Seq[Int]]].head()
    assert(zero.isEmpty)
    bc.destroy()
  }

  test("QuantizeUint8/QuantCosine: byte codes match quantizeInt8's int codes; " +
    "reconstruction cosine matches a hand-computed reference; null contract") {
    val PqBounds(lo, hi) = PqBounds.stats(fixture, "embedding")
    assert(lo.length == dim && hi.length == dim)
    val byteCodes = fixture.select(col("vec_id"),
        graft.functions.GraftFunctions.quantize_uint8(
          col("embedding").cast("array<double>"), lo, hi).as("_b"))
      .as[(Long, Array[Byte])].collect().toMap
    val intCodes = Similarity.quantizeInt8(fixture, "vec_id", "embedding")
      .select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
    assert(byteCodes.keySet == intCodes.keySet)
    byteCodes.foreach { case (id, b) =>
      assert(b.map(_ & 0xFF).toSeq == intCodes(id),
        s"vec $id: binary codes diverge from quantizeInt8")
    }
    // reconstruction cosine vs a driver-side reference on two rows
    val twoVecs = fixture.filter(col("vec_id").isin(0L, 1L))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    def recon(v: Seq[Double]): Array[Double] = v.indices.map { i =>
      val c = if (hi(i) == lo(i)) 0.0
        else math.min(math.max(math.floor((v(i) - lo(i)) / (hi(i) - lo(i)) * 255.0 + 0.5), 0.0), 255.0)
      lo(i) + c / 255.0 * (hi(i) - lo(i))
    }.toArray
    val (r0, r1) = (recon(twoVecs(0L)), recon(twoVecs(1L)))
    val expect = {
      var dt = 0.0; var n0 = 0.0; var n1 = 0.0
      r0.indices.foreach { i => dt += r0(i) * r1(i); n0 += r0(i) * r0(i); n1 += r1(i) * r1(i) }
      dt / (math.sqrt(n0) * math.sqrt(n1))
    }
    val got = fixture.filter(col("vec_id") === 0L)
      .select(graft.functions.GraftFunctions.quant_cosine(
        graft.functions.GraftFunctions.quantize_uint8(col("embedding").cast("array<double>"), lo, hi),
        graft.functions.GraftFunctions.quantize_uint8(
          typedlit(twoVecs(1L)).cast("array<double>"), lo, hi), lo, hi))
      .as[Double].head()
    assert(got == expect, s"quant cosine $got != reference $expect")
    // reconstruction error is small: quantized cosine close to exact
    val exact = fixture.filter(col("vec_id") === 0L)
      .select(Similarity.cosine(col("embedding").cast("array<double>"),
        typedlit(twoVecs(1L)).cast("array<double>"))).as[Double].head()
    assert(math.abs(got - exact) < 0.01, s"recon cosine $got vs exact $exact")
    // dim-mismatch -> null codes
    val short = Seq(Tuple1(Seq(1.0, 2.0))).toDF("v")
      .select(graft.functions.GraftFunctions.quantize_uint8(col("v"), lo, hi))
      .as[Option[Array[Byte]]].head()
    assert(short.isEmpty, "dim-mismatched row must quantize to null")
  }

  test("ivfPqKnnJoin: pass-through kPrime equals the plain IVF join exactly; " +
    "modest kPrime keeps k rows per query with exact output cosines") {
    val nprobe = 2; val k = 3
    // kPrime >= any per-query candidate count -> the survivor stage is a
    // pass-through and the PQ join IS the IVF join (same quantizer)
    val bounds = PqBounds.stats(fixture, "embedding")
    val pq = Similarity.ivfKnnJoin(fixture, "vec_id", "embedding", pinnedAuto(fixture),
        nprobe, k, Some(IvfPq(bounds, kPrime = 1000)))
      .as[(Long, Long, Double, Long)].collect().toSet
    val ivf = Similarity.ivfKnnJoin(fixture, "vec_id", "embedding", pinnedAuto(fixture),
        nprobe, k)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(pq == ivf, "pass-through PQ join must equal the plain IVF join")
    // modest kPrime: per-query row count still <= k, ranks dense from 1,
    // and every cos is the EXACT cosine of the pair (codes never leak)
    val tight = Similarity.ivfKnnJoin(fixture, "vec_id", "embedding", pinnedAuto(fixture),
        nprobe, k, Some(IvfPq(bounds, kPrime = 6)))
      .as[(Long, Long, Double, Long)].collect()
    val perQ = tight.groupBy(_._1)
    assert(perQ.values.forall(_.length <= k))
    perQ.values.foreach { rows =>
      assert(rows.map(_._4).sorted.sameElements(1L to rows.length))
    }
    val vecs = fixture.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    tight.take(20).foreach { case (q, n, cos, _) =>
      val (a, b) = (vecs(q), vecs(n))
      var dt = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => dt += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      val exact = dt / (math.sqrt(na) * math.sqrt(nb))
      assert(cos == exact, s"($q,$n): output cos $cos != exact $exact")
    }
    // production (KMeans) form: smoke - n rows in, k-bounded out, runs
    val prod = Similarity.ivfKnnJoin(fixture, "vec_id", "embedding",
      IvfQuantizer.fit(fixture, "embedding", Similarity.autoNlist(200L, nprobe, 8)),
      nprobe, k, Some(IvfPq(bounds, kPrime = 12)))
    assert(prod.count() > 0)
    // stored-quantizer + stored-stats leg: reloading the same anchors
    // and the same bounds changes no row
    val derived = Similarity.autoNlist(200L, nprobe, 8)
    val quant = Similarity.ivfPinnedQuantizerRows(fixture, "vec_id", "embedding", derived)
    val stats = bounds.rows(spark)
    val storedPq = Some(IvfPq(PqBounds.stored(stats), kPrime = 6))
    val viaStored = Similarity.ivfKnnJoin(fixture, "vec_id", "embedding",
        IvfQuantizer.stored(quant), nprobe, k, storedPq)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(viaStored == tight.toSet, "PQ stored leg must equal the pinned-auto run")
    // broadcast-handle leg: caller-owned broadcast, identical rows for
    // the PQ and the exact join
    val bc = spark.sparkContext.broadcast(IvfQuantizer.stored(quant))
    val viaBc = Similarity.ivfKnnJoin(fixture, "vec_id", "embedding",
        bc, nprobe, k, storedPq)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(viaBc == tight.toSet, "PQ broadcast leg must equal the pinned-auto run")
    val exactBc = Similarity.ivfKnnJoin(fixture, "vec_id", "embedding", bc, nprobe, k, None)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(exactBc == ivf, "exact broadcast leg must equal the stored-table run")
    bc.destroy()
  }

  test("stored PQ stats pin code semantics across corpus versions: a grown " +
    "corpus joined with BUILD-TIME stats reproduces the build-time codes") {
    // build-time artifact: quantizer + stats over the original corpus
    val nprobe = 2; val k = 3
    val derived = Similarity.autoNlist(200L, nprobe, 8)
    val quant = Similarity.ivfPinnedQuantizerRows(fixture, "vec_id", "embedding", derived)
    val stats = PqBounds.stats(fixture, "embedding").rows(spark)
    val PqBounds(loS, hiS) = PqBounds.stored(stats)
    // the corpus GROWS with an out-of-range vector: recomputed bounds
    // would stretch and silently change every cached code; stored
    // bounds must leave the original rows' codes bit-identical
    val grown = fixture.union(Seq((9999L, Seq.fill(dim)(50.0f)))
      .toDF("vec_id", "embedding"))
    val PqBounds(loG, hiG) = PqBounds.stats(grown, "embedding")
    assert(hiG.zip(hiS).exists { case (g, s) => g > s },
      "fixture sanity: the grown corpus must actually stretch the recomputed bounds")
    def codesWith(df: org.apache.spark.sql.DataFrame, lo: Array[Double], hi: Array[Double]) =
      df.filter(col("vec_id") < 9999L).select(col("vec_id"),
          graft.functions.GraftFunctions.quantize_uint8(
            col("embedding").cast("array<double>"), lo, hi).as("_b"))
        .as[(Long, Array[Byte])].collect().toMap
    val buildTime = codesWith(fixture, loS, hiS)
    val grownStored = codesWith(grown, loS, hiS)
    val grownRecomputed = codesWith(grown, loG, hiG)
    assert(grownStored.keySet == buildTime.keySet)
    grownStored.foreach { case (id, b) =>
      assert(b.sameElements(buildTime(id)),
        s"vec $id: stored stats must reproduce build-time codes on the grown corpus")
    }
    assert(grownRecomputed.exists { case (id, b) => !b.sameElements(buildTime(id)) },
      "fixture sanity: recomputed stats DO change codes — the hole stored stats close")
    // and the stored join itself runs green against the grown corpus
    val joined = Similarity.ivfKnnJoin(grown, "vec_id", "embedding",
      IvfQuantizer.stored(quant), nprobe, k, Some(IvfPq(PqBounds.stored(stats), kPrime = 6)))
    assert(joined.count() > 0)
  }

  test("ivfPqStats: NaN elements are excluded instead of poisoning a " +
    "dimension; a NaN-carrying corpus still joins (rows, not silence)") {
    // one corrupt vector: dim 0 carries NaN — pre-r16 max(_x) went NaN,
    // every reconstruction on dim 0 went NaN, every _qcos was filtered,
    // and the PQ join silently returned 0 rows
    val corrupt = fixture.union(
      Seq((5000L, Seq(Float.NaN) ++ Seq.fill(dim - 1)(0.25f))).toDF("vec_id", "embedding"))
    val PqBounds(loC, hiC) = PqBounds.stats(corrupt, "embedding")
    val PqBounds(loF, hiF) = PqBounds.stats(fixture, "embedding")
    assert(!loC.exists(_.isNaN) && !hiC.exists(_.isNaN))
    // dim 0's bounds: the NaN element is invisible, but the corrupt
    // vector's real elements on OTHER dims still participate
    assert(loC(0) == loF(0) && hiC(0) == hiF(0),
      "dim 0 bounds must ignore the NaN element")
    val joined = Similarity.ivfKnnJoin(corrupt, "vec_id", "embedding", pinnedAuto(corrupt),
      nprobe = 2, k = 3, Some(IvfPq(PqBounds(loC, hiC), kPrime = 8)))
    assert(joined.count() > 0, "a NaN-carrying corpus must not silence the join")
    // the corrupt ROW itself is excluded (probe kernel nulls it) — the
    // plain-IVF convention: null the row, never the lane
    assert(joined.filter(col("vec_id") === 5000L).count() == 0)
  }

  test("PQ clip: quantile-clipped bounds hold recall on an outlier-injected " +
    "corpus where global min/max degrades (production approx form AND the " +
    "oracle-restatable rank-clip twin)") {
    val vecD = col("embedding").cast("array<double>")
    val outlier = fixture.withColumn("embedding",
      when(col("vec_id") === 3L, transform(vecD, _ => lit(1e6))).otherwise(vecD))
    // bounds sanity: min/max swallows the outlier, both clipped forms drop it
    val minMax = PqBounds.stats(outlier, "embedding")
    val clipped = PqBounds.stats(outlier, "embedding", clip = 0.02)
    val hiMm = minMax.hi
    val hiRk = PqBounds.rankClipped(outlier, "embedding", 1).hi
    val hiAp = clipped.hi
    assert(hiMm.forall(_ == 1e6), "min/max hi must be the outlier on every dim")
    assert(hiRk.forall(_ < 10.0), "rank-clip must drop the outlier on every dim")
    assert(hiAp.forall(_ < 10.0), "approx clip must drop the outlier on every dim")
    // recall: exact top-1 recovered in the PQ top-3, production KMeans lane
    val truth = Similarity.exactKnnJoin(outlier, "vec_id", "embedding", k = 1)
      .select(col("vec_id"), col("neighbor_id")).as[(Long, Long)].collect().toSet
    def recall(j: org.apache.spark.sql.DataFrame): Double =
      truth.count(j.select(col("vec_id"), col("neighbor_id"))
        .as[(Long, Long)].collect().toSet).toDouble / truth.size
    val kmeans = IvfQuantizer.fit(outlier, "embedding", Similarity.autoNlist(200L, 2, 8))
    def pqJoin(b: PqBounds) = Similarity.ivfKnnJoin(outlier, "vec_id", "embedding",
      kmeans, nprobe = 2, k = 3, Some(IvfPq(b, kPrime = 8)))
    val rMm = recall(pqJoin(minMax))
    val rAp = recall(pqJoin(clipped))
    assert(rAp > rMm,
      s"clipped recall $rAp must beat crushed min/max recall $rMm")
  }

  test("QuantKernel.encode: a NaN element nulls the row (the IvfKernel " +
    "convention), never a silent code 0") {
    val PqBounds(lo, hi) = PqBounds.stats(fixture, "embedding")
    val row = Seq(Tuple1(Seq(Double.NaN) ++ Seq.fill(dim - 1)(0.1))).toDF("v")
      .select(graft.functions.GraftFunctions.quantize_uint8(col("v"), lo, hi))
      .as[Option[Array[Byte]]].head()
    assert(row.isEmpty, "NaN element must encode to null, not byte 0")
  }

  test("collapseExactVectors: min-id representatives, full membership, twins found via rep fan-out") {
    val df = Seq(
      (5L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(1.0f, 0.0f, 0.0f)), (9L, Seq(1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)), (7L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f)),
      (8L, null.asInstanceOf[Seq[Float]])
    ).toDF("vec_id", "embedding")
    val (reps, membership) = graft.ext.Similarity.collapseExactVectors(df, "vec_id", "embedding")
    val repRows = reps.select("vec_id", "dup_count").as[(Long, Long)].collect().toMap
    assert(repRows == Map(2L -> 3L, 3L -> 2L, 4L -> 1L)) // min id wins, null dropped
    val mem = membership.select("vec_id", "rep_id").as[(Long, Long)].collect().toMap
    assert(mem == Map(5L -> 2L, 2L -> 2L, 9L -> 2L, 3L -> 3L, 7L -> 3L, 4L -> 4L))
    // dup-mass ANN recipe: run on representatives, fan out through membership —
    // every member of a duplicate cluster reaches every other via its rep
    val twins = membership.as("a")
      .join(membership.as("b"), $"a.rep_id" === $"b.rep_id" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id", $"b.vec_id").as[(Long, Long)].collect().toSet
    assert(twins == Set((2L, 5L), (2L, 9L), (5L, 9L), (3L, 7L)))
  }

  test("knnJoinAdaptive: identical to knnJoinAuto below the split cap; splits the hot cell above it") {
    val rnd = new scala.util.Random(7)
    def vec(seed: Int) = Seq.tabulate(16)(i => (new scala.util.Random(seed * 31 + i).nextDouble() - 0.5).toFloat)
    // 40 well-spread vectors: no bucket near the cap → results must be EQUAL
    val spread = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val auto = graft.ext.Similarity.knnJoin(spread, "vec_id", "embedding", 16, k = 3,
        bucketing = SignBucketing.Auto())
      .collect().map(_.toSeq).toSet
    val adapt = graft.ext.Similarity.knnJoin(spread, "vec_id", "embedding", 16, k = 3,
        bucketing = SignBucketing.Adaptive())
      .collect().map(_.toSeq).toSet
    assert(adapt == auto, "below the cap Adaptive must reproduce Auto exactly")
    // skewed corpus: 600 vectors tightly clustered around one direction
    // (tiny per-row noise — one sign-cell swallows the cluster) + 100 spread
    val base = Array.tabulate(16)(i => math.sin(i + 1.0))
    val skewed = ((0 until 600).map { i =>
      (i.toLong, base.zipWithIndex.map { case (v, j) =>
        (v + 0.01 * new scala.util.Random(i * 97 + j).nextGaussian()).toFloat }.toSeq)
    } ++ (600 until 700).map(i => (i.toLong, vec(i)))).toDF("vec_id", "embedding")
    val res = graft.ext.Similarity.knnJoin(skewed, "vec_id", "embedding", 16, k = 2,
      bucketing = SignBucketing.Adaptive(targetBucket = 8L, minPlanes = 4, splitFactor = 2L))
    val perQuery = res.groupBy("vec_id").count().select("count").as[Long].collect()
    assert(perQuery.forall(_ <= 2))
    // clustered rows must still find a same-cluster neighbor at cos ≈ 1
    val top = res.filter($"vec_id" < 600 && $"rank" === 1)
      .select("cos").as[Double].collect()
    assert(top.nonEmpty && top.forall(_ > 0.99),
      s"cluster members lost their near-twins: min=${top.minOption}")
  }

  test("semanticDedupAdaptive: identical to semanticDedupAuto below the cap; subset with high retention above it") {
    def vec(seed: Int) = Seq.tabulate(16)(i => (new scala.util.Random(seed * 31 + i).nextDouble() - 0.5).toFloat)
    val spread = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val auto = graft.ext.Similarity.semanticDedup(spread, "vec_id", "embedding", 16, minCos = 0.2,
        bucketing = SignBucketing.Auto())
      .collect().map(_.toSeq).toSet
    val adapt = graft.ext.Similarity.semanticDedup(spread, "vec_id", "embedding", 16, minCos = 0.2,
        bucketing = SignBucketing.Adaptive())
      .collect().map(_.toSeq).toSet
    assert(adapt == auto, "below the cap Adaptive must reproduce Auto exactly")
    // skewed corpus (one hot sign-cell): splitting may only DROP pairs
    // (sub-bucket restriction), never add or change one — and the tight
    // cluster must retain nearly all of its near-dup pairs
    val base = Array.tabulate(16)(i => math.sin(i + 1.0))
    val skewed = ((0 until 600).map { i =>
      (i.toLong, base.zipWithIndex.map { case (v, j) =>
        (v + 0.01 * new scala.util.Random(i * 97 + j).nextGaussian()).toFloat }.toSeq)
    } ++ (600 until 700).map(i => (i.toLong, vec(i)))).toDF("vec_id", "embedding")
    val autoPairs = graft.ext.Similarity.semanticDedup(skewed, "vec_id", "embedding", 16, minCos = 0.99,
        bucketing = SignBucketing.Auto(targetBucket = 8L, minPlanes = 4))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val adaptPairs = graft.ext.Similarity.semanticDedup(skewed, "vec_id", "embedding", 16, minCos = 0.99,
        bucketing = SignBucketing.Adaptive(targetBucket = 8L, minPlanes = 4, splitFactor = 2L))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(adaptPairs.subsetOf(autoPairs), "split added pairs that do not exist un-split")
    assert(autoPairs.nonEmpty &&
      adaptPairs.size.toDouble / autoPairs.size > 0.9,
      s"split dropped too many near-dup pairs: ${adaptPairs.size}/${autoPairs.size}")
  }

  test("adaptive forms degrade like the auto forms on empty and all-null inputs") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(graft.ext.Similarity.knnJoin(empty, "vec_id", "embedding", 16, k = 3,
      bucketing = SignBucketing.Adaptive()).count() == 0)
    assert(graft.ext.Similarity.semanticDedup(empty, "vec_id", "embedding", 16, 0.5,
      bucketing = SignBucketing.Adaptive()).count() == 0)
    val allNull = Seq((1L, null.asInstanceOf[Seq[Float]]), (2L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    assert(graft.ext.Similarity.knnJoin(allNull, "vec_id", "embedding", 16, k = 3).count() == 0)
    assert(graft.ext.Similarity.semanticDedupCollapsed(allNull, "vec_id", "embedding", 16, 0.5).count() == 0)
  }

  /** Duplicate-heavy corpus with EXACT float arithmetic: 0/1 vectors
    * whose squared norms are perfect squares (1 or 4), so every cosine —
    * including a twin pair's 1.0 — is computed exactly and the collapsed
    * composites can be checked for BIT parity against the uncollapsed
    * run under matched bucket geometry (same plane count, no split on
    * either side).
    */
  private lazy val dupFixture = {
    def unit(j: Int) = Seq.tabulate(16)(i => if (i == j) 1.0f else 0.0f)
    def quad(js: Set[Int]) = Seq.tabulate(16)(i => if (js(i)) 1.0f else 0.0f)
    val rows =
      (0 until 5).map(i => (i.toLong, unit(0))) ++          // 5 exact twins
      (5 until 8).map(i => (i.toLong, unit(1))) ++          // 3 exact twins
      Seq((8L, quad(Set(0, 1, 2, 3))), (9L, quad(Set(0, 1, 4, 5))), // overlap pair
        (10L, unit(7)), (11L, unit(8)), (12L, quad(Set(7, 8, 9, 10))))
    rows.toDF("vec_id", "embedding")
  }

  test("knnJoinCollapsed: exact parity with the uncollapsed adaptive join under matched geometry") {
    // same n-regime (both resolve to minPlanes, no split) → candidate
    // sets match: twins are bucket-mates in the full run, and the
    // collapsed run re-inserts them at literal cos 1.0 = the kernel's
    // exact twin cosine on unit/perfect-square vectors
    val full = graft.ext.Similarity.knnJoin(dupFixture, "vec_id", "embedding", 16, k = 3,
        bucketing = SignBucketing.Adaptive())
      .collect().map(_.toSeq).toSet
    val collapsed = graft.ext.Similarity.knnJoin(dupFixture, "vec_id", "embedding", 16, k = 3,
        bucketing = SignBucketing.Collapsed())
      .collect().map(_.toSeq).toSet
    assert(collapsed == full,
      s"missing=${(full -- collapsed).take(5)} extra=${(collapsed -- full).take(5)}")
    // and on a duplicate-free corpus the composition is the identity
    def vec(seed: Int) = Seq.tabulate(16)(i => (new scala.util.Random(seed * 31 + i).nextDouble() - 0.5).toFloat)
    val spread = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val a = graft.ext.Similarity.knnJoin(spread, "vec_id", "embedding", 16, k = 3,
        bucketing = SignBucketing.Adaptive())
      .collect().map(_.toSeq).toSet
    val c = graft.ext.Similarity.knnJoin(spread, "vec_id", "embedding", 16, k = 3,
        bucketing = SignBucketing.Collapsed())
      .collect().map(_.toSeq).toSet
    assert(c == a, "collapse over a dup-free corpus must be the identity")
  }

  test("semanticDedupCollapsed: connected components match the uncollapsed pair graph") {
    def components(pairs: Set[(Long, Long)], nodes: Set[Long]): Set[Set[Long]] = {
      val parent = scala.collection.mutable.Map(nodes.map(n => n -> n).toSeq: _*)
      def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
      nodes.groupBy(find).values.map(_.toSet).toSet
    }
    val nodes = dupFixture.select("vec_id").as[Long].collect().toSet
    val fullPairs = graft.ext.Similarity.semanticDedup(dupFixture, "vec_id", "embedding",
        16, minCos = 0.49, bucketing = SignBucketing.Adaptive())
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val cover = graft.ext.Similarity.semanticDedupCollapsed(dupFixture, "vec_id", "embedding",
        16, minCos = 0.49)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(fullPairs.nonEmpty, "fixture must have cross-cluster near-dups")
    assert(components(cover, nodes) == components(fullPairs, nodes),
      "cover must preserve connected components exactly")
    // the planes-free DEFAULT overload dispatches to this collapsed
    // composition — same rows, same component structure (r14: the safe
    // default the r13 verdict asked for)
    val defaultRows = graft.ext.Similarity.semanticDedup(dupFixture, "vec_id", "embedding",
        16, minCos = 0.49)
    val default = defaultRows.select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(default == cover, "planes-free default must equal the collapsed cover")
    // star edges (cos 1.0 twins) carry a null bucket; rep-level pairs keep theirs
    val buckets = defaultRows.select("id1", "id2", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> Option(r.get(2))).toMap
    def cluster(id: Long): Long = if (id <= 4) 0L else if (id <= 7) 5L else id
    assert(buckets.forall { case ((a, b), bk) =>
      bk.isEmpty == (cluster(a) == cluster(b)) }, s"bucket column: $buckets")
    assert(components(default, nodes) == components(fullPairs, nodes),
      "default path must preserve the components of the full pair graph")
    // star edges replace within-cluster quadratics: the 5-twin cluster
    // contributes exactly 4 star edges (rep 0 → members), not C(5,2)=10
    assert(cover.count { case (a, b) => a == 0L } == 4 ||
      cover.filter(p => Set(p._1, p._2).subsetOf(Set(0L, 1L, 2L, 3L, 4L))).size == 4,
      s"twin cluster not star-shaped: ${cover.filter(p => p._1 <= 4 && p._2 <= 4)}")
    // every cover edge is a true near-dup edge (cos >= minCos or a twin)
    val cosOk = graft.ext.Similarity.semanticDedupCollapsed(dupFixture, "vec_id", "embedding",
        16, minCos = 0.49)
      .select("cos").as[Double].collect()
    assert(cosOk.forall(_ >= 0.49))
  }

  test("banded signatures are deterministic and band-independent") {
    val sigsA = fixture.select(col("vec_id"),
        Similarity.bandedSignatures(col("embedding"), dim, bands = 4, bitsPerBand = 5).as("s"))
      .orderBy("vec_id").as[(Long, Seq[Long])].collect()
    val sigsB = fixture.select(col("vec_id"),
        Similarity.bandedSignatures(col("embedding"), dim, bands = 4, bitsPerBand = 5).as("s"))
      .orderBy("vec_id").as[(Long, Seq[Long])].collect()
    assert(sigsA.toSeq == sigsB.toSeq) // reproducible across runs
    // bands use disjoint hyperplane ranges: not all bands identical
    val firstRow = sigsA.head._2
    assert(firstRow.distinct.length > 1, s"bands collapsed: $firstRow")
  }

  test("signedProjection matches an explode-computed reference and scales by 1/sqrt(dOut)") {
    val dIn = 16; val dOut = 3
    val df = spark.range(20L).select(col("id"),
      transform(sequence(lit(0), lit(dIn - 1)),
        i => sin(col("id") * 7 + i)).as("v"))
    val got = Similarity.signedProjection(df, "id", "v", dIn, dOut)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    // independent path: explode + per-(row, out-dim) sum via the same
    // portable-hash sign rule stated as COLUMN arithmetic
    val expect = df.select(col("id"),
        posexplode(col("v").cast("array<double>")).as(Seq("j", "x")))
      .crossJoin(spark.range(dOut.toLong).select(col("id").as("i")))
      .withColumn("sign", when(
        pmod((col("i") * dIn + col("j")) * 2654435761L, lit(4294967296L)) < 2147483648L,
        1.0).otherwise(-1.0))
      .groupBy("id", "i")
      .agg((sum(col("x") * col("sign")) / math.sqrt(dOut.toDouble)).as("y"))
      .groupBy("id").agg(map_from_arrays(collect_list(col("i")),
        collect_list(col("y"))).as("m"))
      .orderBy("id").collect()
      .map { r =>
        val m = r.getMap[Long, Double](1)
        (r.getLong(0), (0 until dOut).map(i => m(i.toLong)))
      }.toSeq
    got.zip(expect).foreach { case ((idG, pg), (idE, pe)) =>
      assert(idG == idE)
      pg.zip(pe).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9, s"id=$idG $pg vs $pe") }
    }
    assert(got.head._2.length == dOut)
  }

  test("centroidOutliers: cosine to the group mean, hand-checked; singleton group = 1") {
    val rows = Seq(
      (1L, "g", Seq(2.0, 0.0)),   // centroid of g = (1, 1)
      (2L, "g", Seq(0.0, 2.0)),
      (3L, "solo", Seq(3.0, 4.0)) // own centroid -> cos 1
    ).toDF("vec_id", "grp", "embedding")
    val got = Similarity.centroidOutliers(rows, "grp", "vec_id", "embedding", minCos = 0.8)
      .orderBy("vec_id").as[(Long, String, Double, Boolean)].collect().toSeq
    val c = 1.0 / math.sqrt(2) // cos((2,0), (1,1))
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
    assert(math.abs(got(0)._3 - c) < 1e-9 && got(0)._4, s"got $got")
    assert(math.abs(got(1)._3 - c) < 1e-9 && got(1)._4)
    assert(math.abs(got(2)._3 - 1.0) < 1e-9 && !got(2)._4)
    // a degenerate all-zero vector has NaN cosine — NaN compares greater
    // than everything, so it must be flagged explicitly, not passed
    val withZero = rows.union(Seq((4L, "g", Seq(0.0, 0.0))).toDF("vec_id", "grp", "embedding"))
    val zeroRow = Similarity.centroidOutliers(withZero, "grp", "vec_id", "embedding",
        minCos = 0.8)
      .filter(col("vec_id") === 4L).as[(Long, String, Double, Boolean)].head()
    assert(zeroRow._3.isNaN && zeroRow._4, s"zero vector not flagged: $zeroRow")
  }

  test("semanticDedup: pairs are a bucket-filtered subset of the exact all-pairs set") {
    val minCos = 0.8
    val got = Similarity.semanticDedup(fixture, "vec_id", "embedding",
        dIn = dim, minCos = minCos, bucketing = SignBucketing.Fixed(4))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // exact set with the boundary nudged below >= so the subset check is
    // conservative (cosineNearDuplicates filters with strict >)
    val exact = Similarity.cosineNearDuplicates(fixture, "vec_id", "embedding",
        minCos - 1e-9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got.nonEmpty, "no within-bucket pairs found in the near-cluster fixture")
    assert(got.subsetOf(exact), s"bucketed pairs not a subset: ${got.diff(exact)}")
  }

  test("semanticDedup: identical vectors share a bucket and are always caught") {
    val v = randVec().toSeq
    val dupes = Seq((900L, v), (901L, v)).toDF("vec_id", "embedding")
    val rows = Similarity.semanticDedup(fixture.union(dupes), "vec_id", "embedding",
        dIn = dim, minCos = 0.99, bucketing = SignBucketing.Fixed(6))
      .filter(col("id1") === 900L && col("id2") === 901L)
      .collect()
    assert(rows.length == 1, "identical pair missed — sign buckets must agree")
    assert(math.abs(rows.head.getAs[Double]("cos") - 1.0) < 1e-9)
    // the reported bucket is the sign fold of the portable projection
    val proj = Similarity.signedProjection(dupes, "vec_id", "embedding", dim, 6)
      .filter(col("vec_id") === 900L).head().getSeq[Double](1)
    val expectBucket = proj.zipWithIndex
      .collect { case (y, i) if y >= 0 => 1L << i }.sum
    assert(rows.head.getAs[Long]("bucket") == expectBucket)
  }

  test("hybridBlend: min-max norm, degenerate range, and missing legs contribute zero") {
    val lex = Seq((1L, 2.0), (2L, 6.0), (3L, 4.0)).toDF("id", "score")
    val sem = Seq((2L, 1.0), (3L, -1.0), (4L, 0.0)).toDF("id", "cos")
    val got = Similarity.hybridBlend(lex, sem, "id", "score", "cos")
      .orderBy("id").as[(Long, Double)].collect().toMap
    // id1: lex norm 0, no cos     -> 0.0
    // id2: lex norm 1, cos 1 -> 1 -> 1.0
    // id3: lex norm .5, cos -1 -> 0 -> 0.25
    // id4: no lex, cos 0 -> .5    -> 0.25
    assert(got == Map(1L -> 0.0, 2L -> 1.0, 3L -> 0.25, 4L -> 0.25), s"got $got")
    // single lexical row: degenerate hi == lo range normalizes to 1.0
    val one = Similarity.hybridBlend(
        Seq((7L, 3.3)).toDF("id", "score"), sem.filter(col("id") === 99), "id",
        "score", "cos")
      .as[(Long, Double)].collect().toSeq
    assert(one == Seq((7L, 0.5)), s"got $one")
  }

  test("knnJoin: per-bucket brute-force agreement, self excluded, k bounded") {
    val k = 2
    val got = Similarity.knnJoin(fixture, "vec_id", "embedding",
        dIn = dim, k = k, bucketing = SignBucketing.Fixed(4))
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(got.nonEmpty)
    assert(got.forall { case (q, n, _, r) => q != n && r >= 1 && r <= k })
    val perId = got.groupBy(_._1)
    assert(perId.values.forall(rows =>
      rows.map(_._4).sorted == (1L to rows.length.toLong)), "ranks not dense from 1")
    // reference: exact cosine ranking within the SAME sign buckets
    val vecs = fixture.as[(Long, Seq[Double])].collect().toMap
    val buckets = Similarity.signedProjection(fixture, "vec_id", "embedding", dim, 4)
      .as[(Long, Seq[Double])].collect()
      .map { case (id, p) =>
        id -> p.zipWithIndex.collect { case (y, i) if y >= 0 => 1L << i }.sum }
      .toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dt = a.zip(b).map { case (x, y) => x * y }.sum
      dt / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    for ((q, rows) <- perId) {
      val expect = buckets.collect {
        case (n, bk) if n != q && bk == buckets(q) => (n, cos(vecs(q), vecs(n)))
      }.toSeq.sortBy { case (n, c) => (-c, n) }.take(k).map(_._1)
      assert(rows.sortBy(_._4).map(_._2) == expect,
        s"neighbors of $q diverge from per-bucket brute force")
    }
  }

  test("knnJoinAuto: plane rule boundaries, and bitwise parity with the " +
      "fixed form while the rule resolves to minPlanes") {
    // integer boundary arithmetic: planes is the smallest >= minPlanes
    // with n / 2^planes <= targetBucket
    val rule = SignBucketing.Auto(targetBucket = 64L, minPlanes = 6)
    assert(rule.planes(500L) == 6)
    assert(rule.planes(2000L) == 6)
    assert(rule.planes(4096L) == 6, "boundary: 4096 = 64 * 2^6")
    assert(rule.planes(4097L) == 7, "one past the boundary")
    assert(rule.planes(20000L) == 9)
    assert(rule.planes(0L) == 6, "empty input keeps minPlanes")
    // every driver-checked embeddings table sits below the boundary, so
    // the auto form must equal the fixed form bitwise (the shared-oracle
    // contract of x_knn_join_auto)
    val auto = Similarity.knnJoin(fixture, "vec_id", "embedding",
        dIn = dim, k = 2, bucketing = SignBucketing.Auto(minPlanes = 4))
      .as[(Long, Long, Double, Long)].collect().toSeq.sorted
    val fixed = Similarity.knnJoin(fixture, "vec_id", "embedding",
        dIn = dim, k = 2, bucketing = SignBucketing.Fixed(4))
      .as[(Long, Long, Double, Long)].collect().toSeq.sorted
    assert(auto == fixed, "auto diverged from fixed below the boundary")
    // the planes-free overload IS the auto rule — the reachable default
    // can't silently pin a plane count (round-9 verdict item)
    val viaDefault = Similarity.knnJoin(fixture, "vec_id", "embedding",
        dIn = dim, k = 2)
      .as[(Long, Long, Double, Long)].collect().toSeq.sorted
    val viaAuto = Similarity.knnJoin(fixture, "vec_id", "embedding",
        dIn = dim, k = 2, bucketing = SignBucketing.Auto())
      .as[(Long, Long, Double, Long)].collect().toSeq.sorted
    assert(viaDefault == viaAuto, "default bucketing diverged from Auto below the cap")
  }

  test("knnJoin and semanticDedup drop null-vector rows under every bucketing") {
    val r = new scala.util.Random(11)
    val vecs = (0 until 500).map(i => (i.toLong, Seq.fill(16)(r.nextGaussian())))
    // negations of all-non-negative projections land real rows in bucket 0,
    // the bucket a null projection used to fall into; a vector of the
    // wrong length (9998, 8 of dIn = 16) projects to null as well
    val rows = vecs ++ vecs.map { case (i, v) => (i + 1000L, v.map(-_)) } :+
      ((9999L, null.asInstanceOf[Seq[Double]])) :+ ((9998L, Seq.fill(8)(0.5)))
    val dropped = Set(9998L, 9999L)
    val df = rows.toDF("vec_id", "embedding")
    assert(SignBucketing.Fixed(6).buckets(df, "vec_id", "embedding", 16)
      .filter(col("bucket") === 0L).count() > 0, "fixture must populate bucket 0")
    Seq(SignBucketing.Fixed(6), SignBucketing.Auto(), SignBucketing.Adaptive(),
        SignBucketing.Collapsed()).foreach { b =>
      val knn = Similarity.knnJoin(df, "vec_id", "embedding", 16, k = 3, bucketing = b)
        .as[(Long, Long, Option[Double], Long)].collect()
      assert(knn.nonEmpty, s"$b: no neighbours")
      assert(knn.forall(_._3.isDefined), s"$b: knnJoin emitted a null cosine")
      assert(!knn.exists(n => dropped(n._1) || dropped(n._2)),
        s"$b: a null or wrong-length vector row took part in knnJoin")
      val pairs = Similarity.semanticDedup(df, "vec_id", "embedding", 16, minCos = 0.3,
          bucketing = b)
        .select("id1", "id2", "cos").as[(Long, Long, Option[Double])].collect()
      assert(pairs.nonEmpty, s"$b: no pairs")
      assert(pairs.forall(_._3.isDefined), s"$b: semanticDedup emitted a null cosine")
      assert(!pairs.exists(p => dropped(p._1) || dropped(p._2)),
        s"$b: a null or wrong-length vector row took part in semanticDedup")
    }
  }

  test("SignBucketing: an invalid field fails at construction, naming the " +
    "field, before any Spark job runs") {
    def rejects(field: String)(build: => Any): Unit = {
      val e = intercept[IllegalArgumentException](build)
      assert(e.getMessage.contains(field), e.getMessage)
    }
    val group = "sign-bucketing-validation"
    spark.sparkContext.setJobGroup(group, group)
    try {
      rejects("planes = 0")(SignBucketing.Fixed(0))
      rejects("planes = 63")(SignBucketing.Fixed(63))
      rejects("targetBucket = 0")(SignBucketing.Auto(targetBucket = 0L))
      rejects("minPlanes = 0")(SignBucketing.Auto(minPlanes = 0))
      rejects("splitFactor = 0")(SignBucketing.Adaptive(splitFactor = 0L))
      rejects("splitFactor = 0")(SignBucketing.Collapsed(splitFactor = 0L))
      rejects("k = 0")(Similarity.knnJoin(fixture, "vec_id", "embedding", dim, k = 0,
        bucketing = SignBucketing.Auto()))
    } finally spark.sparkContext.clearJobGroup()
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty,
      "validation ran a Spark job")
  }
}
