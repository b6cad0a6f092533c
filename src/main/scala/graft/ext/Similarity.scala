package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SignBucketing

/** Similarity search over embedding columns (`array<float>`).
  *
  *  - Brute-force cosine top-k: the exact baseline — one scan, a dot
  *    product per row via codegen'd higher-order functions, then a top-k.
  *  - LSH-bucketed (random hyperplane signs): the scale path — candidates
  *    share a signature bucket; exact re-scoring only inside buckets.
  *
  * 100 TB shape: brute force is scan-bound (good when the query set is
  * tiny and one pass is acceptable); LSH turns the all-pairs O(n²) into
  * per-bucket work with one shuffle on the signature.
  */
object Similarity {

  /** Dot product of two double arrays — zip_with + aggregate, codegen'd
    * HOFs (kept as the composable building block; the hot paths use the
    * native kernel below).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity via the native Catalyst kernel
    * ([[graft.functions.CosineSim]], `doGenCode` primitive loop): the HOF
    * form pays a boxed lambda per element — ~100 ns/multiply-add measured;
    * the kernel is the loop codegen would ideally emit, with identical
    * null/length/fold semantics (bitwise-equal results, pinned in
    * SimilaritySpec).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine_sim(a.cast("array<double>"), b.cast("array<double>"))

  /** Exact top-k by cosine against one query vector (literal array,
    * shipped in the plan — no join). `orderBy(desc).limit(k)` is a
    * distributed TakeOrdered: per-partition top-k then a k-row merge on
    * the driver — no full sort.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     query: Array[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    val vecD = col(vecCol).cast("array<double>")
    df.select(col(idCol), cosine(vecD, q).as("cos"))
      .orderBy(desc("cos"), col(idCol))
      .limit(k)
  }

  /** Deterministic hyperplane component h(plane, i) in [-1, 1): a
    * splitmix64-style bit mix of (plane, i) — pure Scala, so hyperplanes
    * are identical whether computed driver-side (query signatures, no
    * Spark job) or shipped into the plan as literal arrays (row
    * signatures). The round-1 form hashed per element per row inside the
    * HOF lambda (xxhash64 re-evaluated dim·bits times per row, measured
    * 2.5 ms/row interpreted); literals move that to plan-build time.
    */
  private def hyperplane(plane: Int, i: Int): Double = {
    var z = plane.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L +
      0x94D049BB133111EBL
    z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L
    z ^= (z >>> 27); z *= 0x94D049BB133111EBL
    z ^= (z >>> 31)
    Math.floorMod(z, 2000L).toDouble / 1000.0 - 1.0
  }

  /** Random-hyperplane signature: `bits` sign bits of projections onto
    * deterministic pseudo-random hyperplanes. `offset` selects an
    * independent hyperplane range so banded schemes can derive many
    * uncorrelated signatures from one formula.
    */
  def hyperplaneSignature(vec: Column, dim: Int, bits: Int, offset: Int = 0): Column = {
    val vecD = vec.cast("array<double>")
    val proj = (0 until bits).map { b =>
      val hArr = typedlit((0 until dim).map(i => hyperplane(offset + b, i)))
      val terms = aggregate(zip_with(vecD, hArr, (v, h) => v * h),
        lit(0.0), (acc, v) => acc + v)
      when(terms >= 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    proj.reduce((a, c) => a.bitwiseOR(c))
  }

  /** `bands` independent hyperplane signatures of `bitsPerBand` bits each
    * (OR-amplification: two vectors are LSH candidates when ANY band
    * matches — the same band construction as Dedup.minhashCandidates).
    * Inline form: costs bands·bitsPerBand separate array re-scans per row
    * (Catalyst re-inlines each HOF projection) — use only for narrow
    * filters over few rows; the bulk path is [[bandedSignatureRows]].
    */
  def bandedSignatures(vec: Column, dim: Int, bands: Int, bitsPerBand: Int): Column =
    array((0 until bands).map(b =>
      hyperplaneSignature(vec, dim, bitsPerBand, offset = b * bitsPerBand)): _*)

  /** All band signatures in ONE pass over each vector, with a SMALL
    * expression tree: the bands·bitsPerBand hyperplane projections are a
    * single `transform(sequence(0, planes-1), …)` over a nested literal
    * hyperplane matrix — a runtime loop, not planes separate unrolled
    * projections (128 unrolled aggregate columns spent ~10 s in
    * codegen/JIT before touching a row). The projection array is then
    * posexplode'd — Generate is an optimization barrier, so the array is
    * evaluated once per row and nothing re-inlines — and one narrow
    * map-side-combined groupBy OR-assembles the sign bits of each band:
    * plane p belongs to band `p div bitsPerBand` at bit `p mod bitsPerBand`.
    *
    * Output (id, `_band`, `_sig`) is the storable LSH index: at 100 TB
    * write it once and hand it to [[cosineNearDupLsh]]'s `sigRows`
    * parameter on every later run. Storage layout note (r16 advice): the
    * r16 join shape attaches vectors to the signatures BY ID and then
    * repartitions by `(_band, _sig)` regardless of the stored layout, so
    * bucketing the stored table by `(_band, _sig)` no longer buys a
    * shuffle-free band join — bucket by the id column (serves the vector
    * attach) or leave it unbucketed; what the stored table saves is the
    * signature COMPUTATION (the planes·dim matvec pass), not the band
    * exchange.
    * Bitwise identical to [[bandedSignatures]] (same sequential fold per
    * plane).
    */
  def bandedSignatureRows(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                          bands: Int = 16, bitsPerBand: Int = 5): DataFrame = {
    val nPlanes = bands * bitsPerBand
    val hMat = Array.tabulate(nPlanes, dim)((p, i) => hyperplane(p, i))
    val projArr = graft.functions.GraftFunctions.matvec_product(
      col(vecCol).cast("array<double>"), hMat)
    df.select(col(idCol).as("_sid"), posexplode(projArr).as(Seq("_p", "_v")))
      .groupBy(col("_sid"), expr(s"_p DIV $bitsPerBand").cast("int").as("_band"))
      .agg(sum(when(col("_v") >= 0, expr(s"shiftleft(CAST(1 AS BIGINT), _p % $bitsPerBand)"))
        .otherwise(0L)).cast("long").as("_sig"))
  }

  /** ANN via banded hyperplane LSH: a row is a candidate when ANY of its
    * `bands` signatures equals the query's (OR-amplification — narrow
    * bands keep per-band match probability high for near vectors, many
    * bands amplify recall; a single wide exact-equality signature has
    * near-zero recall, the round-1 failure mode). The query's sign bits
    * are computed once driver-side over `query.length` hyperplane
    * components (row projections use the same planes, so the two sides
    * can never silently diverge), and candidate selection is a pure
    * narrow FILTER — one [[graft.functions.MatVecProduct]] per row,
    * bound ONCE via a 1-element array so the per-band sign comparisons
    * reference the lambda variable instead of re-inlining the kernel —
    * followed by the exact distributed TakeOrdered re-rank of
    * [[bruteForceTopK]]. No join, no shuffle before the k-row merge.
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Array[Double], k: Int,
              bands: Int = 16, bitsPerBand: Int = 5): DataFrame = {
    val nPlanes = bands * bitsPerBand
    val hMat = Array.tabulate(nPlanes, query.length)((p, i) => hyperplane(p, i))
    val qSign: IndexedSeq[Boolean] = (0 until nPlanes).map { p =>
      var d = 0.0; var i = 0
      while (i < query.length) { d += query(i) * hMat(p)(i); i += 1 }
      d >= 0
    }
    val projOnce = array(graft.functions.GraftFunctions.matvec_product(
      col(vecCol).cast("array<double>"), hMat))
    val anyBandMatches = exists(projOnce, pr =>
      (0 until bands).map { b =>
        (0 until bitsPerBand).map { bit =>
          val p = b * bitsPerBand + bit
          (element_at(pr, p + 1) >= 0) === lit(qSign(p))
        }.reduce(_ && _)
      }.reduce(_ || _))
    bruteForceTopK(df.filter(anyBandMatches), idCol, vecCol, query, k)
  }

  /** Near-duplicate pairs composed end-to-end for scale: banded-signature
    * candidate generation (equi-join on (band, signature) — never an
    * all-pairs product) → exact cosine verification. This replaces the
    * O(n²) [[cosineNearDuplicates]] theta-join shape everywhere the
    * corpus is larger than a broadcast.
    *
    * Shape (r16): each side of the band self-join carries `(id, band,
    * sig, vector)` — the vector rides along (bands copies of dim
    * doubles, a LINEAR shuffle) so the exact cosine is computed
    * STREAMING in the join output and `cos > minCos` filters candidates
    * before anything else touches them. The candidate stream — the one
    * quantity that grows superlinearly when bucket occupancy grows — is
    * never materialized, never distinct'd, never re-joined: the r15
    * shape paid a distinct at candidate cardinality plus two vector
    * attachment joins at pair cardinality (~2 longs + dim doubles per
    * surviving candidate through three exchanges), which dominated the
    * ×100 sweep (925 s at sf10, 84× the sf1 wall). Only survivors (the
    * declared result, times ≤ bands band-multiplicity) reach the final
    * distinct. Same pairs, bitwise-same cosines: candidates = "share ≥1
    * band" either way, cosine is the same kernel over the same cast
    * arrays, and distinct commutes with the deterministic cosine filter.
    *
    * Signatures come from the one-pass [[bandedSignatureRows]] (inline)
    * or a precomputed/stored `sigRows` frame (the 100 TB lifecycle);
    * either way vectors are attached with one LINEAR id equi-join before
    * the band join — the inline signature pass is hash-repartitioned by
    * id first, because the corpus often arrives as a handful of scan
    * splits (one, at the bench sfs) and the planes·dim matvec is the
    * per-row hot loop.
    *
    * `idCol` must be UNIQUE per non-null row (a dedup key must be): the
    * id groups signature bits and attaches vectors, so the copies of a
    * duplicated id would merge their signatures and share each other's
    * vectors, and the pairs reported for that id would be wrong with no
    * sign of it. A duplicated id throws an `IllegalArgumentException`
    * naming it, checked by one aggregate job over the id column before
    * the join is built. Deduplicate ids upstream.
    */
  def cosineNearDupLsh(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                       minCos: Double, bands: Int = 16, bitsPerBand: Int = 5,
                       sigRows: Option[DataFrame] = None): DataFrame = {
    df.filter(col(idCol).isNotNull).groupBy(col(idCol)).count()
      .filter(col("count") > 1).head(1).foreach { r =>
        throw new IllegalArgumentException(s"cosineNearDupLsh: $idCol must be unique " +
          s"per row, but ${r.get(0)} appears ${r.getLong(1)} times")
      }
    val vecD = col(vecCol).cast("array<double>")
    val sigs = sigRows.getOrElse(
      bandedSignatureRows(graft.core.Fanout.pin(df, col(idCol)), idCol, vecCol,
        dim, bands, bitsPerBand))
    val vecs = df.select(col(idCol).as("_vid"), vecD.as("_v"))
    val sv = sigs.join(vecs, col("_sid") === col("_vid"))
      .select(col("_sid"), col("_band"), col("_sig"), col("_v"))
    // The self-join's OUTPUT (candidate slots, Σ_buckets occ²/2) is orders
    // of magnitude larger than its input (16·n narrow rows) — AQE sizes
    // post-shuffle partitions by INPUT bytes, so it coalesces this
    // exchange to ~1 partition at bench scale and the whole candidate
    // enumeration runs on one core (measured: 8 single-task jobs, 26 s
    // single-threaded at ×10 data). Pin the join partitioning to the
    // cluster's parallelism instead ([[graft.core.Fanout.pin]];
    // REPARTITION_BY_NUM is exempt from AQE coalescing): candidate work
    // is spread over bands·2^bits buckets with mild skew (measured max
    // bucket 2582 of 1.5e9 slots at ×100), so hash(band, sig) balances
    // without salting.
    // Both join sides share the one exchange (same canonical subplan).
    val svP = graft.core.Fanout.pin(sv, col("_band"), col("_sig"))
    svP.as("a")
      .join(svP.as("b"),
        col("a._band") === col("b._band") && col("a._sig") === col("b._sig") &&
          col("a._sid") < col("b._sid"))
      .select(col("a._sid").as("id1"), col("b._sid").as("id2"),
        cosine(col("a._v"), col("b._v")).as("cos"))
      .filter(col("cos") > minCos)
      // dropDuplicates on the PAIR, not distinct() on (id1, id2, cos)
      // (r16 advice): a pair surviving in several bands carries the same
      // cosine only because the kernel is bitwise-deterministic — keying
      // the dedup on the ids alone removes that silent float-bit-equality
      // dependency (any surviving copy's cos is THE cos of the pair).
      .dropDuplicates("id1", "id2")
  }

  /** [[cosineNearDupLsh]] with the DATA-SCALED band width — the same
    * [[graft.functions.SignBucketing.Auto.planes]] occupancy rule the
    * sign-bucket joins apply, closing
    * the one fixed-geometry hole the r12 ×10 sweep flagged (the 16×8
    * banding pins 256 buckets per band, so per-band candidate fan-out
    * grows quadratically with the corpus: ×12.3 wall at ×10 data).
    * `bitsPerBand = Auto(targetBucket, minBits).planes(n)` holds each
    * band's EXPECTED bucket occupancy at ~`targetBucket` rows
    * regardless of corpus size; `bands` stays fixed (OR-amplification
    * is the recall knob, width is the occupancy knob). At or below the
    * boundary corpus size the rule resolves to `minBits` and the
    * result is bit-identical to the fixed form (pinned in
    * SimilaritySpec). Wider bands trade borderline-threshold recall
    * for linear candidate work — scaled/exact twins keep identical
    * sign patterns at ANY width, so true-duplicate recall stays ≈ 1
    * (the dedup-side contract of the fixed row, unchanged).
    */
  def cosineNearDupLshAuto(df: DataFrame, idCol: String, vecCol: String,
                           dim: Int, minCos: Double, bands: Int = 16,
                           targetBucket: Long = 64L, minBits: Int = 8): DataFrame = {
    val bits = SignBucketing.Auto(targetBucket, minBits).planes(df.count())
    cosineNearDupLsh(df, idCol, vecCol, dim, minCos, bands, bits)
  }

  /** IVF (inverted-file) ANN: a KMeans coarse quantizer assigns every
    * vector to one of `nlist` cells; a query probes only its `nprobe`
    * nearest cells and re-ranks exactly inside them. The standard
    * FAISS-style scale path: at 100 TB the assignment is one narrow pass
    * (broadcast centroids), the index is a bucket-partitioned table, and
    * a query touches ~nprobe/nlist of the data.
    *
    * Returns (assigned table with `ivf_cell`, trained model) — build once,
    * query many times via [[ivfTopK]].
    */
  /** The KMeans fit-input plan: spherical quantization clusters
    * L2-NORMALIZED vectors, because the search metric is cosine — L2
    * cells over raw magnitudes would send a high-cosine,
    * different-magnitude vector to a far cell the query never probes.
    * Ranking still uses the original vectors (cosine is
    * magnitude-invariant). Nulls are excluded up front (KMeans.fit throws
    * on a null feature; the brute-force path just sorts them last).
    * Exposed separately so the plan audit can sweep it — inside
    * [[ivfIndex]] it hides behind a persist.
    */
  private[graft] def ivfFitInput(df: DataFrame, vecCol: String): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val vecD = col(vecCol).cast("array<double>")
    // norm once (a per-element lambda aggregate would re-evaluate it d
    // times — O(d²)/row); zero-norm rows dropped like nulls: they have
    // no direction, and 0/0 would feed NaN features into KMeans.fit
    df.filter(col(vecCol).isNotNull)
      .withColumn("_ivf_nrm", sqrt(aggregate(
        zip_with(vecD, vecD, (a, b) => a * b), lit(0.0), (acc, x) => acc + x)))
      .filter(col("_ivf_nrm") > 0)
      .withColumn("_ivf_v", array_to_vector(transform(vecD, v => v / col("_ivf_nrm"))))
      .drop("_ivf_nrm")
  }

  /** The quantizer-fit train-set cap (FAISS's train-on-sample heuristic:
    * clustering quality saturates at a few hundred points per centroid,
    * so feeding KMeans more buys iterations, not better cells). Pure so
    * the boundary arithmetic is unit-testable.
    */
  private[graft] def ivfFitCap(nlist: Int): Long =
    math.max(256L * nlist, 1000000L)

  def ivfIndex(df: DataFrame, vecCol: String, nlist: Int, seed: Long = 42L):
      (DataFrame, org.apache.spark.ml.clustering.KMeansModel) =
    ivfIndexWithCap(df, vecCol, nlist, seed, ivfFitCap(nlist))

  /** [[ivfIndex]] with the fit cap injectable — the cap arithmetic is
    * [[ivfFitCap]]'s job; this split exists so the SAMPLE path is
    * testable at fixture scale (a functional test of the 1M default
    * would need a 1M-row corpus).
    */
  private[graft] def ivfIndexWithCap(df: DataFrame, vecCol: String, nlist: Int,
                                     seed: Long, cap: Long,
                                     knownCount: Long = -1L):
      (DataFrame, org.apache.spark.ml.clustering.KMeansModel) = {
    val fitInput = ivfFitInput(df, vecCol)
    // BOUNDED fit (r14's one remaining unbounded stage): KMeans iterates
    // over its train set many times, so the train set — not the corpus —
    // must be the thing that is persisted and re-scanned. Above the cap,
    // train on a uniform sample of ~max(256·nlist, 1M) rows; ASSIGNMENT
    // stays full-corpus (one narrow normalize+predict pass, nothing
    // persisted). The sample fraction derives from the corpus row count
    // (an upper bound on fit rows — null/zero-norm rows are excluded
    // downstream, so the realized sample lands at or slightly under the
    // cap; the cap is a heuristic, not a contract). Below the cap the
    // train set IS the fit input — bit-identical centroids to the
    // pre-cap form, which is what keeps the gate-sf registry rows green.
    // `knownCount` threads an already-paid count through (callers that
    // size nlist with autoNlist count first; two full corpus scans per
    // build where one suffices).
    val n = if (knownCount >= 0L) knownCount else df.count()
    // localCheckpoint, not persist (availability trade-off + cluster-mode
    // mitigations: DESIGN.md "localCheckpoint availability trade-off"):
    // KMeans iterates over this frame many
    // times, and a plain cache keeps the full SQL lineage (scan +
    // normalize) inside every iteration task's binary — measured r16
    // (`graft.Run run -jobs`), task DESERIALIZATION was ~90% of the fit jobs'
    // task time at the bench sf. Checkpointing stores the computed
    // partitions and truncates the plan after the first pass; partition
    // count and row order are exactly the cached frame's, so the
    // centroids are bit-identical (the pinned/stored oracle legs and the
    // ≥50% recall pin hold unchanged). Lazy: the first KMeans pass
    // materializes it, like the persist did.
    val train = (if (n > cap)
      fitInput.sample(withReplacement = false, cap.toDouble / n, seed)
    else fitInput)
      .localCheckpoint(eager = false)
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(nlist).setSeed(seed).setFeaturesCol("_ivf_v").setPredictionCol("ivf_cell")
      .fit(train)
    val assigned = km.transform(fitInput).drop("_ivf_v")
    // The checkpoint exists to feed the KMeans iterations; after fit it is
    // dead weight (callers persist the *assigned* frame for probing).
    graft.core.Artifacts.release(train)
    (assigned, km)
  }

  def ivfTopK(assigned: DataFrame, km: org.apache.spark.ml.clustering.KMeansModel,
              idCol: String, vecCol: String, query: Array[Double],
              nprobe: Int, k: Int): DataFrame = {
    val qn = math.sqrt(query.map(x => x * x).sum)
    val qUnit = org.apache.spark.ml.linalg.Vectors.dense(query.map(_ / qn))
    val probes = km.clusterCenters.zipWithIndex
      .sortBy { case (c, _) => org.apache.spark.ml.linalg.Vectors.sqdist(c, qUnit) }
      .take(nprobe).map(_._2)
    bruteForceTopK(
      assigned.filter(col("ivf_cell").isin(probes.map(Integer.valueOf): _*)),
      idCol, vecCol, query, k)
  }

  /** IVF kNN SELF-JOIN — the all-rows form of [[ivfTopK]]: every row
    * probes its `nprobe` nearest cells of `quantizer` and takes its `k`
    * best cosine neighbors among the rows ASSIGNED to those cells.
    * Output: (idCol, neighbor_id, cos, rank), rank 1..k per id by (cos
    * desc, neighbor id); `cos` is always the exact cosine of the
    * original vectors. Null and zero-norm vectors are dropped (no
    * direction, hence no cell), and so are rows whose length differs
    * from the quantizer's.
    *
    * Lifecycle: build the [[graft.functions.IvfQuantizer]] once (fit,
    * model, pinned anchors or a stored table), then join any number of
    * times. Each call with a quantizer VALUE broadcasts it once,
    * released by the ContextCleaner when the returned plan is GC'd; a
    * session issuing many joins against one quantizer can instead pass
    * its own `sc.broadcast(quantizer)` handle to every join and
    * `destroy()` it after the last job.
    *
    * Scale shape: one [[graft.functions.IvfProbesBroadcast]] call per
    * row picks the probe list IN the row (no explode-then-rank, no
    * n·nlist shuffle), then a cell EQUI-join — candidate work is
    * Σ_cells probes(cell)·members(cell), never all-pairs. Membership is
    * argmax-only and probing top-nprobe, the standard IVF asymmetry, so
    * a (query, neighbor) candidate appears at most once. The kernel is a
    * single expression on purpose: a composed norm + matvec + sort gave
    * CollapseProject and join-side filter inference an interpreted tree
    * to inline and duplicate into both join inputs (117 s of a 126 s row
    * at the ×10 sweep).
    *
    * Sizing: candidate verification costs n·nprobe·(n/nlist) and probe
    * ranking n·nlist, so their sum is least at nlist = √(n·nprobe) —
    * total work ∝ n^1.5. Size the quantizer with [[autoNlist]] on the
    * caller's `count()`; a fixed nlist is a fixture choice.
    *
    * `pq` set is IVF-PQ-lite: the cell join ships only packed uint8 codes
    * ([[graft.functions.QuantizeUint8]] under `pq.bounds`, 8× less
    * shuffle than raw doubles), candidates rank by reconstruction cosine
    * ([[graft.functions.QuantCosine]]; NaN reconstructions are dropped,
    * since NaN sorts above every score), and only the top `pq.kPrime`
    * survivors per query re-join their raw vectors for the exact re-rank.
    * Recall is (cell recall) × (survivor recall); a `kPrime` at or above
    * the per-query candidate count makes the survivor stage pass-through
    * and the result equals the exact join.
    */
  def ivfKnnJoin(df: DataFrame, idCol: String, vecCol: String,
                 quantizer: graft.functions.IvfQuantizer, nprobe: Int, k: Int,
                 pq: Option[graft.functions.IvfPq] = None): DataFrame =
    ivfKnnJoin(df, idCol, vecCol,
      df.sparkSession.sparkContext.broadcast(quantizer), nprobe, k, pq)

  def ivfKnnJoin(df: DataFrame, idCol: String, vecCol: String,
                 quantizer: org.apache.spark.broadcast.Broadcast[graft.functions.IvfQuantizer],
                 nprobe: Int, k: Int,
                 pq: Option[graft.functions.IvfPq]): DataFrame = {
    require(nprobe >= 1 && k >= 1, s"need nprobe/k >= 1, got $nprobe/$k")
    pq.foreach(p => require(p.kPrime >= k, s"need kPrime >= k, got ${p.kPrime} < $k"))
    val vecD = col(vecCol).cast("array<double>")
    val rows = df.filter(col(vecCol).isNotNull)
    val probes = graft.functions.GraftFunctions.ivf_probes_bc(vecD, quantizer, nprobe)
      .as("_probes")
    // the cell join carries the raw vector ("_v"), or under PQ only its
    // codes, so column pruning keeps the raw vector out of that shuffle
    val (v, probed) = pq match {
      case None =>
        ("v", rows.select(col(idCol), vecD.as("_v"), probes)
          .filter(col("_probes").isNotNull))
      case Some(p) =>
        ("codes", rows.select(col(idCol), probes, graft.functions.GraftFunctions
            .quantize_uint8(vecD, p.bounds.lo, p.bounds.hi).as("_codes"))
          .filter(col("_probes").isNotNull && col("_codes").isNotNull))
    }
    val members = probed
      .select(element_at(col("_probes"), 1).as("_mcell"),
        col(idCol).as("neighbor_id"), col(s"_$v").as(s"_n$v"))
    val queries = probed
      .select(col(idCol).as("_qid"), col(s"_$v").as(s"_q$v"),
        explode(col("_probes")).as("_ci"))
    // The exact join pins its parallelism ([[graft.core.Fanout.pin]]): its
    // output is the candidate stream (≈ n·nprobe·n/nlist rows), orders of
    // magnitude above its input, so AQE's input-sized coalescing would
    // park it on 1–2 tasks. The PQ cell join is not pinned.
    def pin(d: DataFrame, key: String) = if (pq.isEmpty) graft.core.Fanout.pin(d, col(key)) else d
    val candidates = pin(queries, "_ci")
      .join(pin(members, "_mcell"), col("_ci") === col("_mcell"))
      .filter(col("_qid") =!= col("neighbor_id"))
    val verified = pq.fold(candidates) { p =>
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy("_qid").orderBy(col("_qcos").desc, col("neighbor_id"))
      val survivors = candidates
        .withColumn("_qcos", graft.functions.GraftFunctions.quant_cosine(
          col("_qcodes"), col("_ncodes"), p.bounds.lo, p.bounds.hi))
        .filter(!isnan(col("_qcos")))
        .withColumn("_qrk", row_number().over(wq))
        .filter(col("_qrk") <= p.kPrime)
        .select("_qid", "neighbor_id")
      // raw vectors re-enter only for the n·kPrime survivor rows
      val base = rows.select(col(idCol), vecD.as("_v"))
      survivors
        .join(base.select(col(idCol).as("_qid"), col("_v").as("_qv")), "_qid")
        .join(base.select(col(idCol).as("neighbor_id"), col("_v").as("_nv")), "neighbor_id")
    }
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("_qid").orderBy(col("cos").desc, col("neighbor_id"))
    verified
      .withColumn("cos", cosine(col("_qv"), col("_nv")))
      .withColumn("rank", row_number().over(wk).cast("long"))
      .filter(col("rank") <= k)
      .select(col("_qid").as(idCol), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** The IVF nlist balance rule — smallest `nlist >= minList` with
    * `nlist² >= n·nprobe` (see [[ivfKnnJoin]]), integer-exact so an
    * external engine (the `x_ivf_knn_join_auto_pinned` oracle) re-derives
    * the same nlist from `count(*)` alone: a floating `ceil(sqrt(…))`
    * can land on either side of a perfect square across engines, the
    * [[graft.functions.SignBucketing.Auto.planes]] precedent.
    */
  def autoNlist(n: Long, nprobe: Int, minList: Int): Int = {
    require(n >= 0 && nprobe >= 1 && minList >= 1,
      s"need n >= 0, nprobe/minList >= 1, got $n/$nprobe/$minList")
    val target = n * nprobe
    var m = math.max(minList.toLong, math.sqrt(target.toDouble).toLong)
    while (m > minList && (m - 1) * (m - 1) >= target) m -= 1
    while (m * m < target) m += 1
    math.min(m, Int.MaxValue.toLong).toInt
  }

  /** The pinned quantizer as a table: `IvfQuantizer.pinned(...).rows`. */
  def ivfPinnedQuantizerRows(df: DataFrame, idCol: String, vecCol: String,
                             nlist: Int): DataFrame =
    graft.functions.IvfQuantizer.pinned(df, idCol, vecCol, nlist).rows(df.sparkSession)

  /** [[ivfKnnJoin]] against a stored quantizer table. */
  def ivfKnnJoinFromStored(df: DataFrame, idCol: String, vecCol: String,
                           quantizer: DataFrame, nprobe: Int, k: Int): DataFrame =
    ivfKnnJoin(df, idCol, vecCol, graft.functions.IvfQuantizer.stored(quantizer), nprobe, k)

  /** Exact directed kNN self-join — the ALL-PAIRS truth baseline of the
    * kNN join family (the join-shaped sibling of [[bruteForceTopK]]):
    * every row's top-`k` cosine neighbors, ranked (cos desc, neighbor
    * id), null and zero-norm rows excluded on both sides (the IVF
    * convention, so audits compare like universes). QUADRATIC BY
    * DEFINITION — this is the recall-audit anchor (`x_ivf_recall`
    * bounds it to an id slice, the `x_cosine_lsh_recall` precedent),
    * never a production path: the scale forms are [[knnJoin]]'s
    * collapsed/adaptive composition and [[ivfKnnJoin]].
    * Output: (idCol, neighbor_id, cos, rank) — the [[ivfKnnJoin]]
    * contract, so the two drop into the same comparison.
    */
  def exactKnnJoin(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val vecD = col(vecCol).cast("array<double>")
    val base = df.filter(col(vecCol).isNotNull)
      .filter(aggregate(zip_with(vecD, vecD, (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x) > 0)
      .select(col(idCol), vecD.as("_v"))
    val a = base.select(col(idCol).as("_qid"), col("_v").as("_qv"))
    val b = base.select(col(idCol).as("neighbor_id"), col("_v").as("_nv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_qid").orderBy(col("cos").desc, col("neighbor_id"))
    a.join(b, col("_qid") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("_qv"), col("_nv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("_qid").as(idCol), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs above `minCos`, restricted to a
    * candidate id range (all-pairs within the range — the exact
    * verification shape; candidate generation at scale comes from
    * [[hyperplaneSignature]] bucketing).
    */
  def cosineNearDuplicates(df: DataFrame, idCol: String, vecCol: String,
                           minCos: Double): DataFrame = {
    val a = df.select(col(idCol).as("id1"), col(vecCol).cast("array<double>").as("_v1"))
    val b = df.select(col(idCol).as("id2"), col(vecCol).cast("array<double>").as("_v2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("cos", cosine(col("_v1"), col("_v2")))
      .filter(col("cos") > minCos)
      .select("id1", "id2", "cos")
  }

  /** Portable signed random projection — the Johnson–Lindenstrauss
    * dimensionality sketch: each vector (length `dIn`) is multiplied by
    * a deterministic ±1 matrix, `sign(i, j) = +1` iff
    * `((i·dIn + j) · 2654435761) mod 2^32 < 2^31` (the
    * [[graft.prep.Prep.portableHash]] rule over the flattened index),
    * scaled by `1/√dOut` — so the projection, like the hash samplers,
    * is re-derivable by ANY engine from the formula alone: no stored
    * matrix, no RNG state, no engine-specific seed.
    *
    * Runs as one [[graft.functions.MatVecProduct]] codegen kernel per
    * row — a narrow zero-shuffle projection at scan rate. The standard
    * uses: shrink embeddings before an ANN/clustering stage (distances
    * are preserved within JL bounds), or cheap feature hashing.
    *
    * Output: (idCol, projection: array<double> of length dOut).
    */
  def signedProjection(df: DataFrame, idCol: String, vecCol: String,
                       dIn: Int, dOut: Int): DataFrame =
    df.select(col(idCol),
      graft.functions.GraftFunctions.matvec_product(
        col(vecCol).cast("array<double>"), jlMatrix(dIn, dOut)).as("projection"))

  /** The portable ±1/√dOut JL matrix shared by [[signedProjection]] and
    * [[semanticDedup]] — one formula, so both surfaces stay re-derivable
    * by the same external arithmetic.
    */
  private def jlMatrix(dIn: Int, dOut: Int): Array[Array[Double]] = {
    require(dIn > 0 && dOut > 0, s"need positive dims, got dIn=$dIn dOut=$dOut")
    val scale = 1.0 / math.sqrt(dOut.toDouble)
    Array.tabulate(dOut, dIn) { (i, j) =>
      val h = java.lang.Math.floorMod((i.toLong * dIn + j) * 2654435761L, 4294967296L)
      (if (h < 2147483648L) 1.0 else -1.0) * scale
    }
  }

  /** Blend a lexical score frame (id, raw score — e.g. BM25) with a
    * semantic cosine frame (id, cos ∈ [−1, 1]) into one hybrid
    * relevance: the lexical side min-max normalizes to [0, 1] (a
    * single-row degenerate range maps to 1.0), the cosine maps as
    * (cos+1)/2, and a missing leg contributes 0 through the full-outer
    * join — so a doc matched by either signal still surfaces. The
    * normalization stats are a broadcast one-row aggregate; nothing
    * data-sized shuffles beyond the two inputs.
    *
    * Output: (idCol, hybrid = α·lex + (1−α)·sem).
    */
  def hybridBlend(lexical: DataFrame, semantic: DataFrame, idCol: String,
                  scoreCol: String, cosCol: String,
                  alpha: Double = 0.5): DataFrame = {
    val stats = broadcast(lexical.agg(
      min(col(scoreCol)).as("_lo"), max(col(scoreCol)).as("_hi")))
    val nb = lexical.crossJoin(stats).select(col(idCol),
      when(col("_hi") === col("_lo"), lit(1.0))
        .otherwise((col(scoreCol) - col("_lo")) / (col("_hi") - col("_lo"))).as("_nb"))
    nb.join(semantic.select(col(idCol), col(cosCol).as("_cos")), Seq(idCol), "full_outer")
      .select(col(idCol),
        (coalesce(col("_nb"), lit(0.0)) * alpha +
          coalesce((col("_cos") + 1.0) / 2.0, lit(0.0)) * (1.0 - alpha)).as("hybrid"))
  }

  /** SemDeDup-style semantic near-duplicate pairs: bucket every vector
    * by the JL sign bits of its projection (`bucketing`, see
    * [[graft.functions.SignBucketing]]), then verify exact cosine ≥
    * `minCos` WITHIN each bucket only. This is SemDeDup's shape
    * (cluster, then all-pairs inside the cluster) with a deterministic,
    * portable partitioner instead of KMeans, so an external engine can
    * re-derive every bucket and every surviving pair from the formula
    * alone. [[cosineNearDupLsh]]'s xxhash64-seeded planes cannot offer
    * that.
    *
    * Scale shape: bucketing is a narrow per-row kernel (one
    * [[graft.functions.MatVecProduct]] + a sign fold) and the pair stage
    * is a hash EQUI join on the bucket id, never a cross join, so the
    * only quadratic term is within-bucket. Recall at a given `minCos`
    * follows the hyperplane collision bound: near-identical vectors land
    * in one bucket w.p. ≈ 1. Rows with a null vector or a vector whose
    * length is not `dIn` are dropped.
    *
    * Output: (id1, id2, bucket: long, cos: double), id1 < id2. What the
    * rows cover depends on the case:
    *  - `Fixed`, `Auto`, `Adaptive`: the FULL within-bucket pair set.
    *    `bucket` is the (post-split) bucket both ids share.
    *  - `Collapsed` (the default): a CONNECTED COVER of the near-duplicate
    *    graph, not every pair. Cross-cluster edges are the
    *    representative-level Adaptive pairs (members share their
    *    representative's cosines). Each twin cluster contributes STAR
    *    edges (representative → member, cos = 1.0, `bucket` NULL) instead
    *    of its m·(m−1)/2 pairs, so output and pair work stay linear in
    *    duplicate multiplicity. The guarantee is one-directional: every
    *    connection the uncollapsed Adaptive pair graph makes survives in
    *    the cover, so no component splits. Collapsing shrinks the
    *    occupancy histogram, so fewer cells cross the split cap, and the
    *    cover may keep true near-dup edges the uncollapsed run's extra
    *    planes would drop: it may MERGE components the Adaptive form
    *    keeps apart, always through genuine cos ≥ minCos edges.
    *    Representatives are min-id, so star edges are ordered.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String, dIn: Int,
                    minCos: Double,
                    bucketing: SignBucketing = SignBucketing.Default): DataFrame =
    bucketing match {
      case _: SignBucketing.Collapsed =>
        val (reps, membership) =
          collapseExactVectors(SignBucketing.usable(df, vecCol, dIn), idCol, vecCol)
        val stars = membership.filter(col(idCol) =!= col("rep_id"))
          .select(col("rep_id").as("id1"), col(idCol).as("id2"),
            lit(null).cast("long").as("bucket"), lit(1.0).as("cos"))
        pairCos(bucketing.buckets(reps, idCol, vecCol, dIn), idCol, minCos)
          .unionByName(stars)
      case _ =>
        pairCos(bucketing.buckets(df, idCol, vecCol, dIn), idCol, minCos)
    }

  /** The default [[semanticDedup]] cover without its `bucket` column:
    * `(id1, id2, cos)`, id1 < id2.
    */
  def semanticDedupCollapsed(df: DataFrame, idCol: String, vecCol: String,
                             dIn: Int, minCos: Double, targetBucket: Long = 64L,
                             minPlanes: Int = 6, splitFactor: Long = 4L): DataFrame =
    semanticDedup(df, idCol, vecCol, dIn, minCos,
      SignBucketing.Collapsed(targetBucket, minPlanes, splitFactor)).select("id1", "id2", "cos")

  /** The pairing half of [[semanticDedup]] over a bucketed frame
    * (idCol, _v, bucket): within-bucket candidates via the bucket
    * equi-join, then exact cosine ≥ `minCos`. An undirected threshold
    * join, where [[pairTopK]] is a directed top-k.
    */
  private def pairCos(bucketed: DataFrame, idCol: String, minCos: Double): DataFrame = {
    val pinned = graft.core.Fanout.pin(bucketed, col("bucket"))
    val a = pinned.select(col(idCol).as("id1"), col("bucket"), col("_v").as("_v1"))
    val b = pinned.select(col(idCol).as("id2"), col("bucket"), col("_v").as("_v2"))
    a.join(b, "bucket")
      .filter(col("id1") < col("id2"))
      .withColumn("cos", cosine(col("_v1"), col("_v2")))
      .filter(col("cos") >= minCos)
      .select("id1", "id2", "bucket", "cos")
  }

  /** Collapse bit-identical embedding rows to one representative each —
    * the pre-pass of [[graft.functions.SignBucketing.Collapsed]], which
    * keeps the occupancy rule honest on DUPLICATE-HEAVY corpora (the r12
    * ×100 stress study: exact-twin vector clusters co-bucket under ANY
    * plane count, so within-bucket pair work grows with the square of the
    * duplicate multiplicity — a ×138 wall-clock blow-up at ×10 data on
    * a corpus whose replicas collided to exact twins). Identical vectors
    * are cosine-1 neighbors by definition: collapse them, run the ANN
    * op on representatives, and fan results back out through the
    * membership frame.
    *
    * Returns (representatives, membership): `representatives` is one
    * row per distinct vector value (the MIN id wins — deterministic);
    * `membership` maps every original id to its representative id and
    * the cluster size. Grouping keys on the raw vector value (array
    * equality), not a hash — no collision risk. One shuffle each.
    */
  def collapseExactVectors(df: DataFrame, idCol: String, vecCol: String)
      : (DataFrame, DataFrame) = {
    val reps = df.filter(col(vecCol).isNotNull)
      .groupBy(col(vecCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .select(col(idCol), col(vecCol), col("dup_count"))
    val membership = df.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol))
      .join(reps.select(col(idCol).as("rep_id"), col(vecCol), col("dup_count")), Seq(vecCol))
      .select(col(idCol), col("rep_id"), col("dup_count"))
    (reps, membership)
  }

  /** Approximate k-nearest-neighbor SELF-join: every row's top-`k`
    * most-cosine-similar other rows among the rows sharing its sign
    * bucket (`bucketing`, see [[graft.functions.SignBucketing]]). It is
    * the all-rows twin of the one-query [[lshTopK]], and the primitive
    * under SemDeDup-style cluster pruning or contrastive-pair mining.
    *
    * Scale shape: the only shuffle keys on the bucket id, the
    * per-bucket join bounds pair fan-out to bucket sizes, and the top-`k`
    * window partitions by the LEFT id — never a global sort. Recall is
    * bucket-limited like [[semanticDedup]]: a true neighbor in another
    * bucket is missed. The projection is the portable [[jlMatrix]]
    * arithmetic, so the whole result is re-derivable by any engine (the
    * oracle-checkability the xxhash-seeded [[lshTopK]] bands cannot
    * offer). Rows with a null vector or a vector whose length is not
    * `dIn` are dropped: they get no neighbours and are nobody's neighbour.
    *
    * Output: (idCol, neighbor_id, cos, rank: long) for every case, rank
    * 1..k per id by cosine desc, neighbor id breaking exact ties.
    *  - `Fixed`, `Auto`, `Adaptive`: the top-k among the row's bucket-mates.
    *  - `Collapsed` (the default): the join runs over one representative
    *    per distinct vector and fans back out, so rank is per ORIGINAL
    *    id. Each id inherits its representative's neighbours (identical
    *    vector ⇒ identical cosines). A representative neighbour expands
    *    to the `k` smallest member ids of its cluster: all of them share
    *    its cosine and ties break on id, so no later member can reach a
    *    top-k. Other members of the row's own cluster enter at literal
    *    cos = 1.0, from the `k+1` smallest ids per cluster. On a twin-free
    *    corpus this equals `Adaptive` row for row; below the occupancy cap
    *    all of `Auto`, `Adaptive` and `Collapsed` agree bit for bit.
    */
  def knnJoin(df: DataFrame, idCol: String, vecCol: String, dIn: Int, k: Int,
              bucketing: SignBucketing = SignBucketing.Default): DataFrame = {
    require(k > 0, s"need k > 0, got k = $k")
    bucketing match {
      case _: SignBucketing.Collapsed =>
        val (reps, membership) =
          collapseExactVectors(SignBucketing.usable(df, vecCol, dIn), idCol, vecCol)
        val repK = pairTopK(bucketing.buckets(reps, idCol, vecCol, dIn), idCol, k)
        val wm = org.apache.spark.sql.expressions.Window
          .partitionBy("rep_id").orderBy(col(idCol))
        val ranked = membership.select(col(idCol), col("rep_id"))
          .withColumn("_mrk", row_number().over(wm))
        val nbrMembers = ranked.filter(col("_mrk") <= k)
          .select(col("rep_id").as("_nrep"), col(idCol).as("_nmem"))
        val expanded = membership.select(col(idCol).as("_oid"), col("rep_id"))
          .join(repK.select(col(idCol).as("_qrep"), col("neighbor_id"), col("cos")),
            col("rep_id") === col("_qrep"))
          .join(nbrMembers, col("neighbor_id") === col("_nrep"))
          .select(col("_oid"), col("_nmem").as("neighbor_id"), col("cos"))
        val twinCand = ranked.filter(col("_mrk") <= k + 1)
          .select(col("rep_id"), col(idCol).as("_twin"))
        val twins = membership.select(col(idCol).as("_oid"), col("rep_id"))
          .join(twinCand, "rep_id")
          .filter(col("_oid") =!= col("_twin"))
          .select(col("_oid"), col("_twin").as("neighbor_id"), lit(1.0).as("cos"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("_oid").orderBy(col("cos").desc, col("neighbor_id"))
        expanded.unionByName(twins)
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= k)
          .select(col("_oid").as(idCol), col("neighbor_id"), col("cos"), col("rank"))
      case _ =>
        pairTopK(bucketing.buckets(df, idCol, vecCol, dIn), idCol, k)
    }
  }

  /** The pairing half of [[knnJoin]] over a bucketed frame
    * (idCol, _v, bucket): within-bucket candidates, exact cosine, then
    * per-query top-k (ties broken by neighbor_id).
    */
  private def pairTopK(bucketed: DataFrame, idCol: String, k: Int): DataFrame = {
    val pinned = graft.core.Fanout.pin(bucketed, col("bucket"))
    val a = pinned.select(col(idCol).as("_qid"), col("bucket"), col("_v").as("_v1"))
    val b = pinned.select(col(idCol).as("neighbor_id"), col("bucket"), col("_v").as("_v2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_qid").orderBy(col("cos").desc, col("neighbor_id"))
    a.join(b, "bucket")
      .filter(col("_qid") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("_v1"), col("_v2")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("_qid").as(idCol), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** The JL ±1 projection of a vector column — the per-row kernel under
    * [[graft.functions.SignBucketing]], shared with the streaming ingest
    * twin ([[graft.streaming.StreamingOps.signBucketCandidatePairs]]) so
    * bitwise identity of their buckets is structural, not coincidental.
    * Evaluate it through a projection barrier (a separate select) before
    * folding, so the matvec runs once per row. `planes` is validated by
    * the caller's [[graft.functions.SignBucketing.Fixed]].
    */
  private[graft] def jlProjection(vec: Column, dIn: Int, planes: Int): Column =
    graft.functions.GraftFunctions.matvec_product(
      vec.cast("array<double>"), jlMatrix(dIn, planes))

  /** Pack the signs of a projection array into one long — the other half
    * of the shared bucket kernel (see [[jlProjection]]).
    */
  private[graft] def signFold(proj: Column, planes: Int): Column =
    (0 until planes).map(i =>
        when(element_at(proj, i + 1) >= 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))

  /** Per-group embedding centroid + per-row prototypicality: each row's
    * cosine to its group's MEAN vector, with rows below `minCos` flagged
    * as outliers — the D4/SemDeDup-family "distance to prototype"
    * filter (mislabeled, off-topic, or noisy rows sit far from their
    * group's semantic center).
    *
    * Scale shape: the centroid pass is a posexplode + (group, dim)-keyed
    * average (map-side combined — `#groups × dim` accumulators, not
    * rows), collapsed to one `dim`-length array per group and BROADCAST
    * back; the scoring pass is then a narrow per-row [[cosine]] kernel.
    * Nothing data-sized shuffles twice, and the corpus never re-collects.
    *
    * A degenerate (all-zero) vector has NaN cosine to any centroid —
    * and NaN compares GREATER than every value in both Spark and ANSI
    * orderings, so a plain `cos < minCos` would silently pass the
    * maximally non-prototypical row. NaN is therefore flagged as an
    * outlier explicitly.
    *
    * Output: (idCol, groupCol, cos_centroid, outlier: boolean).
    */
  def centroidOutliers(df: DataFrame, groupCol: String, idCol: String,
                       vecCol: String, minCos: Double): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val centroids = df.select(col(groupCol), posexplode(v).as(Seq("_j", "_x")))
      .groupBy(col(groupCol), col("_j")).agg(avg(col("_x")).as("_c"))
      .groupBy(groupCol)
      .agg(transform(array_sort(collect_list(struct(col("_j"), col("_c")))),
        s => s("_c")).as("_centroid"))
    df.join(broadcast(centroids), groupCol)
      .select(col(idCol), col(groupCol),
        cosine(v, col("_centroid")).as("cos_centroid"))
      .withColumn("outlier",
        isnan(col("cos_centroid")) || col("cos_centroid") < minCos)
  }

  /** Scalar int8-style quantization of an embedding column: per-dimension
    * affine codes `q_i = clamp(floor((v_i - lo_i)/(hi_i - lo_i)*255 + .5))`
    * against corpus-wide per-dim (min, max) — 4× smaller vectors for the
    * ANN candidate stage, with the reconstruction error reported per
    * vector so a pipeline can gate on quantization loss.
    *
    * Scale shape: the stats pass is a posexplode + groupBy over DIM keys
    * (map-side combined; 64 groups, not 64×rows shuffled), collapsed to
    * ONE broadcast row of (lo[], hi[]) arrays — the quantize pass is then
    * a crossJoin(broadcast) + per-row array transform: no explode of the
    * corpus, no re-collect of vectors, no second shuffle. `floor(x + .5)`
    * (not `round`) keeps the code arithmetic bit-identical across
    * engines. Reconstruction uses the same sequential left-fold
    * `aggregate`, so the MSE is deterministic.
    *
    * Dimensionality: the stats arrays are as long as the LONGEST vector
    * in the corpus, so shorter rows quantize fine (their transform never
    * reaches the missing tail) — but a corpus where no single row spans
    * the max dimensionality has no per-dim stats beyond each row's own
    * length either, by construction. Ragged rows are first-class: every
    * row is guarded by `size(v) <= size(stats)`, which always holds, so
    * no `element_at` can run past the stats arrays (null codes under
    * non-ANSI, a runtime error under ANSI) even if the contract changes.
    *
    * Output: (idCol, codes: array<int>, mse: double).
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val dims = df.select(posexplode(v).as(Seq("_dim", "_x")))
      .groupBy("_dim").agg(min(col("_x")).as("_lo"), max(col("_x")).as("_hi"))
    val stats = broadcast(dims
      .agg(array_sort(collect_list(struct(col("_dim"), col("_lo"), col("_hi")))).as("_s"))
      .select(transform(col("_s"), s => s.getField("_lo")).as("_los"),
              transform(col("_s"), s => s.getField("_hi")).as("_his")))
    def lo(i: Column) = element_at(col("_los"), i + 1)
    def hi(i: Column) = element_at(col("_his"), i + 1)
    def code(x: Column, i: Column): Column =
      when(hi(i) === lo(i), lit(0)).otherwise(
        least(greatest(floor((x - lo(i)) / (hi(i) - lo(i)) * 255.0 + 0.5), lit(0.0)),
          lit(255.0)).cast("int"))
    // CaseWhen evaluates only the matching branch, so a (hypothetical)
    // over-long row yields null codes/mse instead of reading past _los
    def guarded(c: Column): Column =
      when(size(col("_v")) <= size(col("_los")), c)
    df.select(col(idCol), v.as("_v")).crossJoin(stats)
      .select(col(idCol),
        guarded(transform(col("_v"), (x, i) => code(x, i))).as("codes"),
        guarded(aggregate(
          transform(col("_v"), (x, i) =>
            pow(x - (lo(i) + code(x, i).cast("double") / 255.0 * (hi(i) - lo(i))), 2)),
          lit(0.0), (a, e) => a + e) / size(col("_v"))).as("mse"))
  }
}
