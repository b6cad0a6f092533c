package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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

  /** Driver-side signature of a local vector (same hyperplanes as
    * [[hyperplaneSignature]]) — lets a single-query ANN compute its
    * signatures without a Spark job.
    */
  def signatureLocal(vec: Array[Double], bits: Int, offset: Int = 0): Long =
    (0 until bits).map { b =>
      var dot = 0.0
      var i = 0
      while (i < vec.length) { dot += vec(i) * hyperplane(offset + b, i); i += 1 }
      if (dot >= 0) 1L << b else 0L
    }.reduce(_ | _)

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
    * Bitwise identical to [[bandedSignatures]]/[[signatureLocal]] (same
    * sequential fold per plane).
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
    * `idCol` is assumed UNIQUE per row (r16 advice — every corpus here
    * satisfies it; a dedup key must). With duplicate ids the r16 shape's
    * output differs from the r15 shape's: duplicate-id rows multiply
    * candidates before the cosine filter and identical (id1, id2) rows
    * collapse in the final pair dedup, where the old shape emitted
    * duplicate output rows. Deduplicate ids upstream before handing a
    * dirty corpus to this operator.
    */
  def cosineNearDupLsh(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                       minCos: Double, bands: Int = 16, bitsPerBand: Int = 5,
                       sigRows: Option[DataFrame] = None): DataFrame = {
    val vecD = col(vecCol).cast("array<double>")
    val sigs = sigRows.getOrElse(
      bandedSignatureRows(pinFanout(df, col(idCol)), idCol, vecCol,
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
    // cluster's parallelism instead ([[pinFanout]]; REPARTITION_BY_NUM is
    // exempt from AQE coalescing): candidate work is spread over
    // bands·2^bits buckets with mild skew (measured max bucket 2582 of
    // 1.5e9 slots at ×100), so hash(band, sig) balances without salting.
    // Both join sides share the one exchange (same canonical subplan).
    val svP = pinFanout(sv, col("_band"), col("_sig"))
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
    * [[autoPlanes]] occupancy rule the other ANN lanes apply, closing
    * the one fixed-geometry hole the r12 ×10 sweep flagged (the 16×8
    * banding pins 256 buckets per band, so per-band candidate fan-out
    * grows quadratically with the corpus: ×12.3 wall at ×10 data).
    * `bitsPerBand = autoPlanes(n, targetBucket, minBits)` holds each
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
    val bits = autoPlanes(df.count(), targetBucket, minBits)
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
    // `knownCount` threads an already-paid count through (the auto entry
    // points count for autoNlist first — r15 advice: two full corpus
    // scans per build where one suffices).
    val n = if (knownCount >= 0L) knownCount else df.count()
    // localCheckpoint, not persist (availability trade-off + cluster-mode
    // mitigations: DESIGN.md "localCheckpoint availability trade-off"):
    // KMeans iterates over this frame many
    // times, and a plain cache keeps the full SQL lineage (scan +
    // normalize) inside every iteration task's binary — measured r16
    // (PhaseProbe -jobs), task DESERIALIZATION was ~90% of the fit jobs'
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
    // Dataset.unpersist is a no-op for checkpoint-backed frames — release
    // the blocks through the backing RDD (the duplicateClusters pattern).
    graft.ext.Dedup.checkpointRdd(train).foreach(_.unpersist(false))
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

  /** IVF kNN SELF-JOIN — the all-rows form of [[ivfTopK]] (which serves
    * one query vector at a time): every row probes its `nprobe` nearest
    * cells and takes its `k` best cosine neighbors among the rows
    * ASSIGNED to those cells. The coarse quantizer is the
    * [[ivfIndex]] spherical KMeans, so cells ADAPT to the corpus's
    * cluster structure — the complementary scale path to the sign-bucket
    * lanes, whose fixed hyperplanes the r12 ×100 probe showed piling
    * clustered corpora into hot cells (the adaptive sub-split remedies
    * that geometrically; IVF dissolves it by construction when nlist is
    * sized to the cluster count).
    *
    * Scale shape: one MatVecProduct per row against the broadcast
    * centroid matrix, an IN-ROW sort of the nlist scores to pick the
    * probe list (no explode, no shuffle — n rows stay n rows until the
    * join), then a cell EQUI-join — candidate work is
    * Σ_cells probes(cell)·members(cell), never all-pairs. Membership is
    * argmax-only, probing is top-nprobe — the standard IVF asymmetry —
    * so a (query, neighbor) candidate appears at most once. Probe
    * ranking reproduces the KMeans euclidean rule on the normalized
    * space exactly: argmin ‖v̂−c‖² = argmax (v̂·c − ‖c‖²/2), ties to the
    * lower cell index.
    *
    * `nlist` is the scale dial, and it has TWO quadratics to dodge, not
    * one: candidate verification is n·nprobe·(n/nlist) (explodes when
    * nlist is pinned), but assignment + probe ranking is n·nlist rows
    * (explodes when nlist chases a fixed cell size, n/targetCell — that
    * rule just moves the quadratic one stage earlier). The product of
    * the two terms is n²·nprobe regardless, so their SUM is minimized
    * where they balance: nlist = √(n·nprobe) — total work ∝ n^1.5, the
    * standard IVF sizing (FAISS's nlist ≈ √n guidance). That is what
    * [[ivfKnnJoinAuto]] (and the nlist-free overload of this method)
    * derives via [[autoNlist]]; prefer those unless a stored oracle
    * pins the geometry. The registry row pins nlist = 8 for
    * restatability at the gate sf — a verification fixture choice, not
    * production guidance.
    *
    * KMeans centroids are engine-specific (seeded MLlib init), so this
    * form is rows-only checkable; [[ivfKnnJoinPinned]] is its
    * fully-restatable oracle twin. Output: (idCol, neighbor_id, cos,
    * rank), rank 1..k per id — null vectors dropped (the IVF convention).
    */
  def ivfKnnJoin(df: DataFrame, idCol: String, vecCol: String, nlist: Int,
                 nprobe: Int, k: Int, seed: Long = 42L): DataFrame =
    ivfKnnJoinFromModel(df, idCol, vecCol, ivfIndex(df, vecCol, nlist, seed)._2,
      nprobe, k)

  /** The nlist-free form IS the default ([[knnJoin]]'s planes-free
    * precedent): `nlist` follows the corpus size via [[autoNlist]], so
    * the reachable API cannot ship the pinned-geometry quadratic the
    * r13 sweep caught on every fixed-dial ANN lane. Delegates to
    * [[ivfKnnJoinAuto]].
    */
  def ivfKnnJoin(df: DataFrame, idCol: String, vecCol: String,
                 nprobe: Int, k: Int): DataFrame =
    ivfKnnJoinAuto(df, idCol, vecCol, nprobe, k)

  /** [[ivfKnnJoin]] with `nlist` derived from the corpus by the
    * balance rule (one cheap `count()`, the [[knnJoinAuto]] pattern):
    * the smallest integer ≥ `minList` with nlist² ≥ n·nprobe — the
    * point where the two stage costs cross (assignment/probe ranking
    * n·nlist vs candidate verification n·nprobe·(n/nlist)), so total
    * work grows as n^1.5 instead of n² whichever stage a fixed dial
    * would have pinned. See the [[ivfKnnJoin]] scaladoc for the
    * derivation; [[autoNlist]] keeps the arithmetic integer-exact so
    * an external engine (the `x_ivf_knn_join_auto_pinned` oracle)
    * re-derives the same nlist from `count(*)` alone.
    */
  def ivfKnnJoinAuto(df: DataFrame, idCol: String, vecCol: String,
                     nprobe: Int, k: Int, minList: Int = 8,
                     seed: Long = 42L): DataFrame = {
    // one count serves the nlist rule AND the fit cap (r15 advice)
    val n = df.count()
    val nlist = autoNlist(n, nprobe, minList)
    ivfKnnJoinFromModel(df, idCol, vecCol,
      ivfIndexWithCap(df, vecCol, nlist, seed, ivfFitCap(nlist), n)._2,
      nprobe, k)
  }

  /** [[ivfKnnJoinPinned]] with the [[autoNlist]] count-derived anchor
    * count — the gate twin of [[ivfKnnJoinAuto]]: same deterministic
    * smallest-id anchors, but `nlist` follows `count(*)` by the same
    * integer rule the production form applies, so the oracle restates
    * BOTH the join algebra and the scale dial (the rule is exercised,
    * not hard-coded, at every corpus size the gate runs).
    */
  def ivfKnnJoinPinnedAuto(df: DataFrame, idCol: String, vecCol: String,
                           nprobe: Int, k: Int, minList: Int = 8): DataFrame =
    ivfKnnJoinPinned(df, idCol, vecCol, autoNlist(df.count(), nprobe, minList),
      nprobe, k)

  /** The [[ivfKnnJoinAuto]] nlist rule — pure so the boundary
    * arithmetic is unit-testable: smallest `nlist >= minList` with
    * `nlist² >= n·nprobe` (integer-exact — a floating `ceil(sqrt(…))`
    * can land on either side of a perfect square across engines, the
    * [[autoPlanes]] precedent).
    */
  private[graft] def autoNlist(n: Long, nprobe: Int, minList: Int): Int = {
    require(n >= 0 && nprobe >= 1 && minList >= 1,
      s"need n >= 0, nprobe/minList >= 1, got $n/$nprobe/$minList")
    val target = n * nprobe
    var m = math.max(minList.toLong, math.sqrt(target.toDouble).toLong)
    while (m > minList && (m - 1) * (m - 1) >= target) m -= 1
    while (m * m < target) m += 1
    math.min(m, Int.MaxValue.toLong).toInt
  }

  /** [[ivfKnnJoin]] against an ALREADY-FITTED quantizer — the
    * build-once/join-many lifecycle (the [[ivfIndex]] fit is the
    * expensive half; an ingest pipeline fits per corpus version and
    * joins per run, and the registry row reuses the session-memoized
    * model the same way).
    */
  def ivfKnnJoinFromModel(df: DataFrame, idCol: String, vecCol: String,
                          km: org.apache.spark.ml.clustering.KMeansModel,
                          nprobe: Int, k: Int): DataFrame = {
    val centers = km.clusterCenters.map(_.toArray)
    val offsets = centers.map(c => c.map(x => x * x).sum / 2)
    ivfKnnJoinCore(df, idCol, vecCol, centers, offsets, nprobe, k)
  }

  /** [[ivfKnnJoin]] with PINNED anchor centroids — the gate twin: the
    * `nlist` smallest-id vectors of the corpus itself, L2-normalized,
    * serve as the coarse quantizer (deterministic and fully
    * DuckDB-restatable: `ORDER BY id LIMIT nlist` + the same
    * dot/rank/join/top-k algebra — no RNG, no engine-specific
    * clustering). With unit centroids the probe rule degenerates to
    * plain cosine ranking (equal offsets cancel), which is what the
    * oracle restates. Anchor quality is corpus-luck rather than KMeans
    * — a verification fixture, not the production quantizer; the shared
    * [[ivfKnnJoinCore]] is the code under test.
    */
  def ivfKnnJoinPinned(df: DataFrame, idCol: String, vecCol: String,
                       nlist: Int, nprobe: Int, k: Int): DataFrame = {
    val unit = pinnedUnitAnchors(df, idCol, vecCol, nlist)
    ivfKnnJoinCore(df, idCol, vecCol, unit, unit.map(_ => 0.0), nprobe, k)
  }

  /** The deterministic anchor rule shared by [[ivfKnnJoinPinned]] and
    * [[ivfPinnedQuantizerRows]]: the `nlist` smallest-id vectors,
    * L2-normalized, as a driver-side matrix (nlist rows — the bounded
    * collect class). Zero-norm rows can't anchor a cell (no direction) —
    * same exclusion the core applies to query/member rows, mirrored in
    * the oracle.
    */
  private[graft] def pinnedUnitAnchors(df: DataFrame, idCol: String, vecCol: String,
                                       nlist: Int): Array[Array[Double]] = {
    val vecD = col(vecCol).cast("array<double>")
    val anchors = df.filter(col(vecCol).isNotNull)
      .filter(aggregate(zip_with(vecD, vecD, (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x) > 0)
      .orderBy(col(idCol)).limit(nlist)
      .select(vecD).collect()
      .map(_.getSeq[Double](0).toArray)
    anchors.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / n)
    }
  }

  /** The coarse quantizer as a PERSISTABLE frame — `(ivf_cell INT,
    * centroid ARRAY<DOUBLE>, offset DOUBLE)`, one row per cell, cell ids
    * dense 0..nlist−1 in probe-rank tie order. This is the write side of
    * the build-once/join-many lifecycle ACROSS SESSIONS (the
    * session-memoized [[ivfIndex]] model covers within-session reuse;
    * the `_stored` lanes' parquet tables are the cross-session form):
    * fit per corpus version, write once, every later run joins via
    * [[ivfKnnJoinFromStored]] without refitting. This overload stores
    * the deterministic pinned anchors (offset 0 — unit centroids);
    * KMeans callers persist their fitted model the same way via the
    * (centroids, offsets) overload.
    */
  def ivfPinnedQuantizerRows(df: DataFrame, idCol: String, vecCol: String,
                             nlist: Int): DataFrame =
    ivfQuantizerRows(df.sparkSession,
      pinnedUnitAnchors(df, idCol, vecCol, nlist))

  /** [[ivfPinnedQuantizerRows]] for an arbitrary quantizer — e.g.
    * `km.clusterCenters` with the KMeans offsets ‖c‖²/2 (defaulted).
    */
  def ivfQuantizerRows(spark: SparkSession, centroids: Array[Array[Double]],
                       offsets: Array[Double] = null): DataFrame = {
    val offs = if (offsets != null) offsets
               else centroids.map(c => c.map(x => x * x).sum / 2)
    require(offs.length == centroids.length,
      s"need one offset per centroid, got ${offs.length}/${centroids.length}")
    import spark.implicits._
    centroids.zip(offs).zipWithIndex
      .map { case ((c, o), i) => (i, c.toSeq, o) }.toSeq
      .toDF("ivf_cell", "centroid", "offset")
  }

  /** [[ivfKnnJoin]] against a RELOADED quantizer table (the
    * [[ivfQuantizerRows]] schema) — the read side of the cross-session
    * lifecycle: the quantizer is nlist rows (collected — the bounded
    * driver-artifact class, same as the pinned anchor fetch), the corpus
    * never is. Storage round-tripping must not change a single output
    * row versus the in-memory form — the `x_ivf_knn_join_stored`
    * registry row pins that under the same DuckDB oracle as the inline
    * auto-pinned leg (the `x_cosine_near_dup_lsh_stored` precedent).
    */
  def ivfKnnJoinFromStored(df: DataFrame, idCol: String, vecCol: String,
                           quantizer: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val (centroids, offsets) = loadStoredQuantizer(quantizer)
    ivfKnnJoinCore(df, idCol, vecCol, centroids, offsets, nprobe, k)
  }

  /** Collect + validate an [[ivfQuantizerRows]] table into driver-side
    * (centroids, offsets) arrays — nlist rows, the bounded
    * driver-artifact class. Shared by [[ivfKnnJoinFromStored]] and the
    * streaming ingest twin
    * ([[graft.streaming.StreamingOps.ivfCellCandidatePairs]]'s stored
    * overload), so batch and stream reload a table through ONE
    * validation path.
    *
    * Shape/value validation (r14 advice): a dimension mismatch with the
    * corpus makes the probe kernel return null for EVERY row — a silent
    * 0-row join instead of a loud failure — and ragged or NaN centroids
    * can throw in executors / seat a NaN probe score. Fail here, with
    * the cell id, while the quantizer is still a driver-side artifact.
    */
  private[graft] def loadStoredQuantizer(quantizer: DataFrame)
      : (Array[Array[Double]], Array[Double]) = {
    val rows = quantizer
      .select(col("ivf_cell").cast("int"),
        col("centroid").cast("array<double>"), col("offset").cast("double"))
      .orderBy("ivf_cell").collect()
    require(rows.nonEmpty, "stored quantizer is empty")
    rows.iterator.zipWithIndex.foreach { case (r, i) =>
      require(r.getInt(0) == i,
        s"stored quantizer cells must be dense 0..n-1, found ${r.getInt(0)} at $i")
    }
    val centroids = rows.map(_.getSeq[Double](1).toArray)
    val offsets = rows.map(_.getDouble(2))
    val dim = centroids(0).length
    centroids.iterator.zipWithIndex.foreach { case (c, i) =>
      require(c.nonEmpty, s"stored quantizer cell $i has an empty centroid")
      require(c.length == dim,
        s"stored quantizer centroids must share one dimension: " +
          s"cell $i has ${c.length}, cell 0 has $dim")
      require(!c.exists(_.isNaN), s"stored quantizer cell $i contains NaN")
    }
    require(!offsets.exists(_.isNaN), "stored quantizer offsets contain NaN")
    (centroids, offsets)
  }

  /** Shared probe/join/rank core of [[ivfKnnJoin]]/[[ivfKnnJoinPinned]]:
    * rank cells per row by (v̂·c − offset_c) desc (ties → lower cell),
    * rank 1 is the row's MEMBERSHIP cell, ranks 1..nprobe its probe
    * list; candidates = probe-list × same-cell members (self excluded),
    * verified with exact cosine on the ORIGINAL vectors, top-k per
    * query by (cos desc, neighbor id).
    */
  private def ivfKnnJoinCore(df: DataFrame, idCol: String, vecCol: String,
                             centroids: Array[Array[Double]],
                             offsets: Array[Double], nprobe: Int,
                             k: Int): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    // BROADCAST LIFETIME (r15 advice): one broadcast per join call,
    // released by the ContextCleaner once the returned plan is GC'd —
    // fine for fit-then-join pipelines, but a long-lived session
    // issuing MANY joins against one quantizer accumulates 7–74 MB
    // replicas (north-star geometry) until a driver GC. Build-once/
    // join-many callers should hold ONE handle via
    // [[ivfQuantizerBroadcast]], join through
    // [[ivfKnnJoinFromBroadcast]]/[[ivfPqKnnJoinFromBroadcast]], and
    // `destroy()` it when done.
    ivfKnnJoinFromBroadcast(df, idCol, vecCol,
      df.sparkSession.sparkContext.broadcast(
        graft.functions.IvfQuantizer(centroids, offsets)),
      nprobe, k)
  }

  /** One reusable broadcast of a stored quantizer table — the explicit
    * handle of the build-once/join-many lifecycle (r15 advice: the
    * per-call broadcasts inside [[ivfKnnJoinFromStored]] et al. live
    * until GC, so a session issuing many joins accumulates them). The
    * caller owns the handle: join via [[ivfKnnJoinFromBroadcast]] /
    * [[ivfPqKnnJoinFromBroadcast]] any number of times, then
    * `destroy()` exactly once, after the last job using it finished.
    */
  def ivfQuantizerBroadcast(quantizer: DataFrame)
      : org.apache.spark.broadcast.Broadcast[graft.functions.IvfQuantizer] = {
    val (centroids, offsets) = loadStoredQuantizer(quantizer)
    quantizer.sparkSession.sparkContext.broadcast(
      graft.functions.IvfQuantizer(centroids, offsets))
  }

  /** [[ivfKnnJoin]] against a caller-owned quantizer broadcast (see
    * [[ivfQuantizerBroadcast]]) — identical rows to the FromStored leg
    * (pinned in SimilaritySpec), zero per-call shipping cost.
    */
  def ivfKnnJoinFromBroadcast(df: DataFrame, idCol: String, vecCol: String,
                              bc: org.apache.spark.broadcast.Broadcast[graft.functions.IvfQuantizer],
                              nprobe: Int, k: Int): DataFrame = {
    require(nprobe >= 1 && k >= 1, s"need nprobe/k >= 1, got $nprobe/$k")
    val vecD = col(vecCol).cast("array<double>")
    // The ENTIRE per-row quantizer decision (norm → dots → top-nprobe) is
    // one codegen'd kernel, [[graft.functions.IvfProbes]]. Composing it
    // from a norm column + matvec + score lambda + array_sort was the r13
    // shape's successor and still melted at the ×10 sweep — not on flops
    // but on the PLAN: CollapseProject inlined the norm column into the
    // per-centroid score lambda, and join-side filter inference then
    // duplicated that interpreted tree into pushed Filters on BOTH join
    // inputs (~4 boxed-lambda evaluations per row, 117 s of a 126 s row).
    // A single expression gives Catalyst nothing to inline into and
    // costs O(d·nlist) primitive work per (possibly duplicated) call.
    // Zero-norm vectors come back null and are dropped alongside null
    // vectors — no direction, hence no probe cell and no cosine; the
    // pinned oracle filters the same rows, and [[ivfKnnJoinPinned]]
    // excludes them as anchors. Probe selection stays IN the row (no
    // explode-then-rank-window: that was an n·nlist-row shuffle — 126 M
    // rows at the ×10 sweep — for a decision each row makes alone); only
    // n·nprobe probe rows enter the cell equi-join.
    //
    // The quantizer rides a BROADCAST, not a plan-constant reference:
    // this expression sits in BOTH join subplans (probe + member), so a
    // plan-constant matrix would serialize with every stage's task
    // binary — 7.2 MB at autoNlist for a 10⁸-row dim-64 corpus, 72 MB
    // at 10¹⁰ (r14 task: measured sizes in IvfProbesBroadcast's doc /
    // DESIGN.md). Broadcast moves it once per executor.
    val probed = df.filter(col(vecCol).isNotNull)
      .select(col(idCol), vecD.as("_v"),
        graft.functions.GraftFunctions.ivf_probes_bc(
          vecD, bc, nprobe).as("_probes"))
      .filter(col("_probes").isNotNull)
    val members = probed
      .select(element_at(col("_probes"), 1).as("_mcell"),
        col(idCol).as("neighbor_id"), col("_v").as("_nv"))
    val probes = probed
      .select(col(idCol).as("_qid"), col("_v").as("_qv"),
        explode(col("_probes")).as("_ci"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("_qid").orderBy(col("cos").desc, col("neighbor_id"))
    // Pin the cell join's parallelism ([[pinFanout]]): its OUTPUT is the
    // candidate stream (Σ_cells probes·members ≈ n·nprobe·n/nlist — 127M
    // rows at the ×100 sweep sf), orders of magnitude above its INPUT
    // (n + n·nprobe rows), so AQE's input-byte-sized coalescing parks
    // the whole enumeration on 1–2 tasks (measured: 36 tasks / ~1 busy
    // core for a 1000 s exec at sf10). Cell work is mildly skewed
    // (hottest cell 263k of 127M slots), so hash(cell) balances.
    pinFanout(probes, col("_ci"))
      .join(pinFanout(members, col("_mcell")), col("_ci") === col("_mcell"))
      .filter(col("_qid") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("_qv"), col("_nv")))
      .withColumn("rank", row_number().over(wk).cast("long"))
      .filter(col("rank") <= k)
      .select(col("_qid").as(idCol), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Corpus-wide per-dimension (lo, hi) quantization stats, collected to
    * the driver — `dim` rows, the bounded driver-artifact class (the
    * nlist-row quantizer-fetch precedent). Same stats pass as
    * [[quantizeInt8]] (posexplode + dim-keyed min/max, map-side
    * combined), collected instead of broadcast-joined because the PQ
    * kernels want plan-constant arrays.
    *
    * Stats are defined over NaN-FILTERED elements (r15 advice): one NaN
    * element anywhere in the corpus used to poison that dimension's
    * max (NaN sorts above every double), every reconstruction on the
    * dim went NaN, and the whole PQ join silently returned 0 rows —
    * the plain IVF lane only nulls the offending ROW. The result is
    * additionally validated dense + NaN-free so a residual hole fails
    * loudly on the driver instead of dim-mismatching every encode into
    * null codes.
    *
    * `clip` > 0 is the OUTLIER-ROBUST form: bounds at the
    * (clip, 1−clip) quantiles via `approx_percentile` (mergeable
    * bounded-memory sketch — the scale path; an exact per-dim quantile
    * would need a per-dim sort with only `dim` partitions). Global
    * min/max (clip = 0, the default) lets ONE outlier value crush a
    * dimension's int8 resolution corpus-wide — values outside the
    * clipped range saturate to code 0/255 via the kernel's clamp,
    * which is exactly the trade that keeps the other 255 codes usable.
    * clip = 0 stays the default because it is integer-exact and
    * DuckDB-restatable (the oracle-pinned fixture form); the
    * `x_ivf_pq_outlier_recall` registry row prices the difference on
    * an outlier-injected corpus under a full oracle (rank-clipped
    * bounds, the deterministic twin of this quantile form).
    */
  private[graft] def ivfPqStats(df: DataFrame, vecCol: String,
                                clip: Double = 0.0): (Array[Double], Array[Double]) = {
    require(clip >= 0.0 && clip < 0.5, s"need 0 <= clip < 0.5, got $clip")
    val v = col(vecCol).cast("array<double>")
    val elems = df.select(posexplode(v).as(Seq("_dim", "_x")))
      .filter(!isnan(col("_x")))
    val agged = if (clip == 0.0)
      elems.groupBy("_dim").agg(min(col("_x")).as("_lo"), max(col("_x")).as("_hi"))
    else
      elems.groupBy("_dim").agg(
        percentile_approx(col("_x"), lit(clip), lit(10000)).as("_lo"),
        percentile_approx(col("_x"), lit(1.0 - clip), lit(10000)).as("_hi"))
    val rows = agged.orderBy("_dim").collect()
    require(rows.nonEmpty, "quantization stats: corpus has no non-null vectors")
    rows.iterator.zipWithIndex.foreach { case (r, i) =>
      require(r.getInt(0) == i,
        s"quantization stats: dimensions must be dense 0..d-1, found " +
          s"${r.getInt(0)} at $i (a dimension with no non-NaN values?)")
    }
    val lo = rows.map(_.getDouble(1))
    val hi = rows.map(_.getDouble(2))
    require(!lo.exists(_.isNaN) && !hi.exists(_.isNaN),
      "quantization stats contain NaN after element filtering")
    (lo, hi)
  }

  /** RANK-clipped PQ stats — drop exactly `c` elements per side per
    * dimension, then min/max of the remainder (lo = the (c+1)-th
    * smallest element's value, hi = the (c+1)-th largest). The
    * DETERMINISTIC, integer-exact twin of [[ivfPqStats]]' quantile
    * `clip` form: ties at the drop boundary don't matter (whichever
    * tied element is dropped, the remainder's min/max value is the
    * same), so DuckDB restates it from `row_number` alone — which is
    * what puts the outlier-robustness claim UNDER the oracle
    * (`x_ivf_pq_outlier_recall`).
    *
    * Fixture-scale form: the two per-dim rank windows shuffle n·d
    * elements into `d` partitions — fine on an audit slice, a skew
    * bottleneck on a corpus (production uses the mergeable
    * `approx_percentile` clip, whose sketch never concentrates work).
    */
  private[graft] def ivfPqStatsRankClipped(df: DataFrame, vecCol: String,
                                           c: Int): (Array[Double], Array[Double]) = {
    require(c >= 0, s"need c >= 0, got $c")
    val v = col(vecCol).cast("array<double>")
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy("_dim").orderBy(col("_x").asc)
    val wD = org.apache.spark.sql.expressions.Window
      .partitionBy("_dim").orderBy(col("_x").desc)
    val rows = df.select(posexplode(v).as(Seq("_dim", "_x")))
      .filter(!isnan(col("_x")))
      .withColumn("_ra", row_number().over(wA))
      .withColumn("_rd", row_number().over(wD))
      .filter(col("_ra") > c && col("_rd") > c)
      .groupBy("_dim").agg(min(col("_x")).as("_lo"), max(col("_x")).as("_hi"))
      .orderBy("_dim").collect()
    require(rows.nonEmpty,
      s"rank-clipped stats: no elements survive dropping $c per side")
    rows.iterator.zipWithIndex.foreach { case (r, i) =>
      require(r.getInt(0) == i,
        s"rank-clipped stats: dimensions must be dense 0..d-1, found " +
          s"${r.getInt(0)} at $i (a dimension with <= 2c values?)")
    }
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** [[ivfPqKnnJoinPinnedAuto]] with [[ivfPqStatsRankClipped]] bounds —
    * the oracle-restatable clipped leg of the outlier audit: same
    * pinned-auto anchors and join algebra, bounds that shrug off `c`
    * extreme values per dimension per side.
    */
  def ivfPqKnnJoinPinnedAutoRankClipped(df: DataFrame, idCol: String, vecCol: String,
                                        nprobe: Int, k: Int, kPrime: Int,
                                        clipRank: Int, minList: Int = 8): DataFrame = {
    val unit = pinnedUnitAnchors(df, idCol, vecCol,
      autoNlist(df.count(), nprobe, minList))
    val (lo, hi) = ivfPqStatsRankClipped(df, vecCol, clipRank)
    ivfPqKnnJoinCore(df, idCol, vecCol, unit, unit.map(_ => 0.0), lo, hi,
      nprobe, k, kPrime)
  }

  /** The PQ quantization stats as a PERSISTABLE frame — `(dim INT,
    * lo DOUBLE, hi DOUBLE)`, one row per dimension ([[ivfQuantizerRows]]'
    * sibling, closing the r15 verdict's lifecycle hole): codes must be a
    * function of the STORED artifact, not of whichever corpus version a
    * later join sees — recomputing bounds from the current corpus
    * silently changes code semantics between sessions the moment anyone
    * caches codes. Build once per corpus version with the quantizer,
    * write both tables, and every later [[ivfPqKnnJoinFromStored]] run
    * reads bounds instead of paying a full-corpus stats pass.
    */
  def ivfPqStatsRows(df: DataFrame, vecCol: String, clip: Double = 0.0): DataFrame = {
    val (lo, hi) = ivfPqStats(df, vecCol, clip)
    import df.sparkSession.implicits._
    lo.indices.map(i => (i, lo(i), hi(i))).toDF("dim", "lo", "hi")
  }

  /** Collect + validate an [[ivfPqStatsRows]] table into driver-side
    * (lo, hi) arrays — `dim` rows, the bounded driver-artifact class
    * (the [[loadStoredQuantizer]] pattern, same loud-failure rationale:
    * a ragged or NaN stats table would dim-mismatch every encode into
    * null codes — a silent 0-row join).
    */
  private[graft] def loadStoredPqStats(stats: DataFrame): (Array[Double], Array[Double]) = {
    val rows = stats
      .select(col("dim").cast("int"), col("lo").cast("double"), col("hi").cast("double"))
      .orderBy("dim").collect()
    require(rows.nonEmpty, "stored PQ stats table is empty")
    rows.iterator.zipWithIndex.foreach { case (r, i) =>
      require(r.getInt(0) == i,
        s"stored PQ stats dims must be dense 0..d-1, found ${r.getInt(0)} at $i")
    }
    val lo = rows.map(_.getDouble(1))
    val hi = rows.map(_.getDouble(2))
    require(!lo.exists(_.isNaN) && !hi.exists(_.isNaN), "stored PQ stats contain NaN")
    lo.indices.foreach { i =>
      require(lo(i) <= hi(i), s"stored PQ stats dim $i has lo ${lo(i)} > hi ${hi(i)}")
    }
    (lo, hi)
  }

  /** IVF-PQ-lite kNN self-join — [[ivfKnnJoin]] with the CANDIDATE
    * stage running on COMPRESSED vectors: every row quantizes to packed
    * uint8 binary codes (one byte per dimension —
    * [[graft.functions.QuantizeUint8]], the [[quantizeInt8]] affine
    * formula), the cell equi-join ships ONLY codes on both sides (8×
    * less shuffle than raw `array<double>` — the memory-bounded ANN
    * shape at 100 TB, where the candidate join is the dominant shuffle),
    * candidates rank by the cosine of their affine RECONSTRUCTIONS
    * ([[graft.functions.QuantCosine]]), and only the top-`kPrime`
    * survivors per query re-join their RAW vectors (two id equi-joins of
    * n·kPrime rows — linear) for the exact cosine top-`k` re-rank.
    *
    * Recall decomposes as (cell recall) × (survivor recall): the first
    * is [[ivfKnnJoin]]'s nprobe trade unchanged; the second is the
    * probability a true top-k neighbor ranks in the quantized top-kPrime
    * — int8 reconstruction error is small (the `x_quantize_int8` mse
    * column prices it per vector), so modest kPrime/k ratios (4–8×)
    * recover it; `kPrime` ≥ the per-query candidate count makes the
    * survivor stage pass-through and the result equals [[ivfKnnJoin]]
    * exactly (pinned in SimilaritySpec).
    *
    * NaN reconstruction cosines (a vector whose reconstruction is
    * all-zero — degenerate stats) are filtered before ranking: NaN
    * orders ABOVE every real score in Spark's desc sort and would
    * occupy survivor slots with garbage.
    *
    * Output: (idCol, neighbor_id, cos, rank), rank 1..k per id — `cos`
    * is always the EXACT cosine (codes never appear in the output).
    */
  def ivfPqKnnJoin(df: DataFrame, idCol: String, vecCol: String,
                   nprobe: Int, k: Int, kPrime: Int,
                   minList: Int = 8, seed: Long = 42L,
                   clip: Double = 0.0): DataFrame = {
    // ONE count serves both the nlist rule and the fit cap (r15 advice:
    // this entry point used to scan the corpus twice before any work)
    val n = df.count()
    val nlist = autoNlist(n, nprobe, minList)
    val km = ivfIndexWithCap(df, vecCol, nlist, seed, ivfFitCap(nlist), n)._2
    ivfPqKnnJoinFromModel(df, idCol, vecCol, km, nprobe, k, kPrime, clip)
  }

  /** [[ivfPqKnnJoin]] with the PINNED-AUTO quantizer — the oracle twin
    * (the [[ivfKnnJoinPinnedAuto]] pattern): smallest-id unit anchors at
    * the count-derived [[autoNlist]], so every stage — membership,
    * probes, integer code values, reconstruction cosines, survivor
    * ranks, exact top-k — is restatable by DuckDB from the formulas
    * alone.
    */
  def ivfPqKnnJoinPinnedAuto(df: DataFrame, idCol: String, vecCol: String,
                             nprobe: Int, k: Int, kPrime: Int,
                             minList: Int = 8): DataFrame = {
    val unit = pinnedUnitAnchors(df, idCol, vecCol,
      autoNlist(df.count(), nprobe, minList))
    val (lo, hi) = ivfPqStats(df, vecCol)
    ivfPqKnnJoinCore(df, idCol, vecCol, unit, unit.map(_ => 0.0), lo, hi,
      nprobe, k, kPrime)
  }

  /** [[ivfPqKnnJoin]] against an ALREADY-FITTED quantizer — the
    * build-once/join-many lifecycle ([[ivfKnnJoinFromModel]]'s PQ
    * sibling).
    */
  def ivfPqKnnJoinFromModel(df: DataFrame, idCol: String, vecCol: String,
                            km: org.apache.spark.ml.clustering.KMeansModel,
                            nprobe: Int, k: Int, kPrime: Int,
                            clip: Double = 0.0): DataFrame = {
    val centers = km.clusterCenters.map(_.toArray)
    val offsets = centers.map(c => c.map(x => x * x).sum / 2)
    val (lo, hi) = ivfPqStats(df, vecCol, clip)
    ivfPqKnnJoinCore(df, idCol, vecCol, centers, offsets, lo, hi, nprobe, k, kPrime)
  }

  /** [[ivfPqKnnJoin]] against a RELOADED quantizer + stats table pair —
    * the PQ leg of the cross-session lifecycle ([[ivfKnnJoinFromStored]]'s
    * sibling, same [[loadStoredQuantizer]] validation). The quantization
    * bounds come from the STORED [[ivfPqStatsRows]] table, NOT from the
    * corpus the join sees (r15 verdict): recomputing them per run made
    * codes a function of the current corpus version — same stored
    * quantizer, silently different codes across sessions, which defeats
    * build-once/join-many the moment anyone caches codes — and cost an
    * extra full-corpus pass on the join-many side. A grown corpus +
    * stored stats reproduces the build-time codes exactly (pinned in
    * SimilaritySpec).
    */
  def ivfPqKnnJoinFromStored(df: DataFrame, idCol: String, vecCol: String,
                             quantizer: DataFrame, stats: DataFrame,
                             nprobe: Int, k: Int, kPrime: Int): DataFrame = {
    val (centroids, offsets) = loadStoredQuantizer(quantizer)
    val (lo, hi) = loadStoredPqStats(stats)
    ivfPqKnnJoinCore(df, idCol, vecCol, centroids, offsets, lo, hi, nprobe, k, kPrime)
  }

  /** [[ivfPqKnnJoin]] against a caller-owned quantizer broadcast + a
    * stored stats table — the PQ leg of the reusable-handle lifecycle
    * (see [[ivfQuantizerBroadcast]] for ownership rules).
    */
  def ivfPqKnnJoinFromBroadcast(df: DataFrame, idCol: String, vecCol: String,
                                bc: org.apache.spark.broadcast.Broadcast[graft.functions.IvfQuantizer],
                                stats: DataFrame,
                                nprobe: Int, k: Int, kPrime: Int): DataFrame = {
    val (lo, hi) = loadStoredPqStats(stats)
    ivfPqKnnJoinCoreBc(df, idCol, vecCol, bc, lo, hi, nprobe, k, kPrime)
  }

  /** Shared candidate/survivor/re-rank core of the PQ join — the
    * [[ivfKnnJoinCore]] algebra with the exact-cosine verify split into
    * quantized-rank + survivor-re-rank (see [[ivfPqKnnJoin]]). Same
    * per-call broadcast lifetime note as [[ivfKnnJoinCore]].
    */
  private def ivfPqKnnJoinCore(df: DataFrame, idCol: String, vecCol: String,
                               centroids: Array[Array[Double]],
                               offsets: Array[Double],
                               lo: Array[Double], hi: Array[Double],
                               nprobe: Int, k: Int, kPrime: Int): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    ivfPqKnnJoinCoreBc(df, idCol, vecCol,
      df.sparkSession.sparkContext.broadcast(
        graft.functions.IvfQuantizer(centroids, offsets)),
      lo, hi, nprobe, k, kPrime)
  }

  private def ivfPqKnnJoinCoreBc(df: DataFrame, idCol: String, vecCol: String,
                                 bc: org.apache.spark.broadcast.Broadcast[graft.functions.IvfQuantizer],
                                 lo: Array[Double], hi: Array[Double],
                                 nprobe: Int, k: Int, kPrime: Int): DataFrame = {
    require(nprobe >= 1 && k >= 1, s"need nprobe/k >= 1, got $nprobe/$k")
    require(kPrime >= k, s"need kPrime >= k, got $kPrime < $k")
    val vecD = col(vecCol).cast("array<double>")
    // probes + codes in ONE narrow pass; the raw vector is NOT selected —
    // column pruning keeps it out of the candidate shuffle entirely
    val probed = df.filter(col(vecCol).isNotNull)
      .select(col(idCol),
        graft.functions.GraftFunctions.ivf_probes_bc(vecD, bc, nprobe).as("_probes"),
        graft.functions.GraftFunctions.quantize_uint8(vecD, lo, hi).as("_codes"))
      .filter(col("_probes").isNotNull && col("_codes").isNotNull)
    val members = probed
      .select(element_at(col("_probes"), 1).as("_mcell"),
        col(idCol).as("neighbor_id"), col("_codes").as("_ncodes"))
    val probes = probed
      .select(col(idCol).as("_qid"), col("_codes").as("_qcodes"),
        explode(col("_probes")).as("_ci"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("_qid").orderBy(col("_qcos").desc, col("neighbor_id"))
    val survivors = probes.join(members, col("_ci") === col("_mcell"))
      .filter(col("_qid") =!= col("neighbor_id"))
      .withColumn("_qcos", graft.functions.GraftFunctions.quant_cosine(
        col("_qcodes"), col("_ncodes"), lo, hi))
      .filter(!isnan(col("_qcos")))
      .withColumn("_qrk", row_number().over(wq))
      .filter(col("_qrk") <= kPrime)
      .select("_qid", "neighbor_id")
    // raw vectors re-enter only for the n·kPrime survivor rows
    val base = df.filter(col(vecCol).isNotNull).select(col(idCol), vecD.as("_v"))
    val qv = base.select(col(idCol).as("_qid"), col("_v").as("_qv"))
    val nv = base.select(col(idCol).as("neighbor_id"), col("_v").as("_nv"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("_qid").orderBy(col("cos").desc, col("neighbor_id"))
    survivors.join(qv, "_qid").join(nv, "neighbor_id")
      .withColumn("cos", cosine(col("_qv"), col("_nv")))
      .withColumn("rank", row_number().over(wk).cast("long"))
      .filter(col("rank") <= k)
      .select(col("_qid").as(idCol), col("neighbor_id"), col("cos"), col("rank"))
  }

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

  /** SemDeDup-style semantic near-duplicate pairs: bucket every vector by
    * the SIGN BITS of its [[signedProjection]] (bucket = Σ 2^i over
    * planes i with projection_i ≥ 0 — `planes` hyperplanes → 2^planes
    * buckets), then verify exact cosine ≥ `minCos` WITHIN each bucket
    * only. The semantic-dedup shape of the SemDeDup paper (cluster, then
    * all-pairs inside the cluster) with a deterministic, portable
    * partitioner instead of KMeans: the projection matrix is the
    * portable-hash ±1 matrix, so an external engine can re-derive every
    * bucket assignment AND every surviving pair from the formula alone —
    * unlike [[cosineNearDupLsh]], whose xxhash64-seeded planes make it
    * engine-specific (rows-only checkable).
    *
    * Scale shape: bucketing is a narrow per-row kernel (one
    * [[graft.functions.MatVecProduct]] + a sign fold); the pair stage is
    * a hash EQUI join on the bucket id — never a cross join — so the
    * only quadratic term is within-bucket, bounded by the bucket's own
    * occupancy. At 100 TB: raise `planes` until the largest bucket's
    * all-pairs fits an executor (doubling planes halves expected
    * occupancy); recall at a given `minCos` then follows the hyperplane
    * collision bound cos(θ) — near-identical vectors land in one bucket
    * w.p. ≈ 1. Skewed buckets (e.g. a zero-vector pile-up) are visible
    * in the output's `bucket` column and can be salted upstream.
    *
    * Output: (id1, id2, bucket: long, cos: double), id1 < id2.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String, dIn: Int,
                    planes: Int, minCos: Double): DataFrame =
    pairCos(signBuckets(df, idCol, vecCol, dIn, planes), idCol, minCos)

  /** The planes-free form IS the default ([[knnJoin]]'s precedent), and
    * it dispatches to [[semanticDedupCollapsed]] — the one composition
    * that survives both measured scale failure modes (data-scaled +
    * sub-split planes for clustered skew, exact-twin collapse for
    * duplicate mass; r13 probe: 193–210 s auto → 5–7 s collapsed on the
    * duplicate-heavy ×100 corpus, identity-cost without twins).
    *
    * OUTPUT CONTRACT — read before switching from a pinned form: this
    * returns a CONNECTED-COVER `(id1, id2, cos)` of the near-duplicate
    * graph, NOT the full within-bucket pair set, and carries NO
    * `bucket` column. Twin clusters appear as rep→member star edges
    * (cos = 1.0) instead of all m·(m−1)/2 pairs; connected components
    * — what a keep-one-representative dedup pass consumes — never
    * split versus the pair-set forms (see [[semanticDedupCollapsed]]
    * for the one-directional fine print). Callers that need every
    * individual pair (or the bucket id) should use
    * [[semanticDedupAdaptive]] (full pairs, hot on duplicate mass) or
    * [[semanticDedupAuto]] (full pairs, hot on clustered skew) and
    * accept their documented scale trades.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String, dIn: Int,
                    minCos: Double): DataFrame =
    semanticDedupCollapsed(df, idCol, vecCol, dIn, minCos)

  /** The pairing half of semantic dedup over an already-bucketed frame
    * (idCol, bucket, _v): within-bucket candidates via the bucket
    * equi-join → exact cosine ≥ `minCos`. Shared by [[semanticDedup]]
    * and [[semanticDedupAdaptive]], byte-identical plan to the pre-r13
    * inline form.
    */
  /** Pin an exploding self-join's parallelism — see
    * [[graft.core.Fanout.pin]] for the full rationale (candidate-stream
    * output ≫ input, so AQE's input-byte-sized coalescing parks the
    * enumeration on 1–2 tasks).
    */
  private def pinFanout(df: DataFrame, keys: Column*): DataFrame =
    graft.core.Fanout.pin(df, keys: _*)

  private def pairCos(bucketed: DataFrame, idCol: String, minCos: Double): DataFrame = {
    val pinned = pinFanout(bucketed, col("bucket"))
    val a = pinned.select(col(idCol).as("id1"), col("bucket"), col("_v").as("_v1"))
    val b = pinned.select(col(idCol).as("id2"), col("bucket"), col("_v").as("_v2"))
    a.join(b, "bucket")
      .filter(col("id1") < col("id2"))
      .withColumn("cos", cosine(col("_v1"), col("_v2")))
      .filter(col("cos") >= minCos)
      .select("id1", "id2", "bucket", "cos")
  }

  /** [[semanticDedup]] with the [[autoPlanes]] data-scaled plane rule
    * (the [[knnJoinAuto]] pattern): bucket count grows with the corpus
    * so within-bucket pair fan-out stays at ~`targetBucket` rows
    * regardless of scale — the r11 scale study measured the pinned form
    * ×25 at ×10 data, this form holds occupancy constant. Still fully
    * portable: the plane count is a pure integer function of
    * `count(*)`, so an external engine re-derives it (and every bucket)
    * from the formula alone.
    */
  def semanticDedupAuto(df: DataFrame, idCol: String, vecCol: String, dIn: Int,
                        minCos: Double, targetBucket: Long = 64L,
                        minPlanes: Int = 6): DataFrame =
    semanticDedup(df, idCol, vecCol, dIn,
      autoPlanes(df.count(), targetBucket, minPlanes), minCos)

  /** [[semanticDedupAuto]] with ADAPTIVE hot-cell sub-splitting — the
    * same remedy [[knnJoinAdaptive]] applies to the kNN join, for the
    * same r12 ×100 finding: the auto plane rule holds AVERAGE bucket
    * occupancy at `targetBucket`, but clustered embeddings pile into few
    * sign-cells and the within-bucket pair stage is quadratic in the HOT
    * cell (measured ~200 s at sf10 stress for the auto form). Buckets
    * over `splitFactor·targetBucket` rows get `delta` extra sign planes
    * from the same deterministic JL family (see [[adaptiveBuckets]]).
    *
    * When no bucket exceeds the cap the result is IDENTICAL to
    * [[semanticDedupAuto]]; above it, pairs inside split cells are
    * restricted to sub-bucket mates — the recall trade bought only where
    * the data is hot. The output `bucket` is the POST-split id (level-1
    * bucket << delta, sub bits OR'd in for hot cells), so skew remains
    * observable downstream. Fully portable/restatable: plane count,
    * delta, and the hot set are pure integer functions of `count(*)`
    * and the bucket histogram.
    *
    * Sub-splitting cannot separate EXACT twins (identical vectors have
    * identical signs at every level) — on duplicate-heavy corpora this
    * form stays hot (r13 probe, sf10 chained: auto 193–210 s → adaptive
    * still 124–132 s, vs [[semanticDedupCollapsed]] 5–7 s). If the
    * caller can consume a connected-cover instead of the full pair set,
    * prefer the collapsed form there.
    */
  def semanticDedupAdaptive(df: DataFrame, idCol: String, vecCol: String,
                            dIn: Int, minCos: Double, targetBucket: Long = 64L,
                            minPlanes: Int = 6, splitFactor: Long = 4L): DataFrame =
    pairCos(adaptiveBuckets(df, idCol, vecCol, dIn, targetBucket, minPlanes,
      splitFactor), idCol, minCos)

  /** Collapse bit-identical embedding rows to one representative each —
    * the pre-pass that keeps [[knnJoinAuto]]/[[semanticDedupAuto]]'s
    * occupancy rule honest on DUPLICATE-HEAVY corpora (the r12 ×100
    * stress study: exact-twin vector clusters co-bucket under ANY plane
    * count, so within-bucket pair work grows with the square of the
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

  /** [[knnJoinAdaptive]] with the [[collapseExactVectors]] pre-pass
    * COMPOSED in — the full production ANN recipe for duplicate-heavy
    * corpora (the r12 ×100 chained-stress finding: bit-identical twin
    * clusters co-bucket under ANY plane count, so the pair stage grows
    * with the SQUARE of duplicate multiplicity — ×138 wall at ×10 data
    * — and the adaptive splitter cannot separate them because identical
    * vectors have identical signs at every level). Here the join runs
    * over one representative per distinct vector value and results fan
    * back to every original row through the membership frame:
    *
    *  - query side: each original id inherits its representative's
    *    neighbor list (identical vector ⇒ identical cosines);
    *  - neighbor side: each representative neighbor expands to its
    *    cluster's members — only the `k` smallest member ids per
    *    cluster, since within one cluster all expanded rows share the
    *    neighbor's cosine and rank ties break on id, so no later member
    *    can reach any query's top-k;
    *  - twins: other members of the query's own cluster are cosine-1
    *    neighbors BY DEFINITION (identical vectors) and enter with
    *    literal cos = 1.0 — the `k+1` smallest ids per cluster cover
    *    every query's `k` smallest OTHER members.
    *
    * The final per-query top-k re-ranks the union by (cos desc, id) —
    * so output stays n·k rows and every intermediate is linear in n
    * plus rep-level pair work: the duplicate-multiplicity quadratic is
    * gone by construction. Rows with a null vector are dropped (no
    * vector, no neighbors — the IVF convention).
    *
    * Output: (idCol, neighbor_id, cos, rank), rank 1..k per ORIGINAL id.
    */
  def knnJoinCollapsed(df: DataFrame, idCol: String, vecCol: String, dIn: Int,
                       k: Int, targetBucket: Long = 64L, minPlanes: Int = 6,
                       splitFactor: Long = 4L): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val (reps, membership) = collapseExactVectors(df, idCol, vecCol)
    val repK = knnJoinAdaptive(reps, idCol, vecCol, dIn, k, targetBucket,
      minPlanes, splitFactor)
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
  }

  /** [[semanticDedupAdaptive]] with the [[collapseExactVectors]]
    * pre-pass composed in — the dedup twin of [[knnJoinCollapsed]].
    * Emits a CONNECTED-COVER of the full near-duplicate graph, not
    * every pair: cross-cluster edges are the rep-level adaptive pairs
    * (members share their representative's cosines), and each twin
    * cluster contributes STAR edges (rep → member, literal cos = 1.0)
    * instead of its m·(m−1)/2 within-cluster pairs. The guarantee is
    * ONE-directional: every connection the uncollapsed adaptive pair
    * graph makes survives in the cover (members connect through their
    * representatives), so no component ever splits — but collapsing
    * shrinks the bucket-occupancy histogram, so fewer cells cross the
    * sub-split cap, and the cover can keep true near-dup edges the
    * uncollapsed run's extra split planes would have dropped: the
    * cover may MERGE components the adaptive form keeps separate
    * (always via genuine cos ≥ minCos edges — recall strictly gains).
    * Output and pair work stay linear in duplicate multiplicity
    * instead of quadratic. The `bucket` column is dropped:
    * star edges have no bucket, and the post-split rep bucket is an
    * internal detail ([[semanticDedupAdaptive]] still exposes it).
    *
    * Output: (id1, id2, cos), id1 < id2 (representatives are min-id,
    * so star edges order naturally).
    */
  def semanticDedupCollapsed(df: DataFrame, idCol: String, vecCol: String,
                             dIn: Int, minCos: Double, targetBucket: Long = 64L,
                             minPlanes: Int = 6, splitFactor: Long = 4L): DataFrame = {
    val (reps, membership) = collapseExactVectors(df, idCol, vecCol)
    val repPairs = semanticDedupAdaptive(reps, idCol, vecCol, dIn, minCos,
      targetBucket, minPlanes, splitFactor).select("id1", "id2", "cos")
    val stars = membership.filter(col(idCol) =!= col("rep_id"))
      .select(col("rep_id").as("id1"), col(idCol).as("id2"), lit(1.0).as("cos"))
    repPairs.unionByName(stars)
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

  /** Approximate k-nearest-neighbor SELF-join: every row's top-`k`
    * most-cosine-similar other rows, among rows sharing its
    * [[signBuckets]] sign-bit bucket — the all-rows twin of the
    * one-query [[lshTopK]], and the primitive under SemDeDup-style
    * cluster pruning or contrastive-pair mining.
    *
    * Scale shape: the only shuffle keys on the bucket id, the
    * per-bucket join bounds pair fan-out to bucket sizes (tune
    * `planes`: +1 plane halves expected bucket size), and the top-`k`
    * window partitions by the LEFT id — never a global sort. Recall is
    * bucket-limited like [[semanticDedup]]: a true neighbor in another
    * bucket is missed; raise recall with fewer planes (bigger buckets)
    * or union several independent plane banks upstream.
    *
    * The projection is the portable [[jlMatrix]] arithmetic, so bucket
    * assignment — and therefore the whole result — is re-derivable by
    * any engine from the formula alone (the oracle-checkability the
    * xxhash-seeded [[lshTopK]] bands cannot offer).
    *
    * Output: (idCol, neighbor_id, cos, rank: long), rank 1..k per id by
    * cosine desc (neighbor id breaks exact ties deterministically).
    *
    * This planes-free form IS the default: it applies the full
    * production recipe — [[collapseExactVectors]] composed with the
    * [[knnJoinAdaptive]] data-scaled plane rule and hot-cell
    * sub-splitting ([[knnJoinCollapsed]]) — so the reachable API can
    * neither degrade to all-pairs-per-bucket at scale (measured ×45
    * wall at ×10 data for a pinned plane count), nor melt on clustered
    * corpora whose hot sign-cell is 100× the occupancy target (r13
    * probe, sf10 one-pass ×100: auto 1 086 s → adaptive 89–122 s), nor
    * on duplicate-heavy corpora whose exact twins no plane count can
    * separate (r13 probe, sf10 chained: auto 1 035 s → adaptive still
    * 498–526 s → collapsed 11 s). On a twin-free corpus the collapse
    * is an identity pre-pass within measurement noise (93 vs 89 s at
    * sf10 one-pass) and the result matches [[knnJoinAdaptive]]
    * row-for-row; below the occupancy cap all forms agree bit-for-bit.
    */
  def knnJoin(df: DataFrame, idCol: String, vecCol: String, dIn: Int,
              k: Int): DataFrame =
    knnJoinCollapsed(df, idCol, vecCol, dIn, k)

  /** [[knnJoin]] with a CALLER-PINNED plane count. Bucket count is then
    * fixed at `2^planes` regardless of corpus size, so within-bucket
    * pair fan-out grows quadratically with data — use only when the
    * plane count must be reproducible against a stored oracle
    * (`x_knn_join`); otherwise the planes-free overload scales it.
    */
  @deprecated("pinned planes degrade quadratically with data; use the " +
    "planes-free knnJoin (data-scaled) unless oracle continuity requires " +
    "a fixed plane count", "round 10")
  def knnJoin(df: DataFrame, idCol: String, vecCol: String, dIn: Int,
              planes: Int, k: Int): DataFrame =
    knnJoinImpl(df, idCol, vecCol, dIn, planes, k)

  private def knnJoinImpl(df: DataFrame, idCol: String, vecCol: String,
                          dIn: Int, planes: Int, k: Int): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    pairTopK(signBuckets(df, idCol, vecCol, dIn, planes), idCol, k)
  }

  /** The pairing half of the kNN join over an already-bucketed frame
    * (idCol, bucket, _v): within-bucket candidates → exact cosine →
    * per-query top-k (ties broken by neighbor_id). Shared by
    * [[knnJoinImpl]] and [[knnJoinAdaptive]], byte-identical plan to the
    * pre-r12 inline form.
    */
  private def pairTopK(bucketed: DataFrame, idCol: String, k: Int): DataFrame = {
    val pinned = pinFanout(bucketed, col("bucket"))
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

  /** [[knnJoinAuto]] with ADAPTIVE bucket sub-splitting — the r12 ×100
    * finding's remedy (DESIGN.md "×100 probe"): the auto plane rule
    * holds the AVERAGE occupancy at `targetBucket`, but clustered
    * embeddings concentrate in few sign-cells (measured max 6 878 vs
    * target 64 at 200 k vectors), and within-bucket pair work is
    * quadratic in the HOT cell, not the average. Here buckets whose
    * occupancy exceeds `splitFactor·targetBucket` get `delta` extra
    * sign planes appended — the smallest delta with
    * `maxOcc / 2^delta ≤ splitFactor·targetBucket` — from the SAME
    * deterministic JL family (row i of [[jlMatrix]] is independent of
    * the matrix height, so level-2 signs extend level-1 exactly).
    * Distinct vectors split under extra planes; bit-identical twins
    * never do — collapse those first with [[collapseExactVectors]].
    *
    * When no bucket exceeds the cap the result is IDENTICAL to
    * [[knnJoinAuto]] (same buckets, same pairing, same tie-break) — so
    * any oracle derived for the auto form holds verbatim below the
    * threshold. Above it, candidates inside split cells are restricted
    * to sub-bucket mates: the standard extra-planes recall trade,
    * bought only where the data is hot, priced by the delta formula —
    * a pure function of (n, bucket counts) an external engine can
    * re-derive.
    */
  def knnJoinAdaptive(df: DataFrame, idCol: String, vecCol: String, dIn: Int,
                      k: Int, targetBucket: Long = 64L, minPlanes: Int = 6,
                      splitFactor: Long = 4L): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    pairTopK(adaptiveBuckets(df, idCol, vecCol, dIn, targetBucket, minPlanes,
      splitFactor), idCol, k)
  }

  /** The adaptive-bucketing half shared by [[knnJoinAdaptive]] and
    * [[semanticDedupAdaptive]]: [[signBuckets]] at the [[autoPlanes]]
    * level-1 plane count, then buckets whose occupancy exceeds
    * `splitFactor·targetBucket` get `delta` extra sign planes appended
    * — the smallest delta with `maxOcc / 2^delta ≤ cap` — from the SAME
    * deterministic JL family (row i of [[jlMatrix]] is independent of
    * the matrix height, so level-2 signs extend level-1 exactly).
    * Distinct vectors split under extra planes; bit-identical twins
    * never do — collapse those first with [[collapseExactVectors]] (or
    * use the composed [[knnJoinCollapsed]]/[[semanticDedupCollapsed]]).
    *
    * When no bucket exceeds the cap the output equals [[signBuckets]]
    * at the auto plane count verbatim. An EMPTY (or all-null-vector)
    * input short-circuits to the un-split bucketing — the same empty
    * frame the auto forms produce — instead of reading a null max
    * occupancy. Output: (idCol, _v, bucket), bucket = level-1 bucket
    * << delta, sub bits OR'd in for hot cells (delta = 0 ⇒ unshifted).
    */
  private[graft] def adaptiveBuckets(df: DataFrame, idCol: String, vecCol: String,
                                     dIn: Int, targetBucket: Long, minPlanes: Int,
                                     splitFactor: Long): DataFrame = {
    require(splitFactor >= 1, s"need splitFactor >= 1, got $splitFactor")
    val planes0 = autoPlanes(df.count(), targetBucket, minPlanes)
    val bucketed = signBuckets(df, idCol, vecCol, dIn, planes0)
    val counts = bucketed.groupBy("bucket").agg(count(lit(1)).as("_occ"))
    val cap = splitFactor * targetBucket
    // null max = empty input → no bucket can exceed the cap
    val maxOcc = Option(counts.agg(max(col("_occ"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    if (maxOcc <= cap) bucketed
    else {
      var delta = 1
      while (delta < 20 && (maxOcc >> delta) > cap) delta += 1
      require(planes0 + delta < 62, s"plane budget exceeded: $planes0 + $delta")
      val hot = counts.filter(col("_occ") > cap).select(col("bucket"), lit(true).as("_hot"))
      // level-2 signs: rows planes0 .. planes0+delta-1 of the SAME JL
      // family (sign of row i is height-independent)
      val subProj = graft.functions.GraftFunctions.matvec_product(
        col("_v"), jlMatrix(dIn, planes0 + delta))
      val sub = (planes0 until planes0 + delta).map(i =>
          when(element_at(subProj, i + 1) >= 0, lit(1L << (i - planes0))).otherwise(lit(0L)))
        .reduce((x, y) => x.bitwiseOR(y))
      bucketed
        .join(broadcast(hot), Seq("bucket"), "left")
        .withColumn("bucket",
          shiftleft(col("bucket"), delta)
            .bitwiseOR(when(coalesce(col("_hot"), lit(false)), sub).otherwise(lit(0L))))
        .drop("_hot")
    }
  }

  /** [[knnJoin]] with the plane count scaled to the DATA, which is the
    * piece the fixed-plane form leaves to the caller and the piece that
    * decides whether the join survives a scale-up: bucket COUNT is
    * `2^planes` (fixed), so at a fixed `planes` a ×10 corpus puts ×10
    * rows in every bucket and the within-bucket pair fan-out grows
    * ×100 — measured ×45 wall at ×10 data (sf0.1 → sf1, planes = 6).
    * Holding EXPECTED bucket size at `targetBucket` instead prices one
    * extra plane per corpus doubling: `planes = max(minPlanes,
    * ceil(log2(n / targetBucket)))`, one cheap count() to learn `n`.
    *
    * Recall trades the other way (smaller buckets miss more true
    * neighbors — the [[knnJoin]] scaladoc's union-of-banks remedy
    * applies); the point of the rule is that the DEFAULT follows the
    * data instead of silently degrading to all-pairs-per-bucket.
    * With the defaults, every corpus up to `64 · 2^6 = 4096` rows
    * resolves to `minPlanes` = 6 — so results (and any oracle derived
    * for planes = 6) are IDENTICAL to `knnJoin(…, planes = 6, …)`
    * below that size, and the plane count starts growing exactly when
    * the data does.
    *
    * STEER (r13 ×10 sweep, the pinned-overload precedent at
    * [[knnJoin]]): this mid-tier form holds AVERAGE occupancy only —
    * on real corpora the hot sign-cell still grows superlinearly
    * (measured ×13.0 wall at ×10 data vs ×6.6 adaptive / ×2.7
    * collapsed on the same corpus). It remains public solely as the
    * oracle-continuity anchor for the `x_knn_join_auto` registry row
    * and as the below-cap reference semantics; new callers should use
    * the planes-free [[knnJoin]] (the full collapsed+adaptive
    * composition) or [[knnJoinAdaptive]] when the full per-pair output
    * of this form is required.
    */
  def knnJoinAuto(df: DataFrame, idCol: String, vecCol: String, dIn: Int,
                  k: Int, targetBucket: Long = 64L, minPlanes: Int = 6): DataFrame =
    knnJoinImpl(df, idCol, vecCol, dIn,
      autoPlanes(df.count(), targetBucket, minPlanes), k)

  /** The [[knnJoinAuto]] plane rule — pure so the boundary arithmetic
    * is unit-testable: smallest `planes >= minPlanes` with
    * `n / 2^planes <= targetBucket`.
    */
  private[graft] def autoPlanes(n: Long, targetBucket: Long, minPlanes: Int): Int = {
    require(targetBucket >= 1 && minPlanes >= 1,
      s"need targetBucket >= 1 and minPlanes >= 1, got $targetBucket / $minPlanes")
    var planes = minPlanes
    // integer arithmetic, not floating log2: exact at powers of two.
    // n <= targetBucket * 2^planes  <=>  ceil(n / targetBucket) <= 2^planes
    // (the product form would overflow Long at large planes; a plain
    // truncating n >> planes admits up to targetBucket - 1 extra rows)
    val needed = (n + targetBucket - 1) / targetBucket
    while (planes < 62 && needed > (1L << planes)) planes += 1
    planes
  }

  /** Portable sign-bit bucketing shared by [[semanticDedup]] and
    * [[knnJoin]]: project with the [[jlMatrix]] ±1 bank, take the sign
    * bit per plane, pack to one long. Output: (idCol, _v, bucket).
    */
  private[graft] def signBuckets(df: DataFrame, idCol: String, vecCol: String,
                          dIn: Int, planes: Int): DataFrame = {
    val projected = df.select(col(idCol), col(vecCol).cast("array<double>").as("_v"),
      jlProjection(col(vecCol), dIn, planes).as("_proj"))
    projected.select(col(idCol), col("_v"),
      signFold(col("_proj"), planes).as("bucket"))
  }

  /** The JL ±1 projection of a vector column — the per-row kernel under
    * [[signBuckets]], exposed so the streaming ingest twin
    * ([[graft.streaming.StreamingOps.signBucketCandidatePairs]]) computes
    * buckets with the SAME expression and bitwise identity is structural,
    * not coincidental. Evaluate it through a projection barrier (a
    * separate select) before folding, so the matvec runs once per row.
    */
  private[graft] def jlProjection(vec: Column, dIn: Int, planes: Int): Column = {
    require(planes > 0 && planes < 63, s"need 0 < planes < 63, got $planes")
    graft.functions.GraftFunctions.matvec_product(
      vec.cast("array<double>"), jlMatrix(dIn, planes))
  }

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
