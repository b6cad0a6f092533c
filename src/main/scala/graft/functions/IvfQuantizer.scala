package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The IVF coarse quantizer: `nlist` centroids and one probe offset per
  * centroid. A row's probe score against cell p is (v̂·c_p − offset_p),
  * rank 1 is its membership cell, ranks 1..nprobe its probe list (see
  * [[IvfKernel.probes]]). It is also the broadcast payload that
  * [[IvfProbesBroadcast]] dereferences.
  *
  * Lifecycle: build once, probe many.
  *  - Build with one of four constructors: [[IvfQuantizer.fit]]
  *    (spherical KMeans, the production quantizer),
  *    [[IvfQuantizer.fromModel]] (an already-fitted KMeans model),
  *    [[IvfQuantizer.pinned]] (smallest-id unit anchors, the
  *    oracle-restatable fixture) or [[IvfQuantizer.stored]] (a table
  *    written by [[rows]]).
  *  - Reuse within a session by holding the value; across sessions by
  *    writing [[rows]] once per corpus version and reloading it with
  *    [[IvfQuantizer.stored]]. The table is nlist rows, collected once;
  *    the corpus is never collected.
  *  - Probe with [[graft.ext.Similarity.ivfKnnJoin]] (batch self-join) or
  *    [[graft.streaming.StreamingOps.ivfCellCandidatePairs]] (ingest).
  *
  * Every constructor runs the validation below, so a corrupt quantizer
  * fails where it is built, with the cell id, not inside the join: a
  * ragged bank would silently drop every row whose length differs from
  * cell 0's, or throw `ArrayIndexOutOfBounds` in executors, and a NaN
  * centroid or offset can seat a NaN probe score.
  */
case class IvfQuantizer(centroids: Array[Array[Double]], offsets: Array[Double]) {
  require(centroids.nonEmpty, "quantizer is empty")
  require(offsets.length == centroids.length,
    s"need one offset per centroid, got ${offsets.length}/${centroids.length}")
  centroids.iterator.zipWithIndex.foreach { case (c, i) =>
    require(c.nonEmpty, s"quantizer cell $i has an empty centroid")
    require(c.length == centroids(0).length,
      s"quantizer centroids must share one dimension: " +
        s"cell $i has ${c.length}, cell 0 has ${centroids(0).length}")
    require(!c.exists(_.isNaN), s"quantizer cell $i contains NaN")
  }
  require(!offsets.exists(_.isNaN), "quantizer offsets contain NaN")

  /** The persistable form — `(ivf_cell INT, centroid ARRAY<DOUBLE>,
    * offset DOUBLE)`, one row per cell, cell ids dense 0..nlist−1 in
    * probe-rank tie order.
    */
  def rows(spark: SparkSession): DataFrame = {
    import spark.implicits._
    centroids.zip(offsets).zipWithIndex
      .map { case ((c, o), i) => (i, c.toSeq, o) }.toSeq
      .toDF("ivf_cell", "centroid", "offset")
  }
}

object IvfQuantizer {

  /** Spherical KMeans fit ([[graft.ext.Similarity.ivfIndex]]'s bounded
    * fit) with the KMeans offsets ‖c‖²/2, so probe ranking reproduces
    * the euclidean rule on the normalized space exactly. `knownCount`
    * passes an already-paid `df.count()` (callers that size `nlist`
    * with [[graft.ext.Similarity.autoNlist]] count first) so the fit cap
    * does not scan the corpus a second time.
    */
  def fit(df: DataFrame, vecCol: String, nlist: Int, seed: Long = 42L,
          knownCount: Long = -1L): IvfQuantizer =
    fromModel(graft.ext.Similarity.ivfIndexWithCap(df, vecCol, nlist, seed,
      graft.ext.Similarity.ivfFitCap(nlist), knownCount)._2)

  def fromModel(km: org.apache.spark.ml.clustering.KMeansModel): IvfQuantizer = {
    val centers = km.clusterCenters.map(_.toArray)
    IvfQuantizer(centers, centers.map(c => c.map(x => x * x).sum / 2))
  }

  /** The `nlist` smallest-id vectors, L2-normalized, with offsets 0 (unit
    * centroids: the probe rule is plain cosine ranking). Deterministic and
    * DuckDB-restatable — `ORDER BY id LIMIT nlist` plus the join algebra,
    * no RNG — so it is the gate twin of [[fit]]. Zero-norm rows cannot
    * anchor a cell (no direction), the same exclusion the join applies to
    * query and member rows.
    */
  def pinned(df: DataFrame, idCol: String, vecCol: String, nlist: Int): IvfQuantizer = {
    val vecD = col(vecCol).cast("array<double>")
    val unit = df.filter(col(vecCol).isNotNull)
      .filter(aggregate(zip_with(vecD, vecD, (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x) > 0)
      .orderBy(col(idCol)).limit(nlist)
      .select(vecD).collect()
      .map { r =>
        val c = r.getSeq[Double](0).toArray
        val n = math.sqrt(c.map(x => x * x).sum)
        c.map(_ / n)
      }
    IvfQuantizer(unit, unit.map(_ => 0.0))
  }

  /** Reload a [[IvfQuantizer.rows]] table; cell ids must be dense. */
  def stored(table: DataFrame): IvfQuantizer = {
    val rows = table
      .select(col("ivf_cell").cast("int"),
        col("centroid").cast("array<double>"), col("offset").cast("double"))
      .orderBy("ivf_cell").collect()
    requireDense(rows.map(_.getInt(0)), "stored quantizer cells")
    IvfQuantizer(rows.map(_.getSeq[Double](1).toArray), rows.map(_.getDouble(2)))
  }

  private[functions] def requireDense(keys: Array[Int], what: String): Unit =
    keys.iterator.zipWithIndex.foreach { case (key, i) =>
      require(key == i, s"$what must be dense 0..n-1, found $key at $i")
    }
}

/** Per-dimension (lo, hi) bounds of the PQ candidate stage's uint8 codes
  * ([[QuantizeUint8]] / [[QuantCosine]]). Codes are a function of these
  * bounds, so a build-once/probe-many pipeline stores them next to the
  * quantizer ([[rows]] / [[PqBounds.stored]]) instead of recomputing them
  * from whichever corpus version a later join sees. Every constructor
  * validates: same length, non-empty, no NaN, lo ≤ hi — a ragged or NaN
  * table would dim-mismatch every encode into null codes (a silent 0-row
  * join).
  */
case class PqBounds(lo: Array[Double], hi: Array[Double]) {
  require(lo.nonEmpty, "PQ bounds are empty")
  require(lo.length == hi.length, s"need one hi per lo, got ${hi.length}/${lo.length}")
  require(!lo.exists(_.isNaN) && !hi.exists(_.isNaN), "PQ bounds contain NaN")
  lo.indices.foreach { i =>
    require(lo(i) <= hi(i), s"PQ bounds dim $i has lo ${lo(i)} > hi ${hi(i)}")
  }

  /** The persistable form — `(dim INT, lo DOUBLE, hi DOUBLE)`. */
  def rows(spark: SparkSession): DataFrame = {
    import spark.implicits._
    lo.indices.map(i => (i, lo(i), hi(i))).toDF("dim", "lo", "hi")
  }
}

object PqBounds {

  /** Corpus-wide bounds over NaN-FILTERED elements (one NaN element must
    * not poison its dimension's max and silence the join), collected —
    * `dim` rows. Same stats pass as
    * [[graft.ext.Similarity.quantizeInt8]] (posexplode + dim-keyed
    * min/max, map-side combined).
    *
    * `clip` > 0 is the outlier-robust form: bounds at the (clip, 1−clip)
    * quantiles via `approx_percentile` (a mergeable bounded-memory
    * sketch). Global min/max lets ONE outlier crush a dimension's
    * resolution corpus-wide; clipped values saturate to code 0/255. clip
    * = 0 stays the default because it is integer-exact and
    * DuckDB-restatable; `x_ivf_pq_outlier_recall` prices the difference.
    */
  def stats(df: DataFrame, vecCol: String, clip: Double = 0.0): PqBounds = {
    require(clip >= 0.0 && clip < 0.5, s"need 0 <= clip < 0.5, got $clip")
    val elems = df.select(posexplode(col(vecCol).cast("array<double>")).as(Seq("_dim", "_x")))
      .filter(!isnan(col("_x")))
    val agged = if (clip == 0.0)
      elems.groupBy("_dim").agg(min(col("_x")).as("_lo"), max(col("_x")).as("_hi"))
    else
      elems.groupBy("_dim").agg(
        percentile_approx(col("_x"), lit(clip), lit(10000)).as("_lo"),
        percentile_approx(col("_x"), lit(1.0 - clip), lit(10000)).as("_hi"))
    collectBounds(agged, "quantization stats dims (a dimension with no non-NaN values?)")
  }

  /** Rank-clipped bounds: drop exactly `c` elements per side per
    * dimension, then min/max of the remainder. The deterministic twin of
    * [[stats]]' quantile `clip` (ties at the drop boundary leave the same
    * min/max), so DuckDB restates it from `row_number` alone. Fixture
    * scale only: the two per-dim rank windows shuffle n·d elements into
    * `d` partitions.
    */
  def rankClipped(df: DataFrame, vecCol: String, c: Int): PqBounds = {
    require(c >= 0, s"need c >= 0, got $c")
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy("_dim").orderBy(col("_x").asc)
    val wD = org.apache.spark.sql.expressions.Window
      .partitionBy("_dim").orderBy(col("_x").desc)
    val agged = df.select(posexplode(col(vecCol).cast("array<double>")).as(Seq("_dim", "_x")))
      .filter(!isnan(col("_x")))
      .withColumn("_ra", row_number().over(wA))
      .withColumn("_rd", row_number().over(wD))
      .filter(col("_ra") > c && col("_rd") > c)
      .groupBy("_dim").agg(min(col("_x")).as("_lo"), max(col("_x")).as("_hi"))
    collectBounds(agged, s"rank-clipped dims (a dimension with <= 2*$c values?)")
  }

  /** Reload a [[PqBounds.rows]] table; dims must be dense. */
  def stored(table: DataFrame): PqBounds =
    collectBounds(table.select(col("dim").as("_dim"), col("lo").as("_lo"), col("hi").as("_hi")),
      "stored PQ stats dims")

  /** Collect `(_dim, _lo, _hi)` rows — `dim` of them — in dim order. */
  private def collectBounds(agged: DataFrame, what: String): PqBounds = {
    val rows = agged
      .select(col("_dim").cast("int"), col("_lo").cast("double"), col("_hi").cast("double"))
      .orderBy("_dim").collect()
    IvfQuantizer.requireDense(rows.map(_.getInt(0)), what)
    PqBounds(rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }
}

/** The PQ candidate stage of [[graft.ext.Similarity.ivfKnnJoin]]: rank
  * candidates on uint8 codes under `bounds`, keep the top `kPrime` per
  * query, re-rank those exactly.
  */
case class IvfPq(bounds: PqBounds, kPrime: Int)
