package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** How [[graft.ext.Similarity.knnJoin]] and
  * [[graft.ext.Similarity.semanticDedup]] assign rows to JL sign-bit
  * buckets. A bucket is Σ 2^i over the planes i where the row's
  * [[graft.ext.Similarity.signedProjection]] is ≥ 0, so `planes`
  * hyperplanes give 2^planes buckets. The projection is the portable
  * ±1 matrix, so an external engine re-derives every bucket (and every
  * count-derived plane number) from the formula alone.
  *
  * Four cases, from pinned to production:
  *  - [[SignBucketing.Fixed]]: a caller-pinned plane count. Bucket count
  *    does not follow the data, so within-bucket pair work grows with
  *    the square of the corpus (measured ×45 wall at ×10 data for
  *    planes = 6). Use it only where the plane count must match a
  *    stored oracle.
  *  - [[SignBucketing.Auto]]: planes follow `count(*)`, holding AVERAGE
  *    occupancy at `targetBucket` ([[SignBucketing.Auto.planes]]).
  *    Clustered corpora still pile into a few hot cells (measured
  *    ×13.0 wall at ×10 data).
  *  - [[SignBucketing.Adaptive]]: Auto plus hot-cell sub-splitting.
  *    Buckets above `splitFactor·targetBucket` rows get extra planes
  *    from the same JL family. Below that cap it equals Auto exactly.
  *    Bit-identical twins share every sign, so no split separates them.
  *  - [[SignBucketing.Collapsed]] ([[SignBucketing.Default]]): the join
  *    first collapses bit-identical vectors to one representative
  *    ([[graft.ext.Similarity.collapseExactVectors]]), buckets the
  *    representatives by the Adaptive rule, and fans results back out.
  *    This survives both measured scale failures: clustered skew and
  *    duplicate mass (sf10 chained: Auto 1 035 s, Adaptive 498–526 s,
  *    Collapsed 11 s). On a twin-free corpus it equals Adaptive.
  *
  * Every case checks its fields when it is built, so a bad value fails
  * with the field's name before any Spark job runs.
  */
sealed trait SignBucketing {

  /** Every row of `df` with a `dIn`-length vector, with its bucket:
    * (idCol, _v: array<double>, bucket: long). Rows with a null vector
    * or a vector of another length are dropped ([[SignBucketing.usable]]):
    * no projection, no bucket, no neighbours (the
    * [[graft.ext.Similarity.collapseExactVectors]] and
    * [[graft.ext.Similarity.ivfKnnJoin]] convention).
    */
  private[graft] def buckets(df: DataFrame, idCol: String, vecCol: String,
                             dIn: Int): DataFrame
}

object SignBucketing {

  /** The rows of `df` whose vector can be projected: non-null and of
    * length `dIn`. Any other vector gets a null projection, which would
    * fold into bucket 0 and be ranked with a null cosine.
    */
  private[graft] def usable(df: DataFrame, vecCol: String, dIn: Int): DataFrame =
    df.filter(col(vecCol).isNotNull && size(col(vecCol)) === dIn)

  /** `planes` sign planes, 2^planes buckets. */
  final case class Fixed(planes: Int) extends SignBucketing {
    require(planes >= 1 && planes <= 62, s"need 1 <= planes <= 62, got planes = $planes")

    /** Two selects: the projection barrier makes the matvec run once
      * per row, not once per folded sign. The streaming twin
      * ([[graft.streaming.StreamingOps.signBucketCandidatePairs]]) uses
      * the same two kernels, so its buckets are bitwise the same.
      */
    private[graft] def buckets(df: DataFrame, idCol: String, vecCol: String,
                               dIn: Int): DataFrame =
      usable(df, vecCol, dIn)
        .select(col(idCol), col(vecCol).cast("array<double>").as("_v"),
          Similarity.jlProjection(col(vecCol), dIn, planes).as("_proj"))
        .select(col(idCol), col("_v"),
          Similarity.signFold(col("_proj"), planes).as("bucket"))
  }

  /** Planes from the row count, one `count()`: see [[planes]]. With the
    * defaults, every corpus up to 64 · 2^6 = 4096 rows resolves to
    * `minPlanes`, so below that size the result equals `Fixed(6)`.
    */
  final case class Auto(targetBucket: Long = 64L, minPlanes: Int = 6) extends SignBucketing {
    require(targetBucket >= 1, s"need targetBucket >= 1, got targetBucket = $targetBucket")
    require(minPlanes >= 1 && minPlanes <= 62,
      s"need 1 <= minPlanes <= 62, got minPlanes = $minPlanes")

    /** The occupancy rule: the smallest `planes >= minPlanes` with
      * `n / 2^planes <= targetBucket`. Integer arithmetic, not a
      * floating log2, so it is exact at powers of two:
      * `n <= targetBucket · 2^planes` ⇔ `ceil(n / targetBucket) <= 2^planes`
      * (the product form would overflow Long at large planes; a plain
      * truncating `n >> planes` admits up to targetBucket − 1 extra rows).
      */
    def planes(n: Long): Int = {
      var p = minPlanes
      val needed = (n + targetBucket - 1) / targetBucket
      while (p < 62 && needed > (1L << p)) p += 1
      p
    }

    private[graft] def buckets(df: DataFrame, idCol: String, vecCol: String,
                               dIn: Int): DataFrame =
      Fixed(planes(df.count())).buckets(df, idCol, vecCol, dIn)
  }

  /** [[Auto]] buckets, then every bucket with more than
    * `splitFactor·targetBucket` rows gets `delta` extra sign planes:
    * the smallest delta with `maxOcc / 2^delta <= cap`. The extra
    * planes are rows planes0 .. planes0+delta−1 of the SAME JL family
    * (the sign of row i does not depend on the matrix height), so
    * level-2 signs extend level-1 exactly. The emitted bucket is the
    * post-split id: level-1 bucket << delta, with the sub bits OR'd in
    * for hot cells, so skew stays visible downstream.
    *
    * When no bucket exceeds the cap the output equals [[Auto]]'s. An
    * empty (or all-null-vector) input has no occupancy and stays
    * unsplit. Plane count, delta and the hot set are pure integer
    * functions of `count(*)` and the bucket histogram.
    */
  final case class Adaptive(targetBucket: Long = 64L, minPlanes: Int = 6,
                            splitFactor: Long = 4L) extends SignBucketing {
    private val level1 = Auto(targetBucket, minPlanes)
    require(splitFactor >= 1, s"need splitFactor >= 1, got splitFactor = $splitFactor")

    private[graft] def buckets(df: DataFrame, idCol: String, vecCol: String,
                               dIn: Int): DataFrame = {
      val planes0 = level1.planes(df.count())
      val bucketed = Fixed(planes0).buckets(df, idCol, vecCol, dIn)
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
        val subProj = Similarity.jlProjection(col("_v"), dIn, planes0 + delta)
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
  }

  /** Collapse exact twins, then bucket the representatives by the
    * [[Adaptive]] rule. [[buckets]] is that rule over the frame it is
    * given; the collapse and the fan-out live in the joins, because
    * their output contracts differ (see
    * [[graft.ext.Similarity.knnJoin]] and
    * [[graft.ext.Similarity.semanticDedup]]).
    */
  final case class Collapsed(targetBucket: Long = 64L, minPlanes: Int = 6,
                             splitFactor: Long = 4L) extends SignBucketing {
    private val adaptive = Adaptive(targetBucket, minPlanes, splitFactor)

    private[graft] def buckets(df: DataFrame, idCol: String, vecCol: String,
                               dIn: Int): DataFrame =
      adaptive.buckets(df, idCol, vecCol, dIn)
  }

  /** The production recipe: [[Collapsed]] with its default fields. */
  val Default: SignBucketing = Collapsed()
}
