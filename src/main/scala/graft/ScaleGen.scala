package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds an N× scale-up of a testdata directory, so the scale posture
  * the plans claim can be measured: `graft.Run scale <src> <dst>
  * <factor>` ([[generate]]).
  *
  * What scales and how (the corpus tables the dedup/winnow/text/window
  * lanes read):
  *
  *  - `documents` ×N (N ≤ 312): replica r remaps `doc_id += r·stride`
  *    and applies a per-replica affine letter permutation (`translate`,
  *    case preserved — see [[affineAlphabet]]). The permutation is
  *    length-preserving and bijective on k-grams, so token counts, text
  *    statistics, and the WITHIN-replica duplicate/near-duplicate
  *    structure are replicated exactly — while cross-replica k-gram
  *    equality is destroyed (distinct maps agree on ≤ 2 letters), so
  *    candidate pairs grow ×N, not ×N² as naive copies would (10
  *    verbatim copies give each doc 9 cross-replica twins → 45 extra
  *    pairs per original pair-group, a workload the real corpus
  *    doesn't have).
  *  - `events` ×N: `event_id`/`user_id` += r·stride, ts/value/props
  *    kept — per-user session and funnel shapes replicate, user
  *    cardinality ×N.
  *  - `embeddings` ×N (N ≤ 2·dim): `vec_id` += r·stride and replica r
  *    rotates coordinates (mod dim) with a half-turn negation — see
  *    [[scaleEmbeddings]]. Norm-preserving and within-replica
  *    cosine-invariant, so each replica keeps the original cluster
  *    geometry; cross-replica similarity collapses to noise instead of
  *    N exact twins per vector.
  *
  *  Scale in ONE pass: the per-replica transforms compose additively, so
  *  chaining two passes hands equal-composition replica pairs identical
  *  texts/vectors (ids stay sound via [[strideFor]], the data workload
  *  does not).
  *  - TPC-H tables pass through unchanged: the corpus lanes are what the
  *    10× proof targets; FK-consistent TPC-H scaling is the driver's job
  *    (real sf1 generation), not worth re-deriving here.
  */
object ScaleGen {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  /** Units of Z₂₆ (gcd(a,26)=1) — the valid multipliers of an affine
    * letter cipher x → a·x+b (mod 26).
    */
  private val Units = Vector(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** Max factor for which every replica gets a DISTINCT text transform. */
  val MaxDocFactor: Int = Units.length * 26 // 312

  /** Replica r's letter permutation as a translate() replacement string:
    * affine map x → a·x+b (mod 26) with a = Units[r/26 mod 12], b = r mod 26,
    * applied to both cases. r=0 is the identity. Why affine and not plain
    * rotation: rotation wraps at 26, so factor > 26 would hand replicas r
    * and r+26 IDENTICAL texts — N·(N−1)/2 cross-replica exact-duplicate
    * pairs the real corpus doesn't have. The 312 affine maps are pairwise
    * distinct, and two distinct maps agree on at most 2 letters (equal a:
    * none; different a: (a₁−a₂)x ≡ b₂−b₁ has gcd(a₁−a₂,26)=2 solutions at
    * most), so cross-replica k-gram equality stays destroyed.
    */
  private[graft] def affineAlphabet(r: Int): String = {
    require(r >= 0 && r < MaxDocFactor, s"replica $r outside [0, $MaxDocFactor)")
    val a = Units(r / 26)
    val b = r % 26
    val lo = (0 until 26).map(i => Lower((a * i + b) % 26)).mkString
    lo + lo.toUpperCase
  }

  private val IdStride = 1000000L

  /** Replica id stride: at least [[IdStride]], and past the input's own
    * max id — a FIXED stride collides when ScaleGen output is scaled
    * AGAIN (sf1 doc_ids already span r·1e6; re-adding r·1e6 mapped
    * 500 k rows onto 95 k distinct ids). Rounded to a power of 10 so
    * replica membership stays readable off the id.
    */
  private def strideFor(df: DataFrame, idCols: String*): Long = {
    val maxId = idCols
      .map(c => df.agg(max(col(c).cast("long"))).head().getLong(0)).max
    var s = IdStride
    while (s <= maxId) s *= 10L
    s
  }

  /** documents ×factor with per-replica affine letter permutation (see
    * [[affineAlphabet]]). Single-pass only: chaining two ScaleGen passes
    * composes the affine maps, and distinct (r₁,r₂) pairs with equal
    * composed maps would be cross-replica exact duplicates — scale in ONE
    * pass (factor ≤ 312), never by re-scaling ScaleGen output.
    */
  def scaleDocuments(docs: DataFrame, factor: Int): DataFrame = {
    require(factor <= MaxDocFactor, s"factor $factor > $MaxDocFactor distinct text transforms")
    val rots = array((0 until factor).map(r => lit(affineAlphabet(r))): _*)
    replicate(docs, factor)
      .withColumn("doc_id", col("doc_id") + col("_rep") * strideFor(docs, "doc_id"))
      // translate's matching/replace args need not be foldable: the
      // per-replica alphabet is picked per row from a 10-element literal
      // array (StringTranslate rebuilds its dict only when the value
      // changes, and rows arrive replica-clustered from the replicate
      // crossJoin, so the rebuild is per-partition-rare, not per-row)
      // functions.translate only takes literal match/replace strings; the
      // SQL builtin accepts per-row columns — call it directly
      .withColumn("text",
        call_function("translate", col("text"), lit(Lower + Upper),
          element_at(rots, col("_rep").cast("int") + 1)))
      .drop("_rep")
  }

  /** events ×factor: id remap only — time structure is the workload. */
  def scaleEvents(events: DataFrame, factor: Int): DataFrame = {
    val stride = strideFor(events, "event_id", "user_id")
    replicate(events, factor)
      .withColumn("event_id", col("event_id") + col("_rep") * stride)
      .withColumn("user_id", col("user_id") + col("_rep") * stride)
      .drop("_rep")
  }

  /** embeddings ×factor: replica r left-rotates coordinates by r mod d and
    * negates the vector when ⌊r/d⌋ is odd — 2·d distinct transforms (d=64
    * in the testdata), each norm-preserving and within-replica
    * cosine-invariant (the same permutation and global sign hit both sides
    * of any within-replica pair). Plain rotation alone wraps at d:
    * factor > d would hand replicas r and r+d exact vector twins. The old
    * code also sliced with a NEGATIVE length once _rep ≥ d. Single-pass
    * only, like [[scaleDocuments]].
    */
  def scaleEmbeddings(emb: DataFrame, factor: Int): DataFrame = {
    val d = emb.select(size(col("embedding"))).head().getInt(0)
    require(factor <= 2 * d, s"factor $factor > ${2 * d} distinct vector transforms (dim $d)")
    val k = (col("_rep") % d).cast("int")
    val rotated = when(k === 0, col("embedding")).otherwise(
      concat(
        slice(col("embedding"), k + lit(1), size(col("embedding")) - k),
        slice(col("embedding"), lit(1), k)))
    replicate(emb, factor)
      .withColumn("vec_id", col("vec_id") + col("_rep") * strideFor(emb, "vec_id"))
      .withColumn("embedding",
        when((col("_rep") / d).cast("long") % 2 === 1,
          transform(rotated, x => -x)).otherwise(rotated))
      .drop("_rep")
  }

  /** Cross join with a broadcast replica spine — N× rows, one narrow
    * stage, no shuffle; replica id in `_rep` for the per-table remaps.
    */
  private def replicate(df: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spine = df.sparkSession.range(factor).select(col("id").as("_rep"))
    df.crossJoin(broadcast(spine))
  }

  /** Writes every table of `src` to `dst`: the corpus tables scaled
    * ×`factor` as above, the TPC-H tables unchanged.
    */
  def generate(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    val t0 = System.nanoTime()

    // idCol uniqueness is asserted on the WRITTEN data: the chained-pass id
    // collision this would have caught (500k rows → 95k distinct doc_ids)
    // produced plausible-looking lane timings and surfaced only on manual
    // inspection.
    // Output layout: the scaled frames descend from a single-file source
    // via a broadcast crossJoin, so a plain write produces ONE part file
    // with ONE parquet row group (90 MB at ×100) — and parquet scan
    // parallelism is per ROW GROUP, so every scan-bound operator in a
    // sweep would run single-task no matter the split count or core count
    // (the "one huge unsplittable file" input-skew case; a real 100 TB
    // corpus arrives as thousands of files). Spread the scaled
    // tables over enough files to scan in parallel: hash by the id column
    // (deterministic — not round-robin, see SPARK-38388) into
    // max(defaultParallelism, sourceBytes·factor / 16 MB) files, capped at
    // 512. Row CONTENT is unchanged; only the file layout moves.
    def layoutParts(name: String): Int = {
      def bytes(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
        else f.length()
      val srcBytes = bytes(new java.io.File(s"$src/$name.parquet"))
      val target = math.ceil(srcBytes.toDouble * factor / (16L << 20)).toLong
      math.max(spark.sparkContext.defaultParallelism.toLong,
        math.min(target, 512L)).toInt
    }
    def write(name: String, df: DataFrame, idCol: Option[String] = None): Unit = {
      val laid = idCol match {
        case Some(c) => df.repartition(layoutParts(name), col(c))
        case None => df
      }
      laid.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      val out = spark.read.parquet(s"$dst/$name.parquet")
      val n = out.count()
      idCol.foreach { c =>
        val distinct = out.select(c).distinct().count()
        require(distinct == n, s"$name.$c not unique after scaling: $distinct distinct of $n rows")
      }
      println(f"[scalegen] $name%-12s rows=$n%-9d -> $dst/$name.parquet")
    }

    write("documents", scaleDocuments(core.Tables.documents(spark, src), factor), Some("doc_id"))
    write("events", scaleEvents(core.Tables.load(spark, src, "events"), factor), Some("event_id"))
    write("embeddings", scaleEmbeddings(core.Tables.embeddings(spark, src), factor), Some("vec_id"))
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach(t => write(t, core.Tables.load(spark, src, t)))

    println(f"[scalegen] done ×$factor from $src in ${(System.nanoTime() - t0) / 1e9}%.1fs")
  }
}
