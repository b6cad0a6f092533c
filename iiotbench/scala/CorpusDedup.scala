package iiotbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity, TextAnalysis}

import Tracer.{keep, mat, span}

/** The LLM-data lane, closed loop. Build: quality filter → PII redaction
  * → exact dedup → MinHash candidates → Jaccard verify → clusters →
  * canonical picks, plus semantic dedup of the vectors, then the stored
  * artifacts (seen-hash table and bloom, duplicated-gram table, IVF
  * quantizer). Probe: incremental batches checked against those
  * artifacts only.
  */
final class CorpusDedup extends Workload {
  val name = "corpus_dedup"
  val Docs = 2000
  val Vecs = 2000
  val Probes = 1
  val ProbeDocs = 200
  val JaccardMin = 0.5
  val CosMin = 0.99
  val GramK = 6
  val Nlist = 32
  val RecallFloor = 0.9

  private var corpus: Corpus = _
  private var dir: File = _

  def generate(d: File, seed: Long): Unit = {
    dir = d
    corpus = CorpusGen.generate(seed, Docs, Vecs, Probes, ProbeDocs)
  }

  def digest: String = corpus.digest

  def inputs: Map[String, Any] = {
    val exactCopies = corpus.exactGroups.map(_.size - 1).sum
    Map("docs" -> corpus.docs.size, "bytes" -> corpus.bytes,
      "exact_dup_share" -> exactCopies.toDouble / corpus.docs.size,
      "near_dup_share" -> corpus.nearPairs.size.toDouble / corpus.docs.size,
      "vectors" -> corpus.vecs.size, "dim" -> CorpusGen.Dim,
      "twin_vector_share" -> corpus.twinPairs.size.toDouble / corpus.vecs.size,
      "probe_batches" -> Probes, "probe_docs" -> ProbeDocs)
  }

  private def path(n: String) = new File(dir, n).getPath

  /** Stages the generated corpus as parquet: the pass reads files, as a
    * pipeline over a stored corpus would.
    */
  override def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    nearTruth.size
    corpus.docs.toDF("doc_id", "text").repartition(4).write.mode("overwrite").parquet(path("docs"))
    corpus.vecs.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
      .repartition(4).write.mode("overwrite").parquet(path("vecs"))
    corpus.probes.zipWithIndex.foreach { case (p, b) =>
      p.docs.toDF("doc_id", "text").write.mode("overwrite").parquet(path(s"probe_docs_$b"))
      p.vecs.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(path(s"probe_vecs_$b"))
    }
  }

  def pass(spark: SparkSession): PassOut = {
    val tb = System.nanoTime()
    val built = span("bench", "build")(build(spark))
    val tp = System.nanoTime()
    val probes = span("bench", "probe")(probe(spark, built))
    val te = System.nanoTime()
    PassOut(corpus.docs.size + corpus.vecs.size, () => built.checks() ++ probes._2(),
      extra = built.extra ++ probes._1 ++ Map("ext.build_s" -> (tp - tb) / 1e9,
        "ext.probe_s" -> (te - tp) / 1e9))
  }

  final case class Built(seen: DataFrame, bloom: org.apache.spark.util.sketch.BloomFilter,
                         grams: DataFrame, quant: DataFrame, checks: () => Seq[Check],
                         extra: Map[String, Double])

  def build(spark: SparkSession): Built = {
    val docs = spark.read.parquet(path("docs"))
    val vecs = spark.read.parquet(path("vecs"))
    val red = span("ext.text", "qualityFilter/redactPii") {
      val q = mat(TextAnalysis.qualityFilter(docs, "text").filter(col("keep")))
      keep(TextAnalysis.redactPii(q.select("doc_id", "text", "n_tokens"), "text")
        .select(col("doc_id"), col("redacted").as("text"), col("n_tokens")))
    }
    val ex = span("ext.dedup", "exact")(keep(Dedup.exact(red, "doc_id", "text")))
    val uniq = keep(red.join(ex.select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi"))
    val cand = span("ext.dedup", "minhashCandidates")(mat(Dedup.minhashCandidates(uniq, "doc_id", "text")))
    val ver = span("ext.dedup", "jaccardVerify") {
      keep(Dedup.jaccardVerify(cand, uniq, "doc_id", "text").filter(col("jaccard") >= JaccardMin))
    }
    val clusters = span("ext.dedup", "duplicateClusters")(keep(Dedup.duplicateClusters(ver.select("id1", "id2"))))
    val canon = span("ext.dedup", "canonicalPerCluster") {
      mat(Dedup.canonicalPerCluster(clusters, "id", "cluster", red, "doc_id", "n_tokens"))
    }
    val sem = span("ext.similarity", "semanticDedupCollapsed") {
      mat(Similarity.semanticDedupCollapsed(vecs, "vec_id", "embedding", CorpusGen.Dim, CosMin))
    }
    span("ext.dedup", "store seen hashes") {
      ex.select("content_hash").write.mode("overwrite").parquet(path("art_seen"))
    }
    val seen = spark.read.parquet(path("art_seen"))
    val bloom = span("ext.dedup", "seenBloom")(Dedup.seenBloom(seen, "content_hash", Docs.toLong))
    span("ext.dedup", "dupGramTable") {
      Dedup.dupGramTable(uniq, "doc_id", "text", GramK).write.mode("overwrite").parquet(path("art_grams"))
    }
    span("ext.similarity", "ivfQuantizerRows") {
      Similarity.ivfPinnedQuantizerRows(vecs, "vec_id", "embedding", Nlist)
        .write.mode("overwrite").parquet(path("art_quant"))
    }

    val kept = red.select("doc_id").collect().map(_.getLong(0)).toSet
    val exRows = ex.select("keep_id", "copies").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val verRows = ver.select("id1", "id2", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val clusterOf = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nCanon = canon.count()
    val semEdges = sem.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    Built(seen, bloom, spark.read.parquet(path("art_grams")), spark.read.parquet(path("art_quant")),
      () => verify(kept, exRows, verRows, clusterOf, nCanon, semEdges),
      Map("ext.dedup.verified_pairs" -> verRows.length.toDouble,
        "ext.dedup.recall" -> { val (f, t) = recall(kept, clusterOf); if (t == 0) 1.0 else f.toDouble / t },
        "ext.similarity.pairs_out" -> semEdges.length.toDouble) ++
        (if (Tracer.enabled) Map("ext.dedup.candidate_pairs" -> cand.count().toDouble) else Map.empty))
  }

  /** Planted near-duplicate pairs whose true Jaccard meets the threshold,
    * each side mapped to the document its exact-duplicate group keeps.
    */
  private lazy val nearTruth: Seq[(Long, Long)] = {
    val text = corpus.docs.toMap
    val keepOf = corpus.exactGroups.flatMap(g => g.map(_ -> g.head)).toMap.withDefault(identity[Long])
    corpus.nearPairs.map { case (a, b) => (keepOf(a), keepOf(b)) }
      .filter { case (a, b) => a != b && CorpusGen.jaccard(text(a), text(b)) >= JaccardMin }
  }

  /** (found, planted): planted pairs with both sides kept by the quality
    * filter, and how many of them share a duplicate cluster.
    */
  private def recall(kept: Set[Long], clusterOf: Map[Long, Long]): (Int, Int) = {
    val truth = nearTruth.filter { case (a, b) => kept(a) && kept(b) }
    (truth.count { case (a, b) => clusterOf.get(a).exists(c => clusterOf.get(b).contains(c)) }, truth.size)
  }

  private def verify(kept: Set[Long], exRows: Map[Long, Long], verRows: Seq[(Long, Long, Double)],
                     clusterOf: Map[Long, Long], nCanon: Long,
                     semEdges: Seq[(Long, Long)]): Seq[Check] = {
    val text = corpus.docs.toMap
    val redacted = (id: Long) => text(id).replaceAll(TextAnalysis.EmailRe, "<EMAIL>")
      .replaceAll(TextAnalysis.Ipv4Re, "<IP>").replaceAll(TextAnalysis.PhoneRe, "<PHONE>")
    val badJaccard = verRows.count { case (a, b, j) =>
      val t = CorpusGen.jaccard(redacted(a), redacted(b))
      t < JaccardMin || math.abs(t - j) > 1e-9
    }
    val groups = corpus.exactGroups.filter(_.forall(kept))
    val badGroups = groups.count(g => !exRows.get(g.head).contains(g.size.toLong) || g.tail.exists(exRows.contains))
    val distinct = kept.toSeq.map(text).distinct.size
    val (found, truth) = recall(kept, clusterOf)
    val recallShare = if (truth == 0) 1.0 else found.toDouble / truth
    val comp = Stats.components(semEdges)
    val missedTwins = corpus.twinPairs.count { case (a, b) =>
      comp.get(a).forall(ca => !comp.get(b).contains(ca))
    }
    val checks = Seq(
      Check("exact keeps one document per planted group", badGroups == 0 && exRows.size == distinct,
        s"${groups.size} groups, $badGroups wrong; ${exRows.size} kept of $distinct distinct"),
      Check(s"near-dup recall >= $RecallFloor", recallShare >= RecallFloor,
        f"$found of $truth planted pairs ($recallShare%.4f)"),
      Check("verified pairs meet the Jaccard threshold on recomputation", badJaccard == 0,
        s"$badJaccard of ${verRows.length} pairs"),
      Check("every planted twin vector pair connected", missedTwins == 0,
        s"$missedTwins of ${corpus.twinPairs.size} missed"),
      Check("canonical per cluster", nCanon == clusterOf.values.toSet.size,
        s"$nCanon canonical, ${clusterOf.values.toSet.size} clusters"))
    checks
  }

  def probe(spark: SparkSession, b: Built): (Map[String, Double], () => Seq[Check]) = {
    var dropped = 0L
    var knnRows = 0L
    val survivors = corpus.probes.indices.map { i =>
      val batch = corpus.probes(i)
      val bd = spark.read.parquet(path(s"probe_docs_$i"))
      val bv = spark.read.parquet(path(s"probe_vecs_$i"))
      val surv = span("ext.dedup", "exactIncrementalBloom") {
        Dedup.exactIncrementalBloom(bd, "doc_id", "text", b.seen, b.bloom)
          .select("doc_id").collect().map(_.getLong(0)).toSet
      }
      dropped += span("ext.dedup", "scrubFromStored") {
        Dedup.scrubFromStored(bd, "doc_id", "text", GramK, b.grams).agg(sum("n_dropped")).head().getLong(0)
      }
      knnRows += span("ext.similarity", "ivfKnnJoinFromStored") {
        Similarity.ivfKnnJoinFromStored(bv, "vec_id", "embedding", b.quant, nprobe = 2, k = 3).count()
      }
      surv
    }
    val checks = () => survivors.zip(corpus.probes).zipWithIndex.map { case ((surv, batch), i) =>
      val expect = batch.docs.map(_._1).toSet -- batch.copied
      Check(s"probe $i flags exactly the copied documents", surv == expect,
        s"${batch.docs.size - surv.size} flagged, ${batch.copied.size} copied")
    }
    (Map("ext.dedup.scrubbed_tokens" -> dropped.toDouble, "ext.similarity.knn_rows" -> knnRows.toDouble),
      checks)
  }
}
