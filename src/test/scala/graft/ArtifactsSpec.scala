package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.core.{Artifacts, Tables}

/** Session artifacts: a new session frees what an old one built, sf
  * dirs that sanitize alike never share a stored table or scratch path,
  * and scratch files live under the one per-process root.
  */
class ArtifactsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("a new session frees the old session's artifacts across families") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists())
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val queries = SparkEntry.queries
    val a = spark.newSession()
    val beforeA = persisted
    // an IVF index (cached frame), MinHash candidates (cached frame) and
    // duplicate clusters (a projected checkpoint)
    Seq("x_ann_ivf", "x_jaccard_verify", "x_dedup_clusters")
      .foreach(n => queries(n)(a, sf).collect())
    val builtByA = persisted -- beforeA
    assert(builtByA.size >= 3, s"session A persisted only $builtByA")
    // B touches none of A's families
    queries("x_bpe_subwords_100")(spark.newSession(), sf).collect()
    val leaked = builtByA intersect persisted
    assert(leaked.isEmpty, s"RDDs of the old session still persisted: $leaked")
  }

  test("sf dirs that sanitize alike keep their own stored tables and scratch files") {
    val names = Seq("sf0.01", "sf0_01", "sf-1", "sf_1").map(Artifacts.dirName)
    assert(names.distinct.size == names.size, names.mkString(", "))
    assert(names.forall(_.matches("[a-zA-Z0-9_]+")), names.mkString(", "))
    // two sf dirs whose names alias under the sanitizing alone
    val root = Files.createTempDirectory("graft-artifacts")
    try Seq("sf0.001" -> "sf-x", "sf0.01" -> "sf_x").foreach { case (src, name) =>
      val from = Paths.get(s"/root/testdata/$src/lineitem.parquet")
      assume(Files.exists(from))
      val d = Files.createDirectories(root.resolve(name)).toString
      Files.copy(from, Paths.get(d, "lineitem.parquet"))
      val perFlag = SparkEntry.queries("s4_directory_scan")(spark, d).collect().map(_.getLong(1))
      val rows = Tables.lineitem(spark, d).count()
      assert(perFlag.sum == rows, s"$d: scan counted ${perFlag.sum} rows, lineitem has $rows")
    } finally {
      // the copies and the scan's scratch files (named by dirName)
      val scratch = Seq("sf-x", "sf_x").map(n => Paths.get(Tables.scratchRoot,
        Artifacts.dirName(root.resolve(n).toString)))
      (root +: scratch).filter(Files.exists(_)).foreach { dir =>
        Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(p => Files.delete(p))
      }
    }
  }

  test("round-trip scratch and the events idx share the per-process scratch root") {
    assume(new java.io.File(s"$sf/lineitem.parquet").exists())
    SparkEntry.queries("s1_csv_roundtrip")(spark, sf).collect()
    Tables.eventsIdx(spark, sf)
    val dir = Paths.get(Tables.scratchRoot, Artifacts.dirName(sf))
    assert(Tables.scratchRoot == s"/tmp/graft_scratch/${ProcessHandle.current().pid()}")
    assert(Files.isDirectory(dir.resolve("s1")), s"no s1 scratch under $dir")
    assert(Files.isDirectory(dir.resolve("events_idx")), s"no events_idx under $dir")
  }
}
