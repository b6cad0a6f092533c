package graft

import java.nio.file.{Files, Path}

import scala.sys.process.{Process, ProcessLogger}

/** The DuckDB oracle gate for the sign-bucket and IVF families, inside
  * the test suite: every oracle-bearing row of the two families, plus the
  * two rows that share their JL projection, is dumped on sf0.001 through
  * [[Verify.dump]] (the path `graft.Verify` takes) and compared by
  * `tools/check_correctness.py`. One test per row, so a failure names the
  * row. Without `duckdb`, `pandas` and `numpy` for `python3` the row
  * tests cancel.
  */
class OracleGateSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** The oracle-bearing rows of the two families, read from the registry
    * in its order, so no row of either family is left out of the gate.
    */
  private val rows = SparkEntry.registry.map(_.name).filter { n =>
    SparkEntry.oracleSql.contains(n) &&
      (Seq("x_semantic_dedup", "x_knn_join", "x_ivf_").exists(n.startsWith) ||
        n == "x_random_projection" || n == "xs_stream_semantic_pairs")
  }

  /** The checker needs all three modules. */
  private lazy val checkerDeps =
    Process(Seq("python3", "-c", "import duckdb, pandas, numpy")).!(ProcessLogger(_ => ())) == 0

  private lazy val out: Path = Files.createTempDirectory("graft-oracle-gate")

  /** Row → the checker's verdict ("OK" or its failure text). */
  private lazy val verdicts: Map[String, String] = {
    Verify.dump(spark, sf, out.toString, rows, "oracle-gate", keepFailedOracles = true)
    val lines = Seq.newBuilder[String]
    Process(Seq("python3", "tools/check_correctness.py", sf, out.toString,
      "--only", rows.mkString(","))).!(ProcessLogger(lines += _, System.err.println(_)))
    lines.result().collect {
      case l if l.startsWith("OK ") => l.drop(3).trim -> "OK"
      case l if l.startsWith("FAIL ") =>
        val (name, why) = l.drop(5).span(_ != ' ')
        name -> why.stripPrefix(" :: ")
    }.toMap
  }

  override def afterAll(): Unit = {
    if (Files.exists(out)) {
      val tree = Files.walk(out)
      try tree.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally tree.close()
    }
    super.afterAll()
  }

  test("the registry has 227 distinct row names") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 227)
    assert(names.distinct.size == names.size)
  }

  test("the gate covers the 25 oracle rows of the two families") {
    assert(rows.size == 25, rows.mkString(", "))
  }

  rows.foreach { row =>
    test(s"$row matches its DuckDB oracle on sf0.001") {
      assume(checkerDeps, "python3 cannot import duckdb, pandas and numpy")
      assert(verdicts.get(row).contains("OK"), s"$row: ${verdicts.getOrElse(row, "not checked")}")
    }
  }
}
