package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.sys.process.{Process, ProcessLogger}

import org.apache.spark.sql.SparkSession

/** `graft.Run`, driven in-process through [[Run.run]] on the shared test
  * session: the list, run, plans and verify modes, and the exit codes of
  * bad arguments.
  */
class RunSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private lazy val tmp: Path = Files.createTempDirectory("graft-run-spec")

  /** Exit code, stdout and stderr of one `Run.run`. The runner points the
    * shared session at `SPARK_GRAFT_CPUS` shuffle partitions and WARN
    * logging; both are put back for the specs that follow.
    */
  private def run(args: String*): (Int, String, String) = {
    val (out, err) = (new ByteArrayOutputStream, new ByteArrayOutputStream)
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val code =
      try Console.withOut(out)(Console.withErr(err)(Run.run(args)))
      finally { spark.conf.set(key, saved); spark.sparkContext.setLogLevel("ERROR") }
    (code, out.toString(UTF_8), err.toString(UTF_8))
  }

  override def afterAll(): Unit = {
    if (Files.exists(tmp)) {
      val tree = Files.walk(tmp)
      try tree.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally tree.close()
    }
    super.afterAll()
  }

  test("list prints the registry row names, one per line") {
    val (code, out, _) = run("list")
    assert(code == 0)
    assert(out == SparkEntry.registry.map(_.name).map(_ + "\n").mkString)
  }

  test("run prints a per-rep line that tools/scale_ratio.py parses") {
    val (code, out, _) = run("run", sf, "-reps", "2", "q5_revenue_by_nation")
    assert(code == 0)
    val lines = out.linesIterator.filter(_.startsWith("[queryrun]")).toSeq
    assert(lines.size == 2, out)
    Seq("build=", "plan=", "exec=", "jobs=", "stages=", "tasks=", "taskSec=",
      "compiles=", "compileMs=", "spawns=", "rdds=").foreach { field =>
      assert(lines.forall(_.contains(field)), s"$field missing: $lines")
    }
    val log = tmp.resolve("run.log")
    Files.writeString(log, out)
    val parsed = Process(Seq("python3", "-c",
      "import sys; sys.path.insert(0, 'tools'); import scale_ratio; " +
        "print(scale_ratio.parse(sys.argv[1]))", log.toString)).!!(ProcessLogger(_ => ()))
    val rows = SparkEntry.queries("q5_revenue_by_nation")(spark, sf).count()
    assert(parsed.trim.matches(
      s"\\{'q5_revenue_by_nation': \\{'rows': $rows, 'sec': [\\d.]+, 'rep': 2\\}\\}"), parsed)
  }

  test("unknown row names and bad arguments give a non-zero exit code") {
    Seq(
      Seq("run", sf, "q5_revenue_by_nation", "no_such_row"),
      Seq("plans", sf, tmp.toString, "t", "no_such_row"),
      Seq("verify", sf, tmp.resolve("v0").toString, "q5_revenue_by_nation,no_such_row")
    ).foreach { args =>
      val (code, out, err) = run(args: _*)
      assert(code == 2, args)
      assert(err.contains("unknown names: no_such_row"), err)
      assert(!out.contains("[queryrun]"), out)
    }
    assert(!Files.exists(tmp.resolve("v0")))
    Seq(Seq(), Seq("nope"), Seq("list", "-full"), Seq("run", sf, "-reps", "0"),
      Seq("audit"), Seq("scale", "a", "b", "x")).foreach { args =>
      assert(run(args: _*)._1 == 2, args)
    }
  }

  test("verify writes the Verify.dump layout for the named rows") {
    val rows = Seq("q5_revenue_by_nation", "p1_projection")
    val dir = tmp.resolve("verify")
    assert(run("verify", sf, dir.toString, rows.mkString(","))._1 == 0)
    rows.foreach { r =>
      assert(spark.read.parquet(dir.resolve(r).toString).count() ==
        SparkEntry.queries(r)(spark, sf).count())
    }
    val keys = Process(Seq("python3", "-c",
      "import json, sys; print(','.join(sorted(json.load(open(sys.argv[1])))))",
      dir.resolve("oracle_sql.json").toString)).!!.trim
    assert(keys == rows.sorted.mkString(","))
  }

  test("plans writes a logical plan that two runs give byte for byte") {
    val row = "x_knn_join_collapsed"
    Seq("a", "b").foreach(tag => assert(run("plans", sf, tmp.toString, tag, row)._1 == 0))
    def bytes(f: String) = Files.readAllBytes(tmp.resolve(f))
    val (a, b) = (bytes(s"${row}_a.logical.txt"), bytes(s"${row}_b.logical.txt"))
    assert(a.nonEmpty && !new String(a, UTF_8).matches("(?s).*#\\d.*"))
    assert(a.sameElements(b))
    assert(bytes(s"${row}_a.txt").nonEmpty)
  }

  test("an IVF broadcast row's logical plan does not depend on the rows run before it") {
    val row = "x_ivf_pq_recall"
    assert(run("plans", sf, tmp.toString, "alone", row)._1 == 0)
    assert(run("plans", sf, tmp.toString, "after", "x_knn_join_collapsed", row)._1 == 0)
    def bytes(tag: String) = Files.readAllBytes(tmp.resolve(s"${row}_$tag.logical.txt"))
    assert(bytes("alone").nonEmpty)
    assert(bytes("alone").sameElements(bytes("after")),
      new String(bytes("alone"), UTF_8) + "\n---\n" + new String(bytes("after"), UTF_8))
  }

  test("a memoized row's logical plan does not depend on the rows run before it") {
    // each dump runs in a fresh session, so the memoized candidates are
    // rebuilt after a different predecessor and their cached physical
    // plan prints other plan ids
    val row = "x_jaccard_verify"
    Seq("a" -> "w13_cumsum", "b" -> "x_random_projection").foreach { case (tag, before) =>
      SparkSession.setActiveSession(spark.newSession())
      try assert(run("plans", sf, tmp.toString, tag, before, row)._1 == 0)
      finally SparkSession.setActiveSession(spark)
    }
    def bytes(tag: String) = Files.readAllBytes(tmp.resolve(s"${row}_$tag.logical.txt"))
    assert(new String(bytes("a"), UTF_8).contains("plan_id=x"))
    assert(bytes("a").sameElements(bytes("b")),
      new String(bytes("a"), UTF_8) + "\n---\n" + new String(bytes("b"), UTF_8))
  }
}
