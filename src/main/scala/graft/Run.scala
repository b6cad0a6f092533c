package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.annotation.tailrec
import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.core.GraftSession

/** The dev runner: every registry tool other than [[Bench]] and
  * [[Verify]], behind one argument parser and one session
  * ([[GraftSession.local]], `SPARK_GRAFT_CPUS` cores).
  *
  * `graft.Run <mode> …`:
  *  - `list` — every registry row name, one per line (the sweep manifest
  *    `tools/sweep_check.py` reads). Builds no session.
  *  - `run <sfDir> [-reps N] [-jobs] [-explain] [-show] [rows…]` — one
  *    line per rep: `[queryrun] <name> rep= rows= <s>s` (the prefix
  *    `tools/scale_ratio.py` parses), then the build / plan / exec split,
  *    jobs, stages, tasks, task seconds, generated classes compiled and
  *    their compile time (JVM-wide, so a warm rep that compiles missed the
  *    codegen cache), `spawns=` (OS processes the JVM started,
  *    [[ProcessSpawns]]) and `rdds=` (live persistent RDDs). Rep 1 is
  *    cold, later reps are warm; a driver GC runs between reps so dead
  *    localCheckpoint blocks do not leak into the next one. `-jobs` adds
  *    one `[job]` line per Spark job; `-explain` and `-show` apply to the
  *    last rep. No rows: the whole registry.
  *  - `plans <sfDir> <outDir> <tag> rows…` — runs each row and writes its
  *    final (post-AQE) formatted plan to `<name>_<tag>.txt`, and its
  *    optimized logical plan to `<name>_<tag>.logical.txt`, with the
  *    JVM's counters masked: expression ids print as `#x`, lambda
  *    variables as `x_n`, function objects as `$$Lambda`, and the
  *    physical plan ids that a cached frame prints as `plan_id=x`. The
  *    post-AQE plan can differ between two runs of the same code; the
  *    logical one does not, whatever ran before it.
  *  - `verify <sfDir> <outDir> <a,b,…>` — [[Verify.dump]] for those rows
  *    only, in the layout `tools/check_correctness.py` reads. A row that
  *    throws fails the run and stays out of the oracle slice.
  *  - `audit <sfDir> [-full]` — the [[ExplainAudit.audit]] sweep; `-full`
  *    prints each flagged plan's tree.
  *  - `stream [-reps N] [cases…]` — times the [[graft.streaming.StreamBench]]
  *    cases with the `run` counters; every micro-batch prints its
  *    `durationMs` split as a `[sprog]` line.
  *  - `scale <src> <dst> <factor>` — [[ScaleGen.generate]].
  *
  * A row or case name not in the registry fails the mode with the list
  * of unknown names. [[run]] returns the exit code: 0, 1 when a row
  * failed, 2 for a usage error.
  */
object Run {

  def main(args: Array[String]): Unit =
    sys.exit(try run(args.toSeq) catch { case e: Throwable => e.printStackTrace(); 1 })

  private val Usage =
    """usage: graft.Run list
      |       graft.Run run <sfDir> [-reps N] [-jobs] [-explain] [-show] [rows…]
      |       graft.Run plans <sfDir> <outDir> <tag> rows…
      |       graft.Run verify <sfDir> <outDir> <a,b,…>
      |       graft.Run audit <sfDir> [-full]
      |       graft.Run stream [-reps N] [cases…]
      |       graft.Run scale <src> <dst> <factor>""".stripMargin

  private final case class Args(pos: Vector[String] = Vector.empty,
                                flags: Set[String] = Set.empty, reps: Int = 1)

  @tailrec private def parse(rest: List[String], a: Args): Either[String, Args] = rest match {
    case "-reps" :: n :: tail if n.toIntOption.exists(_ >= 1) =>
      parse(tail, a.copy(reps = n.toInt))
    case "-reps" :: _ => Left("-reps needs a positive integer")
    case f :: tail if f.startsWith("-") => parse(tail, a.copy(flags = a.flags + f))
    case p :: tail => parse(tail, a.copy(pos = a.pos :+ p))
    case Nil => Right(a)
  }

  private def rowNames = SparkEntry.registry.map(_.name)

  /** Runs the mode `args.head` names; returns the exit code. */
  def run(args: Seq[String]): Int = {
    val (mode, parsed) = (args.headOption.getOrElse(""), parse(args.drop(1).toList, Args()))
    def fail(msg: String): Int = { Console.err.println(s"[run] $msg\n$Usage"); 2 }
    def known(names: Seq[String], all: Seq[String]): Boolean = {
      val unknown = names.filterNot(all.contains)
      if (unknown.nonEmpty) Console.err.println(s"[run] unknown names: ${unknown.mkString(", ")}")
      unknown.isEmpty
    }
    lazy val spark = GraftSession.local()
    (mode, parsed) match {
      case (_, Left(msg)) => fail(msg)
      case (m, Right(a)) if !a.flags.subsetOf(Flags(m)) =>
        fail(s"$m does not take ${(a.flags -- Flags(m)).mkString(" ")}")
      case ("list", Right(Args(Vector(), _, _))) =>
        rowNames.foreach(println); 0
      case ("run", Right(Args(sfDir +: rows, flags, reps))) =>
        if (!known(rows, rowNames)) 2 else { runRows(spark, sfDir, rows, reps, flags); 0 }
      case ("plans", Right(Args(Vector(sfDir, outDir, tag, rows @ _*), _, _))) if rows.nonEmpty =>
        if (!known(rows, rowNames)) 2 else { dumpPlans(spark, sfDir, outDir, tag, rows); 0 }
      case ("verify", Right(Args(Vector(sfDir, outDir, csv), _, _))) =>
        val rows = csv.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        if (rows.isEmpty) fail("verify needs at least one row")
        else if (!known(rows, rowNames)) 2
        else {
          val failed = Verify.dump(spark, sfDir, outDir, rows, "verify", keepFailedOracles = false)
          if (failed.nonEmpty) Console.err.println(s"[verify] FAILED: ${failed.mkString(", ")}")
          if (failed.isEmpty) 0 else 1
        }
      case ("audit", Right(Args(Vector(sfDir), flags, _))) =>
        audit(spark, sfDir, flags("-full")); 0
      case ("stream", Right(Args(cases, _, reps))) =>
        val all = graft.streaming.StreamBench.cases(spark)
        if (!known(cases, all.map(_._1))) 2
        else { runStream(spark, all.filter(c => cases.isEmpty || cases.contains(c._1)), reps); 0 }
      case ("scale", Right(Args(Vector(src, dst, factor), _, _))) if factor.toIntOption.exists(_ >= 1) =>
        ScaleGen.generate(spark, src, dst, factor.toInt); 0
      case _ => fail(s"bad arguments: ${args.mkString(" ")}")
    }
  }

  private val Flags =
    Map("run" -> Set("-jobs", "-explain", "-show"), "audit" -> Set("-full")).withDefaultValue(Set())

  private def runRows(spark: SparkSession, sfDir: String, names: Seq[String],
                      reps: Int, flags: Set[String]): Unit = {
    val rows = SparkEntry.registry.filter(q => names.isEmpty || names.contains(q.name))
    rows.foreach { q =>
      (1 to reps).foreach { rep =>
        val ((df, n, t), counts) = measured(spark, flags("-jobs")) {
          val t0 = System.nanoTime()
          val df = q.fn(spark, sfDir)
          val t1 = System.nanoTime()
          val qe = df.queryExecution
          qe.executedPlan // optimization and physical planning
          val t2 = System.nanoTime()
          // drain the row's own physical plan, as Bench does
          val n = qe.toRdd.count()
          (df, n, Seq(t0, t1, t2, System.nanoTime()))
        }
        val rdds = spark.sparkContext.getPersistentRDDs.size
        def s(a: Int, b: Int) = f"${(t(b) - t(a)) / 1e9}%.3f"
        println(f"[queryrun] ${q.name}%-28s rep=$rep rows=$n%-8d ${(t(3) - t(0)) / 1e9}%.2fs " +
          s"build=${s(0, 1)} plan=${s(1, 2)} exec=${s(2, 3)} $counts rdds=$rdds")
        // ContextCleaner frees dead localCheckpoint blocks only after a driver GC
        System.gc(); Thread.sleep(200)
        if (rep == reps && flags("-show")) df.show(20, truncate = false)
        if (rep == reps && flags("-explain")) df.explain("formatted")
      }
    }
  }

  private def dumpPlans(spark: SparkSession, sfDir: String, outDir: String, tag: String,
                        names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    def write(file: String, text: String): Unit = {
      Files.write(Paths.get(outDir, file), text.getBytes(StandardCharsets.UTF_8))
      println(s"[plans] $outDir/$file")
    }
    names.foreach { name =>
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      qe.toRdd.count() // run, so AQE's final plan exists
      write(s"${name}_$tag.txt", qe.explainString(ExplainMode.fromString("formatted")))
      write(s"${name}_$tag.logical.txt", qe.optimizedPlan.treeString
        .replaceAll("#\\d+", "#x")
        .replaceAll("(lambda \\w+?)_\\d+", "$1_n")
        .replaceAll("plan_id=\\d+", "plan_id=x")
        .replaceAll("\\$\\$Lambda(\\$\\d+)?/0x\\p{XDigit}+@\\p{XDigit}+", "\\$\\$Lambda"))
    }
  }

  private def audit(spark: SparkSession, sfDir: String, full: Boolean): Unit = {
    val flagged = ExplainAudit.audit(spark, sfDir)
    flagged.foreach { case (name, notes, tree) =>
      println(s"[audit] $name:" + (if (ExplainAudit.exempt(name)) " (exempt)" else ""))
      notes.foreach(n => println(s"[audit]     $n"))
      if (full) println(tree.take(4000))
    }
    println(s"[audit] done: ${flagged.size} plans flagged " +
      s"(${flagged.count(f => !ExplainAudit.exempt(f._1))} unexempted)")
  }

  private def runStream(spark: SparkSession, cases: Seq[(String, () => Unit)], reps: Int): Unit = {
    @volatile var current = ""
    val progress = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        println(s"[sprog] $current batch=${e.progress.batchId} durationMs=${e.progress.durationMs}")
    }
    spark.streams.addListener(progress)
    try cases.foreach { case (name, drain) =>
      current = name
      (1 to reps).foreach { rep =>
        val (sec, counts) = measured(spark, perJob = false) {
          val t0 = System.nanoTime()
          drain()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[stream] $name%-28s rep=$rep $sec%.2fs $counts")
        System.gc(); Thread.sleep(200)
      }
    } finally spark.streams.removeListener(progress)
  }

  /** `body`'s result, and the Spark work, generated-class compiles and
    * process spawns it caused as `key=value` fields.
    */
  private def measured[A](spark: SparkSession, perJob: Boolean)(body: => A): (A, String) = {
    val work = new Work(perJob)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val spawns = new ProcessSpawns
    spark.sparkContext.addSparkListener(work)
    // the listener bus delivers asynchronously: let it drain first
    val a = try body finally { Thread.sleep(150); spark.sparkContext.removeSparkListener(work) }
    (a, s"jobs=${work.jobs.get} stages=${work.stages.get} tasks=${work.tasks.get} " +
      s"taskSec=${work.taskMs.get / 1000.0} " +
      s"compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0} " +
      f"compileMs=${(CodeGenerator.compileTime - compileNs0) / 1e6}%.0f " +
      s"spawns=${spawns.stop().size}")
  }

  /** Jobs, stages, tasks and task time; with `perJob`, one `[job]` line
    * per finished job with its task-time split.
    */
  private final class Work(perJob: Boolean) extends SparkListener {
    val jobs, stages, tasks, taskMs = new AtomicLong

    private final class Job(val desc: String) {
      val t0: Long = System.nanoTime()
      var tasks = 0
      var taskMs, runMs, gcMs, deserMs = 0L
    }
    // touched only from the listener bus thread; one instance per measurement
    private val open = mutable.Map.empty[Int, Job]
    private val byStage = mutable.Map.empty[Int, Job]
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      if (perJob) {
        def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
        val job = new Job(s"${prop("callSite.short")} | ${prop("spark.job.description")}")
        open(j.jobId) = job
        j.stageIds.foreach(byStage(_) = job)
      }
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      open.remove(j.jobId).foreach { job =>
        println(f"[job] id=${j.jobId}%-4d wall=${(System.nanoTime() - job.t0) / 1e9}%6.2fs " +
          f"tasks=${job.tasks}%-4d taskSec=${job.taskMs / 1000.0}%7.2f " +
          f"run=${job.runMs / 1000.0}%.2f gc=${job.gcMs / 1000.0}%.2f " +
          f"deser=${job.deserMs / 1000.0}%.2f " +
          f"sched=${(job.taskMs - job.runMs - job.deserMs) / 1000.0}%.2f  ${job.desc}")
      }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null) {
        taskMs.addAndGet(t.taskInfo.duration)
        byStage.get(t.stageId).foreach { job =>
          job.tasks += 1
          job.taskMs += t.taskInfo.duration
          Option(t.taskMetrics).foreach { m =>
            job.runMs += m.executorRunTime
            job.gcMs += m.jvmGCTime
            job.deserMs += m.executorDeserializeTime
          }
        }
      }
  }
}
