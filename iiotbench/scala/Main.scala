package iiotbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

final case class Check(name: String, ok: Boolean, detail: String)

/** What one timed pass produced: the input rows it consumed, the checks
  * of its output (run after the timer stops, before its stored frames are
  * released), and the operations it attempted (a pass, or one micro-batch
  * each for the stream workload).
  */
final case class PassOut(rows: Long, verify: () => Seq[Check], ops: Long = 1L,
                         extra: Map[String, Double] = Map.empty)

final case class PassRec(index: Int, traced: Boolean, warmup: Boolean, wallS: Double, cpuS: Double,
                         heapMb: Double, out: PassOut, checks: Seq[Check]) {
  def ok: Boolean = checks.forall(_.ok)
}

trait Workload {
  def name: String
  /** Makes the inputs under `dir` from `seed`; not part of any timing. */
  def generate(dir: File, seed: Long): Unit
  /** Measured input properties, recorded next to the metrics. */
  def inputs: Map[String, Any]
  def digest: String
  /** Untimed per-session preparation (fitting a threshold, staging files). */
  def prepare(spark: SparkSession): Unit = ()
  def pass(spark: SparkSession): PassOut
  /** Untimed checks against an independent batch recomputation, run once. */
  def deepChecks(spark: SparkSession): Seq[Check] = Nil
  /** Passes after the cold one that only warm up: checked, not reported. */
  def warmupPasses: Int = 0
  /** Untimed extra phase run before the traced passes (the stream's open loop). */
  def extraPhase(spark: SparkSession, seconds: Double): Map[String, Any] = Map.empty
}

/** Minimal JSON writer for the raw result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}

/** Entry point. Arguments:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>`
  * and `--digest` to print only the input digest (the determinism test).
  */
object Main {
  val SetupReps = 5
  /** Warm passes a run makes at least, whatever `--seconds` says. */
  val MinWarm = 1

  def workloadFor(name: String): Workload = name match {
    case "iiot_batch" => new IiotBatch
    case "iiot_stream" => new IiotStream
    case "corpus_dedup" => new CorpusDedup
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = workloadFor(args("workload"))
    val seed = args("seed").toLong
    val work = new File(args("work"))
    work.mkdirs()
    val dataDir = new File(work, "data")
    val t0 = System.nanoTime()
    w.generate(dataDir, seed)
    val genS = (System.nanoTime() - t0) / 1e9
    if (args.get("digest").contains("1")) {
      println(s"digest ${w.digest}")
      return
    }
    val r = run(w, seed, args("seconds").toDouble, args("trace") == "1", work, genS)
    val out = new java.io.PrintWriter(new File(args("out")), "UTF-8")
    try out.write(Json(r)) finally out.close()
  }

  def newSession(cores: Int, work: File): SparkSession = {
    val s = GraftSession.configure(SparkSession.builder()
        .master(s"local[$cores]")
        .appName("iiotbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.extensions", "graft.functions.GraftExtensions")
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sql("SELECT fft_magnitude(array(1.0D, 2.0D, 3.0D, 4.0D))").collect()
    s
  }

  /** Session start, extension registration and the first trivial query,
    * `SetupReps` times in this JVM, each as (wall, CPU) seconds; the last
    * session is kept.
    */
  def setup(cores: Int, work: File): (SparkSession, Seq[(Double, Double)]) = {
    var s: SparkSession = null
    val times = (1 to SetupReps).map { _ =>
      if (s != null) {
        s.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val cpu0 = processCpuS()
      val t = System.nanoTime()
      s = newSession(cores, work)
      ((System.nanoTime() - t) / 1e9, processCpuS() - cpu0)
    }
    (s, times)
  }

  /** CPU time of this JVM, all threads, in seconds. */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Heap in use after a full collection, in MB. */
  def heapAfterGc(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def run(w: Workload, seed: Long, seconds: Double, trace: Boolean, work: File,
          genS: Double): Map[String, Any] = {
    val cores = Runtime.getRuntime.availableProcessors()
    val (spark, setupS) = setup(cores, work)
    w.prepare(spark)
    val passes = mutable.ArrayBuffer.empty[PassRec]

    def onePass(traced: Boolean, warmup: Boolean = false): PassRec = {
      Tracer.pass = passes.size
      val cpu0 = processCpuS()
      val t = System.nanoTime()
      val out =
        try Tracer.span("bench", "pass")(w.pass(spark))
        catch {
          case e: Exception =>
            System.err.println(s"pass ${passes.size} failed: $e")
            e.printStackTrace()
            PassOut(0, () => Seq(Check("pass completes", ok = false, e.toString)))
        }
      val wall = (System.nanoTime() - t) / 1e9
      val cpu = processCpuS() - cpu0
      val heap = heapAfterGc()
      val checks = try out.verify() catch {
        case e: Exception => Seq(Check("checks complete", ok = false, e.toString))
      }
      Tracer.release()
      val rec = PassRec(passes.size, traced, warmup, wall, cpu, heap, out, checks)
      passes += rec
      System.err.println(f"[iiotbench] pass ${rec.index}%d traced=$traced wall=$wall%.3f s cpu=$cpu%.3f s ok=${rec.ok}")
      rec
    }

    /** Passes until `budget` seconds have gone, with at least `min`. */
    def loop(traced: Boolean, budget: Double, min: Int): Unit = {
      val t = System.nanoTime()
      var n = 0
      while (n < min || (System.nanoTime() - t) / 1e9 < budget) { onePass(traced); n += 1 }
    }

    onePass(traced = false) // cold: the first pass in this JVM
    (1 to w.warmupPasses).foreach(_ => onePass(traced = false, warmup = true))
    // warm passes for `seconds`; a traced run compares its traced passes
    // with untraced ones made after them
    if (!trace) loop(traced = false, seconds, min = MinWarm)

    var extra: Map[String, Any] = Map.empty
    val progress = new ProgressListener
    val workListener = new WorkListener
    if (trace) {
      extra = w.extraPhase(spark, math.max(8.0, seconds))
      spark.sparkContext.addSparkListener(workListener)
      spark.streams.addListener(progress)
      val warns = WarnCounter.install()
      Tracer.start(spark)
      loop(traced = true, seconds / 2, min = MinWarm)
      Tracer.stop()
      // as many untraced passes again, as warm as the traced ones: the
      // trace overhead compares these two groups
      val nTraced = passes.count(_.traced)
      (1 to nTraced).foreach(_ => onePass(traced = false))
      org.apache.spark.iiotbenchbridge.BusDrain(spark.sparkContext)
      WarnCounter.uninstall(warns)
      spark.streams.removeListener(progress)
      spark.sparkContext.removeSparkListener(workListener)
    }

    val deep = try w.deepChecks(spark) catch {
      case e: Exception =>
        e.printStackTrace()
        Seq(Check("deep checks complete", ok = false, e.toString))
    }
    val sparkVersion = spark.version
    spark.stop()

    import scala.jdk.CollectionConverters._
    Map(
      "workload" -> w.name, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "env" -> Map("java" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString, "spark" -> sparkVersion,
        "nproc" -> cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576),
      "inputs" -> w.inputs, "digest" -> w.digest, "gen_s" -> genS,
      "setup_wall_s" -> setupS.map(_._1), "setup_cpu_s" -> setupS.map(_._2),
      "passes" -> passes.map(p => Map("index" -> p.index, "traced" -> p.traced, "warmup" -> p.warmup,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "heap_mb" -> p.heapMb, "rows" -> p.out.rows, "ops" -> p.out.ops,
        "ok" -> p.ok, "extra" -> p.out.extra,
        "failed_checks" -> p.checks.filterNot(_.ok).map(c => Map("name" -> c.name, "detail" -> c.detail)))),
      "pass_checks" -> passes.headOption.toSeq.flatMap(_.checks)
        .map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "checks" -> deep.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "extra_phase" -> extra,
      "spans" -> Tracer.spans.map(s => Seq(s.id, s.parent, s.pass, s.layer, s.name,
        s.startNs, s.endNs, s.thread)),
      "work" -> Tracer.work.asScala.map { case (id, x) => id.toString -> Seq(x.jobs, x.tasks,
        x.taskMs, x.deserMs, x.gcMs, x.schedMs, x.shuffleBytes, x.spillBytes, x.warns) },
      "batches" -> progress.batches.asScala.toSeq.map(b => Map("query" -> b.query,
        "batch" -> b.batchId, "rows" -> b.inputRows, "durations" -> b.durations,
        "state_rows" -> b.stateRows, "state_mem_bytes" -> b.stateMemBytes,
        "state_commit_ms" -> b.stateCommitMs)),
      "warn_messages" -> Tracer.warnMessages.asScala.map { case (k, v) => k -> v.sum() })
  }
}
