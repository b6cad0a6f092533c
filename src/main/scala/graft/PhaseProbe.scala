package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Dev tool (r16 optimization round): split a registry row's wall time
  * into build (DataFrame construction + analysis), plan (optimization +
  * physical planning + codegen lookup, forced via `executedPlan`), and
  * exec (toRdd.count — the Bench-timed action minus the planning that
  * toRdd would otherwise fold in). At sf0.1 the corpus is 17 MB, so the
  * driver bench prices fixed per-query costs as much as operator work —
  * this probe says which fixed cost a slow row is paying. Each rep also
  * prints the generated classes it compiled and their compile time
  * (JVM-wide, so executor-side compiles count too): a warm rep that
  * still compiles means the row's classes missed the codegen cache.
  *
  * `runMain graft.PhaseProbe <sfDir> [-reps N] q1 q2 ...`
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.filterNot(_.startsWith("-"))
      .getOrElse("/root/testdata/sf0.1")
    val reps = args.sliding(2).collectFirst {
      case Array("-reps", n) if n.forall(_.isDigit) => n.toInt
    }.getOrElse(3)
    val flags = args.filter(_.startsWith("-")).toSet
    val repsValueIdx = args.zipWithIndex.collect { case ("-reps", i) => i + 1 }.toSet
    val names = args.zipWithIndex.drop(1)
      .filterNot { case (a, i) => a.startsWith("-") || repsValueIdx(i) }
      .map(_._1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs = if (names.isEmpty) SparkEntry.registry
             else SparkEntry.registry.filter(q => names.contains(q.name))
    // per-rep job/stage/task counters — says whether a slow row is
    // paying many driver-synchronous passes or a few expensive ones
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val perJob = flags("-jobs")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobTaskMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    val jobTasks = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicInteger]()
    val jobRunMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    val jobGcMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    val jobDeserMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    val jobSchedMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    def acc(m: java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong],
            jid: Int, v: Long): Unit =
      m.computeIfAbsent(jid, _ => new java.util.concurrent.atomic.AtomicLong).addAndGet(v): Unit
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (perJob) {
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
          val cs = Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
          jobStart.put(j.jobId, (System.nanoTime(), s"$cs | $desc"))
          j.stageIds.foreach(sid => stageJob.put(sid, j.jobId))
        }
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (perJob) Option(jobStart.get(j.jobId)).foreach { case (t0, desc) =>
          val tms = Option(jobTaskMs.get(j.jobId)).map(_.get).getOrElse(0L)
          val nt = Option(jobTasks.get(j.jobId)).map(_.get).getOrElse(0)
          val Seq(run, gc, deser, sched) = Seq(jobRunMs, jobGcMs, jobDeserMs, jobSchedMs)
            .map(m => Option(m.get(j.jobId)).map(_.get).getOrElse(0L) / 1000.0)
          println(f"[job] id=${j.jobId}%-4d wall=${(System.nanoTime() - t0) / 1e9}%6.2fs " +
            f"tasks=$nt%-4d taskSec=${tms / 1000.0}%7.2f run=$run%.2f gc=$gc%.2f " +
            f"deser=$deser%.2f sched=$sched%.2f  $desc")
        }
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) {
          taskMs.addAndGet(t.taskInfo.duration)
          if (perJob) Option(stageJob.get(t.stageId)).foreach { jid =>
            jobTaskMs.computeIfAbsent(jid, _ => new java.util.concurrent.atomic.AtomicLong)
              .addAndGet(t.taskInfo.duration)
            jobTasks.computeIfAbsent(jid, _ => new java.util.concurrent.atomic.AtomicInteger)
              .incrementAndGet()
            Option(t.taskMetrics).foreach { m =>
              acc(jobRunMs, jid, m.executorRunTime)
              acc(jobGcMs, jid, m.jvmGCTime)
              acc(jobDeserMs, jid, m.executorDeserializeTime)
              acc(jobSchedMs, jid,
                t.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime)
            }
          }
        }
    })
    qs.foreach { q =>
      (1 to reps).foreach { rep =>
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val compileNs0 = CodeGenerator.compileTime
        val t0 = System.nanoTime()
        val df = q.fn(spark, sfDir)
        val t1 = System.nanoTime()
        val qe = df.queryExecution
        qe.executedPlan // force optimization + physical planning
        val t2 = System.nanoTime()
        val n = qe.toRdd.count()
        val t3 = System.nanoTime()
        Thread.sleep(150) // let the listener bus drain before reading counters
        def s(a: Long, b: Long) = f"${(b - a) / 1e9}%.3f"
        println(f"[phase] ${q.name}%-30s rep=$rep rows=$n%-8d " +
          s"build=${s(t0, t1)} plan=${s(t1, t2)} exec=${s(t2, t3)} total=${s(t0, t3)} " +
          s"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} taskSec=${taskMs.get / 1000.0} " +
          s"compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0} " +
          f"compileMs=${(CodeGenerator.compileTime - compileNs0) / 1e6}%.0f")
        System.gc(); Thread.sleep(100)
      }
    }
    spark.stop()
  }
}
