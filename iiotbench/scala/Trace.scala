package iiotbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One closed span: a call into one engine layer, made from the benchmark. */
final case class Span(id: Long, parent: Long, pass: Int, layer: String, name: String,
                      startNs: Long, endNs: Long, thread: String)

/** Spark work attributed to one span by the listener. */
final class Work {
  var jobs = 0L; var tasks = 0L
  var taskMs = 0L; var deserMs = 0L; var gcMs = 0L; var schedMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
  var warns = 0L
}

/** Per micro-batch progress of one streaming query. */
final case class BatchProgress(query: String, batchId: Long, inputRows: Long,
                               durations: Map[String, Long], stateRows: Long,
                               stateMemBytes: Long, stateCommitMs: Long)

/** Span recorder. Off by default: every call then runs its body and
  * nothing else, so untraced passes pay for no bookkeeping. When on, each
  * span sets the Spark job group to its id so the listener can attribute
  * jobs, and lazy layer outputs passed through [[mat]] are materialized
  * inside the span that produced them.
  */
object Tracer {
  @volatile var enabled = false
  @volatile var pass = 0

  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  /** Innermost span open on the driving thread; stream-thread spans and
    * stream-thread jobs hang under it.
    */
  @volatile private var mainOpen: Long = 0L
  @volatile private var mainThread: Thread = _
  private val closed = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val work = new ConcurrentHashMap[Long, Work]()
  val warnMessages = new ConcurrentHashMap[String, LongAdder]()
  private val held = mutable.ArrayBuffer.empty[DataFrame]
  private var spark: SparkSession = _

  def spans: Seq[Span] = closed.asScala.toSeq

  def workOf(id: Long): Work = work.computeIfAbsent(id, _ => new Work)

  /** Span id Spark work started now should be charged to. */
  def current: Long = stack.get().headOption.getOrElse(mainOpen)

  def knownSpan(id: Long): Boolean = id > 0 && id <= ids.get()

  def start(s: SparkSession): Unit = {
    spark = s
    mainThread = Thread.currentThread()
    enabled = true
  }

  def stop(): Unit = enabled = false

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val st = stack.get()
      val parent = st.headOption.getOrElse(mainOpen)
      val onMain = Thread.currentThread() eq mainThread
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setLocalProperty("spark.jobGroup.id", id.toString)
      stack.set(id :: st)
      if (onMain) mainOpen = id
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(st)
        if (onMain) mainOpen = parent
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        closed.add(Span(id, parent, pass, layer, name, t0, t1, Thread.currentThread().getName))
      }
    }

  /** Materialize a lazy layer output in the calling span (traced only),
    * truncating its lineage so downstream spans read the stored rows
    * instead of recomputing them; blocks are freed by [[release]].
    */
  def mat(df: DataFrame): DataFrame =
    if (!enabled) df else track(df.localCheckpoint(eager = true))

  /** Store a frame the pass reads more than once, traced or not (what a
    * user of the engine would do): computed on first use, lineage cut.
    */
  def keep(df: DataFrame): DataFrame = track(df.localCheckpoint(eager = enabled))

  private def track(df: DataFrame): DataFrame = { held.synchronized(held += df); df }

  def release(): Unit = held.synchronized {
    held.foreach(_.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = true)
      case _ =>
    })
    held.clear()
  }
}

/** Charges task metrics to the span whose id is the job group. Jobs
  * started under no known span (the streaming engine's own batch jobs)
  * go to the span open on the driving thread when they start.
  */
final class WorkListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption).filter(Tracer.knownSpan).getOrElse(Tracer.current)
    val w = Tracer.workOf(g)
    w.synchronized(w.jobs += 1)
    e.stageIds.foreach(s => stageSpan.put(s, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val w = Tracer.workOf(stageSpan.getOrDefault(e.stageId, 0L))
    val info = e.taskInfo
    w.synchronized {
      w.tasks += 1
      w.taskMs += m.executorRunTime
      w.deserMs += m.executorDeserializeTime
      w.gcMs += m.jvmGCTime
      w.schedMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Records the duration split and state-store numbers of every batch. */
final class ProgressListener extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    batches.add(BatchProgress(Option(p.name).getOrElse(""), p.batchId, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum))
  }
}

/** Counts WARN-or-worse log events per open span, plus per message head. */
final class WarnCounter extends AbstractAppender("iiotbench-warns", null, null, true,
  Property.EMPTY_ARRAY) {
  override def append(e: LogEvent): Unit =
    if (Tracer.enabled && e.getLevel.isMoreSpecificThan(Level.WARN)) {
      val w = Tracer.workOf(Tracer.current)
      w.synchronized(w.warns += 1)
      val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
      val head = msg.linesIterator.nextOption().getOrElse("").take(96)
      Tracer.warnMessages.computeIfAbsent(head, _ => new LongAdder).increment()
    }
}

object WarnCounter {
  def install(): WarnCounter = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val a = new WarnCounter
    a.start()
    ctx.getConfiguration.getRootLogger.addAppender(a, Level.WARN, null)
    ctx.updateLoggers()
    a
  }

  def uninstall(a: WarnCounter): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(a.getName)
    ctx.updateLoggers()
    a.stop()
  }
}
