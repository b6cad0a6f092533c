package iiotbench

import java.io.File
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.eval.Eval
import graft.model.{DenseAutoencoder, TrainedAutoencoder}
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.KeyedValue
import graft.window.Windows

import Tracer.span

/** What the two sinks saw: period rows and scored windows, each with the
  * wall time its micro-batch finished writing.
  */
final class Sinks {
  val periods = new ConcurrentLinkedQueue[(Long, Long, Double, Long, Boolean)]() // emitMs, start, mean, n, flag
  val windows = new ConcurrentLinkedQueue[(Long, Long, Double)]() // emitMs, wid, mse
  val batches = new ConcurrentLinkedQueue[(String, Long, Int)]() // query, emitMs, rows
}

/** Online scoring on 64 machines: period means against a μ+4σ threshold
  * (`StreamingOps.thresholdFlags`) and count windows scored by a fixed
  * autoencoder (`StreamingOps.countWindows` → `TrainedAutoencoder.score`).
  * A timed pass drains a fixed backlog closed loop, one chunk after the
  * previous batch completes; the traced run also runs the open loop.
  */
final class IiotStream extends Workload {
  val name = "iiot_stream"
  val Chunks = 3
  val PerMachine = 100 // events per machine per chunk
  val LateShare = 0.02
  val Size = 100
  val Step = 50
  val OpenRate = 1600 // events per second in the open loop
  val MaxGenLateMs = 250L
  val TickMs = 25
  /** A stream pass's CPU time keeps falling for three passes after the
    * cold one (about 9, 6.5, 5.6, 5.3 s), so those only warm up.
    */
  override val warmupPasses = 3

  private var seed = 0L
  private var backlog: StreamBacklog = _
  private var threshold = 0.0
  private var model: TrainedAutoencoder = _
  private var first: Option[(Sinks, StreamBacklog)] = None

  def generate(dir: File, seed: Long): Unit = {
    this.seed = seed
    backlog = StreamGen.backlog(seed, Chunks, PerMachine, LateShare)
  }

  def digest: String = backlog.digest

  def inputs: Map[String, Any] = Map(
    "machines" -> StreamGen.Machines, "backlog_events" -> backlog.events, "chunks" -> Chunks,
    "late_events" -> backlog.late.size, "late_share" -> backlog.late.size.toDouble / backlog.events,
    "open_loop_rate_per_s" -> OpenRate, "watermark_ms" -> StreamGen.WatermarkMs,
    "window_ms" -> StreamGen.WindowMs)

  /** μ+4σ over the period means of a healthy backlog, and fixed seeded
    * autoencoder weights.
    */
  override def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    val healthy = StreamGen.backlog(seed + 1, Chunks, PerMachine, 0.0, withBurst = false)
    val pm = StreamingOps.periodMeans(healthy.chunks.flatten.toDS().toDF(), "ts", "value",
      "1 second", "2 seconds")
    threshold = Eval.threshold(pm, "mse", 4.0, Nil).head().getDouble(0)
    val m = new DenseAutoencoder(Seq(Size, 16, Size), seed = seed)
    model = TrainedAutoencoder(m, m.initWeights(), Nil)
  }

  private def keyNum(key: String): Long = key.drop(1).toLong

  /** Both queries over their own memory source, writing into `sinks`. */
  private def start(spark: SparkSession, tag: String, sinks: Sinks)
      : (MemoryStream[Ev], MemoryStream[Ev], StreamingQuery, StreamingQuery) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val inA = MemoryStream[Ev]
    val inB = MemoryStream[Ev]
    val flags = span("streaming", "thresholdFlags") {
      StreamingOps.thresholdFlags(inA.toDF(), "ts", "value", "1 second", "2 seconds", threshold)
    }
    val wins = span("streaming", "countWindows") {
      StreamingOps.countWindows(inB.toDS().map(e => KeyedValue(e.key, e.seq, e.value)), Size, Step)
    }
    val ckpt = new File(sys.props("java.io.tmpdir"), s"ckpt-${java.util.UUID.randomUUID}")
    val m = model
    val qa = flags.writeStream.queryName(s"flags-$tag").outputMode("append")
      .option("checkpointLocation", new File(ckpt, "a").getPath)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.select(col("period_start"), col("mse"), col("n"), col("anomaly")).collect()
        val now = System.currentTimeMillis()
        rows.foreach(r => sinks.periods.add((now, r.getTimestamp(0).getTime, r.getDouble(1),
          r.getLong(2), r.getBoolean(3))))
        sinks.batches.add(("flags", now, rows.length))
        ()
      }.start()
    val qb = wins.toDF().writeStream.queryName(s"windows-$tag").outputMode("append")
      .option("checkpointLocation", new File(ckpt, "b").getPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val df = span("streaming", "countWindows batch")(Tracer.mat(batch))
        val scored = span("model", "TrainedAutoencoder.score") {
          m.score(df.select((expr("CAST(substring(key, 2) AS BIGINT)") * 1000000L +
            col("windowId")).as("wid"), col("values")), "values", "wid").collect()
        }
        val now = System.currentTimeMillis()
        scored.foreach(r => sinks.windows.add((now, r.getLong(0), r.getDouble(1))))
        sinks.batches.add(("windows", now, scored.length))
        ()
      }.start()
    (inA, inB, qa, qb)
  }

  private def expectedWindows(events: Iterable[Ev]): Long =
    events.groupBy(_.key).values.map(es => if (es.size < Size) 0L else (es.size - Size) / Step + 1L).sum

  def pass(spark: SparkSession): PassOut = {
    val sinks = new Sinks
    val (inA, inB, qa, qb) = start(spark, s"p${Tracer.pass}", sinks)
    try span("streaming", "drain") {
      backlog.chunks.foreach { c =>
        inA.addData(c); inB.addData(c)
        qa.processAllAvailable(); qb.processAllAvailable()
      }
    } finally { qa.stop(); qb.stop() }
    if (first.isEmpty) first = Some((sinks, backlog))
    val all = backlog.chunks.flatten
    lazy val expW = expectedWindows(all)
    val gotW = sinks.windows.size.toLong
    lazy val closed = closedPeriods(all, backlog.late)
    val ops = sinks.batches.size.toLong
    PassOut(all.size, () => Seq(
      Check("count windows emitted", gotW == expW, s"$gotW of $expW"),
      Check("closed periods emitted", sinks.periods.size == closed.size,
        s"${sinks.periods.size} of ${closed.size}")), ops = ops)
  }

  /** Period starts that the final watermark has closed, over on-time events. */
  private def closedPeriods(events: Seq[Ev], late: Set[(String, Long)]): Set[Long] = {
    val onTime = events.filterNot(e => late((e.key, e.seq)))
    val wm = events.map(_.ts.getTime).max - StreamGen.WatermarkMs
    onTime.map(e => e.ts.getTime / StreamGen.WindowMs * StreamGen.WindowMs).toSet
      .filter(_ + StreamGen.WindowMs <= wm)
  }

  /** Open loop: a generator thread appends events at `OpenRate` on a
    * fixed schedule, stamping each with its due time; most are jittered
    * back by up to 300 ms, `LateShare` (after the first 3 s) by 10 s,
    * past the watermark. Latency is measured from when a result became
    * emittable to when its sink finished.
    */
  override def extraPhase(spark: SparkSession, seconds: Double): Map[String, Any] = {
    val sinks = new Sinks
    val (inA, inB, qa, qb) = start(spark, "open", sinks)
    val rng = new Random(seed * 13L + 5L)
    val perTick = OpenRate * TickMs / 1000
    val seqs = Array.fill(StreamGen.Machines)(0L)
    val due = mutable.Map.empty[(String, Long), Long]
    val events = mutable.ArrayBuffer.empty[Ev]
    val late = mutable.Set.empty[(String, Long)]
    var maxGenLate = 0L
    val backlog = mutable.ArrayBuffer.empty[Long] // sampled every 8 ticks
    var added = 0L
    val t0 = System.currentTimeMillis() + 200
    val ticks = (seconds * 1000 / TickMs).toInt
    var k = 0
    var next = 0
    try {
      while (k < ticks) {
        val dueMs = t0 + k.toLong * TickMs
        val wait = dueMs - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        maxGenLate = math.max(maxGenLate, System.currentTimeMillis() - dueMs)
        val tick = (0 until perTick).map { _ =>
          val m = next % StreamGen.Machines; next += 1
          val key = StreamGen.key(m)
          val s = seqs(m); seqs(m) += 1
          val isLate = dueMs - t0 > 3000 && rng.nextDouble() < LateShare
          val ts = if (isLate) dueMs - 10000 else dueMs - rng.nextInt(300)
          if (isLate) late += ((key, s))
          due((key, s)) = dueMs
          Ev(key, s, StreamGen.value(rng, m, s, burst = false), new Timestamp(ts))
        }
        inA.addData(tick); inB.addData(tick)
        events ++= tick
        added += tick.size
        if (k % 8 == 0) {
          val done = Option(qb.recentProgress).map(_.map(_.numInputRows).sum).getOrElse(0L)
          backlog += added - done
        }
        k += 1
      }
      qa.processAllAvailable(); qb.processAllAvailable()
    } finally { qa.stop(); qb.stop() }

    // latency per micro-batch: the oldest result in the batch
    val perBatch = mutable.Map.empty[(String, Long), Long]
    sinks.periods.asScala.foreach { case (emit, startMs, _, _, _) =>
      val lat = emit - (startMs + StreamGen.WindowMs + StreamGen.WatermarkMs)
      perBatch(("flags", emit)) = math.max(perBatch.getOrElse(("flags", emit), Long.MinValue), lat)
    }
    sinks.windows.asScala.foreach { case (emit, wid, _) =>
      val key = StreamGen.key((wid / 1000000L).toInt)
      val lastSeq = (wid % 1000000L) * Step + Size - 1
      val lat = emit - due((key, lastSeq))
      perBatch(("windows", emit)) = math.max(perBatch.getOrElse(("windows", emit), Long.MinValue), lat)
    }
    // validity, not speed: the generator kept its schedule and the
    // backlog left by query start-up did not grow in the last third
    val cut = backlog.size * 2 / 3
    val early = (backlog.take(cut) :+ (OpenRate.toLong)).max
    val lastThird = backlog.drop(cut).maxOption.getOrElse(0L)
    val checked = periodCheck(spark, events.toSeq, late.toSet, sinks, "open loop") ++
      windowCheck(spark, events.toSeq, sinks, "open loop") ++ Seq(
      Check("open loop: generator on schedule", maxGenLate <= MaxGenLateMs,
        s"latest tick ${maxGenLate} ms late, allowed $MaxGenLateMs"),
      Check("open loop: backlog does not grow", lastThird <= early * 3 / 2,
        s"last third max $lastThird rows, before $early"))
    Map("latency_ms" -> perBatch.values.toSeq.sorted, "gen_late_ms" -> maxGenLate,
      "backlog_rows" -> backlog.maxOption.getOrElse(0L), "events" -> events.size, "late_events" -> late.size,
      "seconds" -> seconds,
      "checks" -> checked.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)))
  }

  /** Streamed period rows equal a batch `thresholdFlags` over the on-time
    * events, restricted to the periods the watermark closed.
    */
  private def periodCheck(spark: SparkSession, events: Seq[Ev], late: Set[(String, Long)],
                          sinks: Sinks, label: String): Seq[Check] = {
    import spark.implicits._
    val onTime = events.filterNot(e => late((e.key, e.seq)))
    val batch = StreamingOps.thresholdFlags(onTime.toDS().toDF(), "ts", "value", "1 second",
      "2 seconds", threshold).collect()
      .map(r => r.getTimestamp(0).getTime -> (r.getDouble(1), r.getLong(2), r.getBoolean(3))).toMap
    val closed = closedPeriods(events, late)
    val got = sinks.periods.asScala.map(p => p._2 -> (p._3, p._4, p._5)).toMap
    val bad = got.filter { case (s, (mean, n, f)) =>
      batch.get(s).forall { case (bm, bn, bf) => bn != n || bf != f || math.abs(bm - mean) > 1e-9 }
    }
    Seq(
      Check(s"$label: emitted periods are the closed ones", got.keySet == closed,
        s"${got.size} emitted, ${closed.size} closed"),
      Check(s"$label: period means and flags equal batch recomputation", bad.isEmpty,
        s"${bad.size} differ; ${got.values.count(_._3)} flagged"))
  }

  /** Streamed windows and MSEs equal batch `slidingWindows` + `score` per machine. */
  private def windowCheck(spark: SparkSession, events: Seq[Ev], sinks: Sinks,
                          label: String): Seq[Check] = {
    import spark.implicits._
    val df = events.map(e => (keyNum(e.key) * 1000000L + e.seq, e.value)).toDF("gidx", "value")
    val wins = Windows.slidingWindows(df, "gidx", "value", Size, Step)
      .select((expr(s"window_id DIV ${1000000 / Step}") * 1000000L +
        expr(s"window_id % ${1000000 / Step}")).as("wid"), col("values"))
    val batch = model.score(wins, "values", "wid").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = sinks.windows.asScala.map(w => w._2 -> w._3).toMap
    val bad = got.count { case (w, mse) => batch.get(w).forall(b => math.abs(b - mse) > 1e-12) }
    Seq(Check(s"$label: window count equals batch slidingWindows", got.size == batch.size,
        s"${got.size} streamed, ${batch.size} batch"),
      Check(s"$label: window MSE equals batch score", bad == 0, s"$bad differ"))
  }

  override def deepChecks(spark: SparkSession): Seq[Check] = first.toSeq.flatMap { case (sinks, b) =>
    val events = b.chunks.flatten
    periodCheck(spark, events, b.late, sinks, "backlog") ++ windowCheck(spark, events, sinks, "backlog")
  }
}
