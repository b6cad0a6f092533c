package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Dev tool (r16 optimization round): split one StreamBench-shaped ingest
  * into start / per-batch / stop wall time, so the ~4 s-per-case bench
  * floor is attributable — query START (planning + state-store init +
  * checkpoint setup) vs per-micro-batch cost (incremental planning +
  * state commit) vs STOP. `spawns=` is the OS processes the JVM
  * started during the rep ([[graft.ProcessSpawns]]).
  *
  * `runMain graft.streaming.StreamPhaseProbe [reps]`
  */
object StreamPhaseProbe {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    def timedDrain(name: String)(mk: => (MemoryStream[(Timestamp, Long, String, String)], DataFrame, Seq[Seq[(Timestamp, Long, String, String)]])): Unit = {
      (1 to reps).foreach { rep =>
        val (input, out, chunks) = mk
        val spawns = new graft.ProcessSpawns
        val t0 = System.nanoTime()
        val query: StreamingQuery = out.writeStream.format("noop")
          .outputMode("append").start()
        val t1 = System.nanoTime()
        val batchTimes = chunks.map { c =>
          val b0 = System.nanoTime()
          input.addData(c)
          query.processAllAvailable()
          (System.nanoTime() - b0) / 1e9
        }
        val t2 = System.nanoTime()
        if (rep == reps) query.recentProgress.foreach { p =>
          println(s"[sprog] batch=${p.batchId} durationMs=${p.durationMs}")
        }
        query.stop()
        val t3 = System.nanoTime()
        val nSpawns = spawns.stop().size
        def s(a: Long, b: Long) = f"${(b - a) / 1e9}%.2f"
        println(f"[sphase] $name%-22s rep=$rep start=${s(t0, t1)} " +
          s"batches=${batchTimes.map(t => f"$t%.2f").mkString(",")} " +
          s"drain=${s(t1, t2)} stop=${s(t2, t3)} total=${s(t0, t3)} spawns=$nSpawns")
      }
    }

    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "8")
    timedDrain("stream_dedup_exact") {
      val input = MemoryStream[(Timestamp, Long, String, String)]
      val out = StreamingOps.dedupExact(
        input.toDF().toDF("ts", "doc_id", "source", "text"), "ts", "text", "2 minutes")
      (input, out, StreamBench.chunked(StreamBench.docs(4000, 11)))
    }
    timedDrain("stream_source_report") {
      val input = MemoryStream[(Timestamp, Long, String, String)]
      val out = StreamingOps.sourceReportStream(
        input.toDF().toDF("ts", "doc_id", "source", "text"),
        "ts", "source", "text", "1 minute", "2 minutes")
      (input, out, StreamBench.chunked(StreamBench.docs(3000, 10)))
    }
    spark.conf.set(key, saved)
    spark.stop()
  }
}
