package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.eval.Eval
import graft.model.{DenseAutoencoder, Trainer}
import graft.prep.Prep
import graft.streaming.StreamingOps
import graft.window.Windows

/** Generated-code reuse (GraftSession.configure): a pass that reruns in
  * the same JVM, or a streaming query restarted in a new cloned session,
  * finds its compiled classes in Spark's codegen cache instead of
  * compiling them again.
  */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  /** Generated classes compiled JVM-wide while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  /** The paper path on a synthetic three-channel series with a level
    * shift in channel x from row 1,600: resample, split, standardize,
    * stack, window, train a dense AE, score, per-period MSE, μ+4σ start.
    */
  private def paperPass(): Long = {
    val channels = Seq("x", "y", "z")
    val raw = spark.range(2400).select(col("id").as("idx"),
      (sin(col("id") * 0.05) + when(col("id") >= 1600, 3.0).otherwise(0.0)).as("x"),
      cos(col("id") * 0.05).as("y"), sin(col("id") * 0.11).as("z"))
    val series = Prep.downsample(raw, "idx", 2, channels).withColumnRenamed("grp", "idx")
    val kept = Prep.truncateToMultiple(series, "idx", 100)
    val (train, _) = Prep.sequentialSplit(kept, "idx", 0.3, 100)
    val stacked = Prep.stackChannels(Prep.standardize(train, kept, channels), "idx", channels)
    val windows = Windows.slidingWindows(stacked, "global_idx", "value", 20, 10)
    val model = Trainer.fit(new DenseAutoencoder(Seq(20, 8, 20), seed = 7L), windows, "values",
      epochs = 2, lr = 1e-2)
    val periods = model.score(windows, "values", "window_id")
      .groupBy(expr("window_id DIV 4").as("period")).agg(avg("mse").as("mse"))
    Eval.anomalyStart(periods, "period", "mse").as[(Double, Long)].head()._2
  }

  test("a rerun pipeline compiles no generated class the first run compiled") {
    // a pass generates 109 distinct classes in a fresh JVM, more than
    // Spark's default 100-entry cache holds
    val first = paperPass()
    var second = 0L
    val n = compiles { second = paperPass() }
    assert(second == first)
    assert(n == 0, s"second pass compiled $n generated classes")
  }

  /** One `thresholdFlags` query on a fresh MemoryStream: two batches,
    * the second closing both windows, then stopped.
    */
  private def thresholdQuery(): Seq[(Double, Boolean)] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val out = StreamingOps.thresholdFlags(input.toDF().toDF("ts", "v"), "ts", "v",
      windowDuration = "10 seconds", watermark = "5 seconds", threshold = 5.0)
    val query = out.writeStream.format("memory").queryName("codegen_reuse_out")
      .outputMode("append").start()
    try {
      def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
      input.addData(Seq((ts(1), 1.0), (ts(2), 2.0), (ts(11), 9.0), (ts(12), 9.0)))
      query.processAllAvailable()
      input.addData(Seq((ts(40), 0.0)))
      query.processAllAvailable()
      input.addData(Seq((ts(59), 0.0)))
      query.processAllAvailable()
    } finally query.stop()
    spark.table("codegen_reuse_out").orderBy("period_start")
      .select("mse", "anomaly").as[(Double, Boolean)].collect().toSeq
  }

  test("a restarted streaming query reuses the classes its predecessor compiled") {
    val first = thresholdQuery()
    var second = Seq.empty[(Double, Boolean)]
    val n = compiles { second = thresholdQuery() }
    assert(first.take(2) == Seq((1.5, false), (9.0, true)) && second == first)
    assert(n <= 5, s"restarted query compiled $n generated classes")
  }
}
