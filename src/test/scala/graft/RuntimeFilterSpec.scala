package graft

import org.apache.spark.sql.functions._

/** Runtime bloom filters are off in a configured session
  * (GraftSession.configure): a checkpointed frame carries the non-CBO size
  * estimate of the plan it cut, which joins and explodes multiply far past
  * the filter's 10 GB application-side gate, so a join of a few hundred
  * such rows to a small filtered table would build and broadcast 1 MiB
  * filters.
  */
class RuntimeFilterSpec extends SparkSpec {
  import spark.implicits._

  /** The IIoT pass's per-period query: checkpointed window scores joined
    * to cached window metadata, averaged per period, joined to cached
    * labels. A checkpoint keeps the size estimate of the plan it cut, and
    * the non-CBO estimate of the scores' inner joins multiplies (here
    * 5.6·10¹³ bytes for 360 rows), as the explodes and joins behind the
    * pass's scores do.
    */
  private def perPeriod() = {
    val ids = spark.range(360).select(col("id").as("wid"))
    val scores = ids.join(ids, "wid").join(ids, "wid").join(ids, "wid")
      .select(col("wid"), (col("wid") % 17).cast("double").as("mse"),
        when(col("wid") % 2 === 0, "lstm").otherwise("dense").as("model"))
      .localCheckpoint()
    val meta = (0L until 360L).map(w => (w, 0, if (w % 3 == 0) -1 else (w / 3).toInt))
      .toDF("wid", "machine", "period").cache()
    val labels = (0 until 120).map(p => (0, p, p >= 90)).toDF("machine", "period", "label").cache()
    meta.count()
    labels.count()
    scores.join(meta.filter(col("period") >= 0), "wid")
      .groupBy("model", "machine", "period").agg(avg("mse").as("mse"))
      .join(labels, Seq("machine", "period"))
  }

  private def hasRuntimeFilter(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("might_contain")

  test("a per-period join on a configured session plans no runtime bloom filter") {
    val key = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    assert(spark.conf.get(key) == "false")
    val q = perPeriod()
    assert(!hasRuntimeFilter(q), q.queryExecution.optimizedPlan.treeString)
    assert(q.count() == 240)
    // the same query with Spark's default plans the filters this guards against
    spark.conf.set(key, "true")
    try assert(hasRuntimeFilter(perPeriod()), "the query shape no longer draws a runtime filter")
    finally spark.conf.set(key, "false")
  }
}
