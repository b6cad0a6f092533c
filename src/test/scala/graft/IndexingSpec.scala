package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerUnpersistRDD}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Indexing

/** Pins the cost model of the idx contract (core/Indexing.scala): one
  * range-shuffle map stage total across the two internal passes (counting
  * pass + sort/attach pass), i.e. the shuffle is written once and job 2
  * reuses the files via stage skipping instead of recomputing the sort;
  * and the input is computed once (the range partitioner's sampling job
  * and the map stage share it), with no stored copy left behind.
  */
class IndexingSpec extends SparkSpec {

  test("Indexing: idx is contiguous and follows a multi-column total order") {
    import spark.implicits._
    val df = spark
      .range(0, 5000, 1, 8)
      .select(
        (col("id") * 2654435761L % 997).as("k"),
        col("id").as("tie"))
    val rows = Indexing
      .withOrderedIdx(df, "idx", col("k"), col("tie"))
      .select("k", "tie", "idx")
      .as[(Long, Long, Long)]
      .collect()
      .sortBy(_._3)
    assert(rows.map(_._3).toSeq == (0L until 5000L))
    val keys = rows.map(r => (r._1, r._2)).toSeq
    assert(keys == keys.sorted, "idx order must equal the (k, tie) sort order")
  }

  test("Indexing: the range shuffle's map stage runs exactly once across both passes") {
    val completed = new ConcurrentLinkedQueue[(Int, Boolean)]()
    val listener = new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val info = ev.stageInfo
        val wroteShuffle = info.taskMetrics.shuffleWriteMetrics.recordsWritten > 0
        completed.add((info.stageId, wroteShuffle))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = spark
        .range(0, 20000, 1, 8)
        .select((col("id") * 1103515245L % 4096).as("k"), col("id").as("tie"))
      val out = Indexing.withOrderedIdx(df, "idx", col("k"), col("tie"))
      // Materialize pass 2 with a shuffle-free action (collect on the
      // RDD-backed result adds no exchange of its own).
      val n = out.collect().length
      assert(n == 20000)
      // The listener bus is async; poll until the map-stage count stops
      // moving (bounded wait, no private Spark APIs).
      var mapStages = -1
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 100) {
        Thread.sleep(100)
        val now = completed.toArray(Array.empty[(Int, Boolean)]).count(_._2)
        if (now == mapStages) stable += 1 else { stable = 0; mapStages = now }
        waited += 1
      }
      assert(
        mapStages == 1,
        s"expected exactly 1 shuffle map stage (single range exchange, reused by pass 2); saw $mapStages")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("Indexing: the input projection is evaluated once per row") {
    val evaluated = spark.sparkContext.longAccumulator("indexing_input_rows")
    val counted = udf { (id: Long) => evaluated.add(1L); id * 7919L % 1000L }.asNondeterministic()
    val df = spark.range(0, 6000, 1, 4).select(counted(col("id")).as("k"), col("id").as("tie"))
    val ks = Indexing.withOrderedIdx(df, "idx", col("k"), col("tie"))
      .select("k", "idx").orderBy("idx").collect().map(_.getLong(0))
    assert(ks.length == 6000 && ks.toSeq == ks.toSeq.sorted)
    assert(evaluated.value == 6000L,
      s"input rows evaluated ${evaluated.value} times for 6000 rows (sampling and map stage)")
  }

  /** Runs `f` and returns the ids of the RDDs that `f` created and that
    * were unpersisted meanwhile (the context cleaner also unpersists older,
    * collected RDDs at any time). The listener bus is async, so the count
    * is polled until it stops moving (bounded wait, no private Spark APIs).
    */
  private def unpersistedDuring(f: => Unit): Set[Int] = {
    val firstId = spark.sparkContext.emptyRDD[Int].id
    val ids = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onUnpersistRDD(ev: SparkListenerUnpersistRDD): Unit =
        if (ev.rddId > firstId) ids.add(ev.rddId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      var seen = -1
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 100) {
        Thread.sleep(100)
        if (ids.size == seen) stable += 1 else { stable = 0; seen = ids.size }
        waited += 1
      }
      ids.asScala.toSet
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("Indexing: a caller-cached input stays cached, and the call stores nothing") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val df = spark.range(0, 3000, 1, 4).select((col("id") % 37).as("k"), col("id").as("tie"))
    // an input nobody stores is stored for the call, then freed
    assert(unpersistedDuring {
      assert(Indexing.withOrderedIdx(df, "idx", col("k"), col("tie")).count() == 3000)
    }.nonEmpty, "an unstored input was not stored for the call")
    assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty,
      "withOrderedIdx left a persisted RDD behind")
    assert(df.storageLevel == StorageLevel.NONE)

    // a cached frame and a local checkpoint (an input read from a stored
    // RDD, as the traced IIoT pass feeds it) are used as they are: no
    // second copy is stored and freed, and the caller's store survives
    val cached = df.persist(StorageLevel.MEMORY_ONLY)
    try {
      cached.count()
      val checkpointed = df.localCheckpoint()
      val storedRdds = sc.getPersistentRDDs.keySet.toSet -- before
      assert(storedRdds.size == 2)
      for ((input, name) <- Seq(cached -> "cached", checkpointed -> "checkpointed")) {
        assert(unpersistedDuring {
          assert(Indexing.withOrderedIdx(input, "idx", col("k"), col("tie")).count() == 3000)
        }.isEmpty, s"withOrderedIdx stored a second copy of a $name input")
        assert(sc.getPersistentRDDs.keySet.toSet -- before == storedRdds,
          s"withOrderedIdx changed the stored RDDs of a $name input")
      }
      assert(cached.storageLevel == StorageLevel.MEMORY_ONLY, "the caller's cache was dropped")
    } finally {
      cached.unpersist(blocking = true)
      (sc.getPersistentRDDs.keySet.toSet -- before)
        .foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
    }
  }
}
