package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{LongType, StructField}
import org.apache.spark.storage.StorageLevel

/** The ordering contract (SURVEY.md §4.1).
  *
  * The reference (pandas) gets a stable global row order for free from its
  * RangeIndex; windowing, stacking, train/test splits and anomaly indexes
  * all depend on it (reference: `src/training/trainer.py:75-82`,
  * `src/data/restructure.py:12-19`). Spark has no implicit order, so every
  * ingested table materializes an explicit contiguous `idx: Long` exactly
  * once; all downstream positional operators derive from it arithmetically.
  *
  * Scale: the naive `row_number() over (orderBy ...)` is a single-task
  * global window — a non-starter at 100 TB. This implementation is the
  * standard two-pass pattern: range-repartition (one shuffle), a tiny job
  * to count rows per partition, then a zero-shuffle local sort +
  * offset-attach. Equivalent to `RDD.zipWithIndex` but keeps the
  * DataFrame lineage explicit. `monotonically_increasing_id` is NOT
  * acceptable: non-contiguous.
  *
  * Cost model: the range exchange reads its input twice before any row
  * moves. `RangePartitioner`'s sampling job walks every row of every
  * input partition (reservoir sampling), and then the shuffle map stage
  * computes the whole input again to write it. When the input is a scan
  * plus parsing (the IIoT ingest: CSV, a regex tag split, two timestamp
  * parses), that second computation was the largest cost of the call. So
  * the input is computed once: unless the caller already stores it (a
  * cached frame, or one read from a stored RDD such as a
  * `localCheckpoint`), it is persisted `MEMORY_AND_DISK` for the length
  * of the call: the sampling job fills the store, the map stage reads it,
  * and the store is freed once the count pass has run. Lineage is intact,
  * so a lost shuffle block still recomputes from the source. A frame the
  * caller stored is never unpersisted. Both internal jobs hang off the
  * SAME post-shuffle RDD, so the shuffle map stage is written exactly once
  * and job 2 skips it via Spark's stage-skipping over existing shuffle
  * files. The counting pass runs BEFORE the within-partition sort
  * (partition membership depends only on the range bounds, not on local
  * order), so the local sort also runs exactly once, in the same stage
  * that attaches the offsets. Net extra cost over a plain sort: one
  * shuffle-file re-read for the count. IndexingSpec pins the
  * single-map-stage property with a SparkListener, and the single
  * evaluation of the input with an accumulator.
  */
object Indexing {

  /** Add contiguous 0-based `idxCol` ordered by `order` (must be a total
    * order for determinism — include a tie-breaker key). Order columns
    * must be name-resolvable (`col("...")` / `expr(...)`), not bound to a
    * specific plan, because they are re-resolved against the post-shuffle
    * lineage.
    */
  def withOrderedIdx(df: DataFrame, idxCol: String, order: Column*): DataFrame = {
    val spark = df.sparkSession
    // The sampling job and the map stage both read the input; store it so
    // it is computed once (cost model above).
    val stored = df.storageLevel != StorageLevel.NONE || (df.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd.getStorageLevel != StorageLevel.NONE
      case _ => false
    })
    if (!stored) df.persist(StorageLevel.MEMORY_AND_DISK)
    val (parted, offsets) =
      try {
        // Single range exchange; pinning the post-shuffle RDD makes both
        // jobs below share its lineage, so the map stage runs once.
        val parted = df.repartitionByRange(order: _*).rdd
        // Pass 1: per-partition counts (small: one long per partition). No
        // sort here — counts are order-independent within a partition.
        val counts = parted
          .mapPartitionsWithIndex { case (i, it) => Iterator((i, it.size.toLong)) }
          .collect()
          .sortBy(_._1)
          .map(_._2)
        (parted, counts.scanLeft(0L)(_ + _))
      } finally if (!stored) df.unpersist()
    // Pass 2: spillable local sort (SortExec, no exchange) + offset
    // attach; the range shuffle's files are reused, not recomputed.
    val sorted = spark.createDataFrame(parted, df.schema).sortWithinPartitions(order: _*)
    val indexed = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      var k = offsets(i)
      it.map { r => val out = Row.fromSeq(r.toSeq :+ k); k += 1; out }
    }
    val schema = df.schema.add(StructField(idxCol, LongType, nullable = false))
    spark.createDataFrame(indexed, schema)
  }
}
