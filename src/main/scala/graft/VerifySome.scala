package graft
import org.apache.spark.sql.SparkSession

/** Iteration harness: [[Verify]] for a SUBSET of registry rows.
  *
  * `runMain graft.VerifySome <sfDir> <outDir> <name>[,<name>…]` dumps just
  * the named queries (plus their oracle_sql.json slice) in the exact
  * layout `tools/check_correctness.py` consumes — so a new row can be
  * oracle-checked in seconds instead of re-dumping the whole registry.
  */
object VerifySome {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, namesCsv) = args
    val names = namesCsv.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = graft.core.GraftSession.configure(SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // A throwing query fails the harness itself (exit non-zero) AND stays
    // out of the oracle slice, so an iteration run can never look green
    // while having produced no parquet for a row.
    val failed = Verify.dump(spark, sfDir, outDir, names, "verify-some",
      keepFailedOracles = false)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify-some] FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
