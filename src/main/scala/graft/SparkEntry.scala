package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{ExtQueries, IoModelQueries, Q, RelationalQueries,
  StreamParityQueries, WindowQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is registered here as a
  * named query over the driver's test tables; `oracleSql` carries the
  * DuckDB-equivalent SQL for hash-compared correctness (queries whose
  * implementation is engine-hash-specific are registered without an oracle
  * and get a rows-only check + unit tests).
  */
object SparkEntry {

  /** Every row, in the order Bench runs them. Names are unique: the
    * name-keyed maps below would otherwise drop a row silently.
    */
  val registry: Seq[Q] = {
    val rows = RelationalQueries.all ++ WindowQueries.all ++ ExtQueries.all ++
      IoModelQueries.all ++ StreamParityQueries.all
    val dup = rows.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dup.isEmpty, s"duplicate registry names: ${dup.toSeq.sorted.mkString(", ")}")
    rows
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q5_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
