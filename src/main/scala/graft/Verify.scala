package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.GraftSession.local()
    dump(spark, sfDir, outDir, SparkEntry.queries.keys.toSeq, "verify", keepFailedOracles = true)
    spark.stop()
  }

  /** Writes each named row's result to `<outDir>/<name>` (one parquet
    * file) and the rows' DuckDB oracles to `<outDir>/oracle_sql.json`:
    * the layout `tools/check_correctness.py` reads. A row that throws is
    * reported on stderr as `[<tag>] <name> failed: …` and returned. Its
    * oracle stays in the JSON only with `keepFailedOracles`, where the
    * checker then counts it as missing output.
    */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
                          names: Seq[String], tag: String,
                          keepFailedOracles: Boolean): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
    val failed = names.filterNot { name =>
      try {
        queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[$tag] $name failed: ${e.getMessage}")
        false
      }
    }
    val keep = (if (keepFailedOracles) names else names.diff(failed)).toSet
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
