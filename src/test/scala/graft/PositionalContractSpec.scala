package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Indexing
import graft.window.Windows

/** The r11 gapped-sf1 sweep found nine registry rows whose results
  * silently depended on `event_id` being a contiguous RangeIndex (true
  * on driver testdata, false on replicated/partitioned corpora). This
  * spec pins the fix in CI without DuckDB: every positional operator,
  * driven through the ordering-contract idx, must produce IDENTICAL
  * results on a gapped id layout and on the same rows renumbered
  * contiguously — i.e. results are a function of row ORDER, never of id
  * VALUES. A regression that sneaks id arithmetic back into a
  * positional path breaks the equality on the gapped side.
  */
class PositionalContractSpec extends SparkSpec {
  import spark.implicits._

  /** 300 rows in three id-"replicas" with large gaps (the ScaleGen
    * shape): ids r·1_000_000 + 0..99, deterministic values.
    */
  private lazy val gapped: DataFrame =
    (0 until 3).flatMap { r =>
      (0 until 100).map { i =>
        (r * 1000000L + i, math.sin(r * 100 + i * 0.37) * 50 + 50)
      }
    }.toDF("event_id", "value")

  /** The same rows with contiguous 0-based ids (same order). */
  private lazy val contiguous: DataFrame =
    gapped.orderBy("event_id").collect().zipWithIndex.map {
      case (row, k) => (k.toLong, row.getDouble(1))
    }.toSeq.toDF("event_id", "value")

  private def idx(df: DataFrame): DataFrame =
    Indexing.withOrderedIdx(df, "_idx", col("event_id"))

  private def collectSorted(df: DataFrame, cols: String*): Seq[Seq[Any]] =
    df.select(cols.map(col): _*).orderBy(cols.map(col): _*)
      .collect().toSeq.map(_.toSeq)

  test("sliding windows are id-layout independent through the contract idx") {
    def wins(df: DataFrame) =
      Windows.slidingWindows(idx(df), "_idx", "value", 10, 5)
        .select(col("window_id"),
          round(aggregate(col("values"), lit(0.0), (a, v) => a + v), 6).as("s"))
    assert(collectSorted(wins(gapped), "window_id", "s") ==
      collectSorted(wins(contiguous), "window_id", "s"))
    // and the gapped layout loses NO windows: 300 rows → 59 windows
    assert(wins(gapped).count() == 59)
  }

  test("temporalize (chunk+halo) is id-layout independent through the contract idx") {
    def temp(df: DataFrame) =
      Windows.temporalize(idx(df), "_idx", "value", 5, chunkSize = 32L)
        .select(col("_idx"),
          round(aggregate(col("history"), lit(0.0), (a, v) => a + v), 6).as("h"))
    assert(collectSorted(temp(gapped), "_idx", "h") ==
      collectSorted(temp(contiguous), "_idx", "h"))
    assert(temp(gapped).count() == 295) // only the first 5 rows lack history
  }

  test("lag shift is id-layout independent through the contract idx") {
    def lagd(df: DataFrame) =
      Windows.lagShift(idx(df), "_idx", "value", 7, chunkSize = 32L)
        .select(col("_idx"), round(col("shifted"), 6).as("sh"))
    assert(collectSorted(lagd(gapped), "_idx", "sh") ==
      collectSorted(lagd(contiguous), "_idx", "sh"))
  }

  test("channel stack/unstack round-trips identically on both layouts") {
    def stacked(df: DataFrame) = {
      val base = idx(df).select(col("_idx"), col("value"),
        (col("value") * 2).as("v2"))
      graft.prep.Prep.stackChannels(base, "_idx", Seq("value", "v2"))
        .select(col("global_idx"), round(col("value"), 6).as("v"))
    }
    assert(collectSorted(stacked(gapped), "global_idx", "v") ==
      collectSorted(stacked(contiguous), "global_idx", "v"))
  }

  test("downsample / truncate / split / argmax are id-layout independent through the contract idx") {
    import graft.prep.Prep
    def dn(df: DataFrame) =
      Prep.downsample(idx(df), "_idx", 25, Seq("value"))
        .select(col("grp"), round(col("value"), 6).as("v"))
    assert(collectSorted(dn(gapped), "grp", "v") ==
      collectSorted(dn(contiguous), "grp", "v"))
    assert(dn(gapped).count() == 12) // 300 rows → 12 full-or-partial groups

    def tr(df: DataFrame) =
      Prep.truncateToMultiple(idx(df), "_idx", 64).select(round(col("value"), 6).as("v"))
    assert(tr(gapped).count() == 256 &&
      collectSorted(tr(gapped), "v") == collectSorted(tr(contiguous), "v"))

    def sp(df: DataFrame) =
      Prep.sequentialSplit(idx(df), "_idx", 0.5, 64)._1.select(round(col("value"), 6).as("v"))
    // split point: floor(300·0.5)=150 → rounded up to 192 ROWS on both layouts
    assert(sp(gapped).count() == 192 &&
      collectSorted(sp(gapped), "v") == collectSorted(sp(contiguous), "v"))

    def fo(df: DataFrame) =
      Windows.firstOverThreshold(idx(df), "_idx", col("value") > 95, Nil)
    assert(fo(gapped).collect().toSeq == fo(contiguous).collect().toSeq)
  }

  test("withOrderedIdx yields the same contiguous idx sequence on both layouts") {
    val gi = idx(gapped).select("_idx").as[Long].collect().sorted
    val ci = idx(contiguous).select("_idx").as[Long].collect().sorted
    assert(gi.toSeq == (0L until 300L) && ci.toSeq == (0L until 300L))
  }
}
