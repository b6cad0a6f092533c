package iiotbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Indexing
import graft.eval.Eval
import graft.fed.FedAvg
import graft.functions.GraftFunctions
import graft.io.Sources
import graft.model.{DenseAutoencoder, LstmAutoencoder, TrainedAutoencoder, Trainer}
import graft.prep.Prep
import graft.window.Windows

import Tracer.{keep, mat, span}

/** The paper's train-and-detect path, closed loop: read and clean raw
  * CSVs, resample, window, train an LSTM AE on raw windows and a dense AE
  * on FFT windows, score, detect with μ+4σ and rolling-min, then FedAvg
  * with one client per sensor channel and the same detection.
  */
final class IiotBatch extends Workload {
  val name = "iiot_batch"
  val Machines = 1
  val Periods = 120
  val Size = 100
  val Step = 50
  val TrainRatio = 0.3
  val Floors = Map("auc" -> 0.9, "f1" -> 0.6)
  val Models = Seq("lstm", "dense", "fed")
  val Rounds = 2
  /** The model F1 and AUC are computed for: the centralized dense AE. */
  val Rated = Set("dense")

  private var in: BatchInput = _

  def generate(dir: File, seed: Long): Unit =
    in = BatchGen.generate(new File(dir, "raw"), seed, Machines, Periods)

  def digest: String = in.digest

  def inputs: Map[String, Any] = Map(
    "machines" -> Machines, "raw_rows" -> in.rawRows, "bytes" -> in.bytes,
    "rate_hz" -> BatchGen.Hz, "periods_per_machine" -> Periods,
    "fault_onset_period" -> in.onsetPeriod)

  private val schema = StructType(Seq(StructField("time", StringType), StructField("tags", StringType)) ++
    BatchGen.Channels.map(StructField(_, DoubleType)))

  private def perMachine: Int = in.rowsPerMachine / BatchGen.Factor

  /** Reference split length of `Prep.sequentialSplit` for `n` rows. */
  private def splitLen(n: Int): Int = {
    val a = math.floor(n * TrainRatio).toInt
    a + (Size - a % Size)
  }

  /** Windows per machine over the stacked three-channel series. */
  def windowsPerMachine: Int = (3 * perMachine - Size) / Step + 1

  /** (machine, window_id) → channel and period of the window's start;
    * windows that straddle two channels get no period.
    */
  private def windowMeta(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val n = perMachine
    val split = splitLen(n)
    (for { m <- 0 until Machines; w <- 0 until windowsPerMachine } yield {
      val start = w * Step
      val pos = start % n
      val inside = pos + Size <= n
      (m * 1000000L + w, m, start / n, if (inside) pos / BatchGen.PeriodRows else -1,
        inside && pos + Size <= split)
    }).toDF("wid", "machine", "channel", "period", "train")
  }

  private var meta: DataFrame = _
  private var labels: DataFrame = _

  override def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    meta = windowMeta(spark).cache()
    meta.count()
    labels = (for { m <- 0 until Machines; p <- 0 until Periods }
      yield (m, p, p >= in.onsetPeriod(m))).toDF("machine", "period", "label").cache()
    labels.count()
  }

  def readAndClean(spark: SparkSession): DataFrame = {
    val raw = span("io", "Sources.csv")(mat(Sources.csv(spark, in.dir, schema)))
    val clean = span("prep", "extractTagValue/dropSubseconds/parseTimestampMulti") {
      mat(raw.select(Seq(
        Prep.extractTagValue(col("tags"), "machine").as("machine"),
        Prep.extractTagValue(col("tags"), "temperature").cast("double").as("temperature"),
        Prep.parseTimestampMulti(Prep.dropSubseconds(col("time")),
          Seq("yyyy-MM-dd HH:mm:ss", "dd/MM/yyyy HH:mm:ss")).as("ts"),
        col("time")) ++ BatchGen.Channels.map(col): _*))
    }
    span("core", "withOrderedIdx")(mat(Indexing.withOrderedIdx(clean, "idx", col("machine"), col("time"))))
  }

  def resample(indexed: DataFrame): DataFrame =
    span("prep", "downsample")(keep(Prep.downsample(indexed, "idx", BatchGen.Factor,
      BatchGen.Channels :+ "temperature")))

  /** Raw windows of one machine, keyed by `wid` = machine·10⁶ + window id. */
  def machineWindows(resampled: DataFrame, m: Int): DataFrame = {
    val n = perMachine
    val series = resampled.filter(expr(s"grp DIV $n") === m)
      .select((col("grp") - lit(m.toLong * n)).as("idx") +: BatchGen.Channels.map(col): _*)
    val stacked = span("prep", "truncate/split/standardize/stackChannels") {
      val kept = Prep.truncateToMultiple(series, "idx", BatchGen.PeriodRows)
      val (train, _) = Prep.sequentialSplit(kept, "idx", TrainRatio, Size)
      mat(Prep.stackChannels(Prep.standardize(train, kept, BatchGen.Channels), "idx",
        BatchGen.Channels))
    }
    span("window", "slidingWindows") {
      keep(Windows.slidingWindows(stacked, "global_idx", "value", Size, Step)
        .select((lit(m * 1000000L) + col("window_id")).as("wid"), col("values")))
    }
  }

  /** Per (model, machine, period) mean window MSE with its label, then
    * μ+4σ / rolling-min detection for every model and machine at once and
    * F1 / AUC per model. Returns (model → (starts by machine, f1, auc),
    * windows counted per model).
    */
  def detect(scores: DataFrame)
      : (Map[String, (Seq[(Int, Long)], Option[Double], Option[Double])], Map[String, Long]) = {
    val perPeriod = keep(scores.join(meta.filter(col("period") >= 0), "wid")
      .groupBy("model", "machine", "period").agg(avg("mse").as("mse"), count(lit(1)).as("n_windows"))
      .join(labels, Seq("machine", "period")))
    val nWin = perPeriod.groupBy("model").agg(sum("n_windows")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    span("eval", "anomalyStart/f1Score/aucRoc") {
      val starts = Eval.anomalyStart(perPeriod, "period", "mse", validationFrac = 0.1, k = 4.0,
        rollingWidth = 3, groupCols = Seq("model", "machine"))
      val startRows = starts.select("model", "machine", "anomaly_start", "threshold").collect()
      val pred = perPeriod.join(starts.select("model", "machine", "threshold"), Seq("model", "machine"))
      val res = Models.map { m =>
        val scored = Rated.contains(m)
        val f1 = if (!scored) None else Some(Eval.f1Score(pred.filter(col("model") === m),
          col("mse") > col("threshold"), col("label")).select("f1").head().getDouble(0))
        val auc = if (!scored) None else Some(Eval.aucRoc(perPeriod.filter(col("model") === m),
          col("mse"), col("label")).head().getDouble(0))
        m -> (startRows.filter(_.getString(0) == m).map(r => (r.getInt(1), r.getLong(2))).toSeq.sortBy(_._1),
          f1, auc)
      }.toMap
      (res, nWin)
    }
  }

  def pass(spark: SparkSession): PassOut = {
    val resampled = resample(readAndClean(spark))
    val rawWins = (0 until Machines).map(m => machineWindows(resampled, m))
    val fftWins = rawWins.map { w =>
      span("functions", "fft_magnitude") {
        keep(w.select(col("wid"), GraftFunctions.fft_magnitude(col("values")).as("values")))
      }
    }
    val trainIds = meta.filter(col("train")).select("wid")
    def trainOf(w: DataFrame) = w.join(trainIds, Seq("wid"), "left_semi")
    val allRaw = rawWins.reduce(_ union _)
    val allFft = fftWins.reduce(_ union _)

    val (lstm, dense) = span("model", "Trainer.fit") {
      (Trainer.fit(new LstmAutoencoder(Size, 4, seed = 7L), trainOf(allRaw), "values",
        epochs = 2, lr = 1e-2),
        Trainer.fit(new DenseAutoencoder(Seq(Size, 32, 8, 32, Size), seed = 7L),
          trainOf(allFft), "values", epochs = 3, lr = 1e-2))
    }
    // one FedAvg client per sensor channel, as the reference deploys them
    val clients = BatchGen.Channels.indices.map { c =>
      trainOf(allFft).join(meta.filter(col("channel") === c).select("wid"), Seq("wid"), "left_semi")
    }
    val fed = span("fed", "FedAvg.run") {
      FedAvg.run(new DenseAutoencoder(Seq(Size, 32, 8, 32, Size), seed = 7L),
        clients, "values", rounds = Rounds, lr = 1e-2)
    }
    val scores = span("model", "TrainedAutoencoder.score") {
      keep(Seq(lstm.score(allRaw, "values", "wid"), dense.score(allFft, "values", "wid"),
        fed.global.score(allFft, "values", "wid")).zip(Models)
        .map { case (d, m) => d.withColumn("model", lit(m)) }.reduce(_ union _))
    }

    val (results, nWin) = detect(scores)
    PassOut(in.rawRows, () => verify(results, nWin, resampled, rawWins, lstm, dense, fed), extra = Map(
      "window.windows_out" -> (Machines * windowsPerMachine).toDouble,
      "model.windows_scored" -> (3.0 * Machines * windowsPerMachine),
      "fed.rounds" -> Rounds.toDouble))
  }

  private def verify(results: Map[String, (Seq[(Int, Long)], Option[Double], Option[Double])],
                     nWin: Map[String, Long], resampled: DataFrame, rawWins: Seq[DataFrame],
                     lstm: TrainedAutoencoder, dense: TrainedAutoencoder,
                     fed: FedAvg.Result): Seq[Check] = {
    val checks = Seq.newBuilder[Check]
    val expectWin = Machines * 3 * ((perMachine - Size) / Step + 1)
    results.foreach { case (m, (starts, f1, auc)) =>
      checks += Check(s"$m: windows with a period", nWin.get(m).contains(expectWin.toLong),
        s"${nWin.get(m)} of $expectWin")
      starts.foreach { case (mach, start) =>
        checks += Check(s"$m: machine $mach anomaly start in fault span",
          start >= in.onsetPeriod(mach) && start < Periods,
          s"start $start, fault [${in.onsetPeriod(mach)}, $Periods)")
      }
      f1.foreach(v => checks += Check(s"$m: f1 >= ${Floors("f1")}", v >= Floors("f1"), f"f1 $v%.4f"))
      auc.foreach(v => checks += Check(s"$m: auc >= ${Floors("auc")}", v >= Floors("auc"), f"auc $v%.4f"))
    }
    val resN = resampled.count()
    val winN = rawWins.map(_.count()).sum
    checks += Check("resampled rows", resN == in.rawRows / BatchGen.Factor,
      s"$resN of ${in.rawRows / BatchGen.Factor}")
    checks += Check("windows", winN == Machines.toLong * windowsPerMachine,
      s"$winN of ${Machines * windowsPerMachine}")
    checks += Check("lstm and dense training ran", lstm.lossHistory.size == 2 &&
      dense.lossHistory.size == 3, s"${lstm.lossHistory.size}/${dense.lossHistory.size} epochs")
    fed.perClientLoss.zipWithIndex.foreach { case (h, c) =>
      checks += Check(s"fed: client $c final loss below initial", h.nonEmpty && h.last < h.head,
        h.map(x => f"$x%.5f").mkString(" -> "))
    }
    checks.result()
  }

  /** The raw CSV row count, from a plain scan of the files. */
  override def deepChecks(spark: SparkSession): Seq[Check] = {
    val rawN = Sources.csv(spark, in.dir, schema).count()
    Seq(Check("raw rows", rawN == in.rawRows, s"$rawN of ${in.rawRows}"))
  }
}
