package graft

import java.nio.file.{Files, Path}

import scala.sys.process.{Process, ProcessLogger}

/** The DuckDB oracle gate inside the test suite: every oracle-bearing
  * row of the sign-bucket and IVF families (plus the two rows that share
  * their JL projection), every row whose oracle is built from a shared
  * text-dedup or autoencoder stage, and every row whose Spark side runs a
  * trailing frame or bucketed running total of `graft.window`, is dumped
  * on sf0.001 through
  * [[Verify.dump]] (the path `graft.Verify` takes) and compared by
  * `tools/check_correctness.py`. One test per row, so a failure names the
  * row. Without `duckdb`, `pandas` and `numpy` for `python3` the row
  * tests cancel.
  */
class OracleGateSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** The rows whose oracles restate a shared stage: the document token
    * CTE, n-gram starts, duplicated-span cover and scrub tail, exact
    * cosine pairs, cluster closure and canonical rank, incremental dedup,
    * Jaccard, winnow islands, BPE, BM25, and the z-score window prefix
    * and 4→2→4 forward pass of the autoencoder rows.
    */
  private val stageRows = Set(
    "x_dedup_incremental", "x_dedup_incremental_bloom", "x_corpus_funnel", "x_lm_score",
    "x_doc_chunks", "x_winnow_matches", "x_winnow_spans", "x_winnow_dedup_corpus",
    "x_winnow_scrub", "x_dup_ngrams", "x_cosine_near_dup", "x_dedup_clusters",
    "x_canonical_selection", "x_canonical_corpus", "x_jaccard_verify", "x_jaccard_fallback",
    "x_minhash_recall", "x_jaccard_exact", "x_jaccard_stored", "x_bpe_merges",
    "x_bpe_merges_dist", "x_bpe_merges_100", "x_bpe_subwords_100", "x_bpe_subwords",
    "x_bm25", "x_hybrid_search", "x_decontaminate", "x_chunk_dedup", "x_dup_spans",
    "x_dup_span_scrub", "x_dup_scrub_stored", "x_novelty", "x_cosine_lsh_recall",
    "xs_stream_decontaminate", "xs_stream_scrub", "m7b_fixed_reconstruction",
    "m1b_lstm_fixed_reconstruction", "m2b_train_epoch", "m5b_epoch_loss",
    "m9b_model_selection")

  /** The rows whose Spark side reaches a trailing-frame operator
    * (temporalize, lagShift, rollingMin/Mean, islands), the bucketed
    * running total, sessionize or the as-of join.
    */
  private val windowRows = Set(
    "w4_temporalize", "w5_last_timestep", "w6_rolling_min", "w7_rolling_mean",
    "w12_islands", "w13_cumsum", "w14_lag_shift", "a8_auc", "a8b_auc_trapezoid",
    "a10_certainty", "x_sessionize", "x_token_budget_sample", "x_sequence_pack",
    "x_asof_join", "x_asof_global", "x_event_enrich", "anomaly_pipeline")

  private def annOrStage(n: String): Boolean =
    Seq("x_semantic_dedup", "x_knn_join", "x_ivf_").exists(n.startsWith) ||
      n == "x_random_projection" || n == "xs_stream_semantic_pairs" || stageRows(n)

  /** The gated rows, read from the registry in its order, so no
    * oracle-bearing row of the two ANN families is left out.
    */
  private val rows = SparkEntry.registry.map(_.name).filter { n =>
    SparkEntry.oracleSql.contains(n) && (annOrStage(n) || windowRows(n))
  }

  /** The checker needs all three modules. */
  private lazy val checkerDeps =
    Process(Seq("python3", "-c", "import duckdb, pandas, numpy")).!(ProcessLogger(_ => ())) == 0

  private lazy val out: Path = Files.createTempDirectory("graft-oracle-gate")

  /** Row → the checker's verdict ("OK" or its failure text). */
  private lazy val verdicts: Map[String, String] = {
    Verify.dump(spark, sf, out.toString, rows, "oracle-gate", keepFailedOracles = true)
    val lines = Seq.newBuilder[String]
    Process(Seq("python3", "tools/check_correctness.py", sf, out.toString,
      "--only", rows.mkString(","))).!(ProcessLogger(lines += _, System.err.println(_)))
    lines.result().collect {
      case l if l.startsWith("OK ") => l.drop(3).trim -> "OK"
      case l if l.startsWith("FAIL ") =>
        val (name, why) = l.drop(5).span(_ != ' ')
        name -> why.stripPrefix(" :: ")
    }.toMap
  }

  override def afterAll(): Unit = {
    if (Files.exists(out)) {
      val tree = Files.walk(out)
      try tree.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally tree.close()
    }
    super.afterAll()
  }

  test("the registry has 227 distinct row names") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 227)
    assert(names.distinct.size == names.size)
  }

  test("the gate covers the 65 oracle rows of the ANN families and shared stages") {
    assert(stageRows.forall(SparkEntry.oracleSql.contains), stageRows.filterNot(SparkEntry.oracleSql.contains))
    assert(rows.count(annOrStage) == 65, rows.filter(annOrStage).mkString(", "))
  }

  test("the gate covers the 17 oracle rows of the window decompositions, 82 in all") {
    assert(windowRows.forall(SparkEntry.oracleSql.contains),
      windowRows.filterNot(SparkEntry.oracleSql.contains))
    assert(windowRows.size == 17 && rows.size == 82, rows.mkString(", "))
  }

  rows.foreach { row =>
    test(s"$row matches its DuckDB oracle on sf0.001") {
      assume(checkerDeps, "python3 cannot import duckdb, pandas and numpy")
      assert(verdicts.get(row).contains("OK"), s"$row: ${verdicts.getOrElse(row, "not checked")}")
    }
  }
}
