package graft

/** Benchmark main (driver contract): one JSON line with per-query seconds.
  *
  * Queries run in registry order (stable across rounds — Map iteration
  * order changed timings up to 4× when the registry grew) after a short
  * warm-up query that pays the one-time codegen/JIT/broadcast costs.
  *
  * Each query runs `SPARK_GRAFT_BENCH_REPS` times (default 3) and reports
  * the MEDIAN — single-run fixed-order numbers swung 4× round-over-round
  * on untouched code. A rep that throws is NOT recorded as a fast
  * success: the query reports -1 and lands in the `failed` list.
  *
  * The timed action is `queryExecution.toRdd.count()` — drain every row
  * of the query's OWN physical plan — not `Dataset.count()`: count()
  * re-optimizes `Aggregate(count, plan)` from scratch, and Catalyst
  * then legally deletes whole subtrees whose rows provably don't change
  * the count (measured: the scrub lane's left-join reassembly — right
  * side unique by aggregate, no right column referenced — collapsed to
  * a bare parquet-scan count, benching a 2.3 s query as 0.2 s). The
  * Verify gate always wrote full results, so this was a bench-fidelity
  * hole only.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // stream rows get more reps by default: their 2-4.5 s micro-batch
    // floor is scheduling-dominated, and at 3 reps the medians moved
    // ±20-35% round-over-round with no code change (r13 verdict item 6)
    // — two of them topped the suite on wobble alone. 5 reps costs
    // ~+30 s wall (medians, so the reported totals are unaffected).
    val streamReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_STREAM_REPS", "5").toInt.max(1)
    val spark = graft.core.GraftSession.local()
    try SparkEntry.entry(spark).queryExecution.toRdd.count() catch { case _: Throwable => }
    // Pre-materialize the shared eventsIdx table in the warmup: it is
    // written ONCE per (session, dir) and whichever timed query touched
    // the memo first paid the write — a position-dependent one-time cost
    // that aliased into round-over-round diffs as operator drift
    // (m10_fedavg 1.70/0.90/1.60 s across r10-r12 with code unchanged).
    try graft.core.Tables.eventsIdx(spark, sfDir).queryExecution.toRdd.count()
    catch { case _: Throwable => }
    def timed(name: String, run: () => Unit, nReps: Int = reps): (String, Double) = {
      val times = (1 to nReps).map { _ =>
        val t0 = System.nanoTime()
        try { run(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      }
      val ok = times.filter(_ >= 0).sorted
      // median of successful reps; any failed rep marks the query failed
      val t = if (times.exists(_ < 0) || ok.isEmpty) -1.0 else ok(ok.size / 2)
      // release dead localCheckpoint blocks before the next query's reps:
      // ContextCleaner frees them only after a driver GC, and accumulated
      // blocks bleed into later queries' timings (position noise)
      System.gc()
      name -> t
    }
    // xs_stream_* rows are the CORRECTNESS-gate harness for the streaming
    // surface (finite file-source replay into a memory sink, built for
    // the DuckDB compare). Benching them would re-measure the same
    // operators the dedicated stream_* cases below already price under
    // controlled micro-batch runs — through a driver-memory sink the
    // production path never uses — so they are excluded here.
    // m10_fedavg runs ~40 tiny driver-synchronous jobs (per-client
    // epochs + weight collects per round), so its warm reps are
    // bimodal 1.6-2.6 s in ONE process (r14 isolated profile, 8 reps)
    // — a 3-rep median lands anywhere in that band and aliased as
    // round-over-round drift three rounds running. More reps, same
    // remedy as the stream rows; the median converges to ~1.9 s.
    val noisyRows = Set("m10_fedavg")
    // SPARK_GRAFT_BENCH_SKIP: comma-separated rows to exclude — for the
    // ×10+ scale sweeps, where the two DESIGNATED-QUADRATIC oracle
    // fixtures (x_ivf_knn_join/_pinned, nlist = 8 by designation) cost
    // ~205 s of the 592 s sf1 sweep and would dominate sf10 outright.
    // Skipped names are RECORDED in the JSON and tools/sweep_check.py
    // accepts them only under --allow-designated with their bounded
    // stand-ins (x_ivf_knn_join*_capped) present and green — a skip can
    // never silently shrink sweep coverage.
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val batchResults = SparkEntry.registry.filterNot(_.name.startsWith("xs_"))
      .filterNot(q => skip(q.name)).map { q =>
      timed(q.name, () => { q.fn(spark, sfDir).queryExecution.toRdd.count(); () },
        if (noisyRows(q.name)) streamReps else reps)
    }
    // streaming ingest surface: full micro-batch runs over seeded synthetic
    // streams (see StreamBench) — wall seconds per complete ingest, so
    // state-store/watermark regressions are bench-visible like batch plans.
    // SPARK_GRAFT_BENCH_STREAMING=0 skips (e.g. for sf-scaling studies).
    val streamResults =
      if (sys.env.get("SPARK_GRAFT_BENCH_STREAMING").contains("0")) Nil
      else graft.streaming.StreamBench.cases(spark).map {
        case (name, run) => timed(name, run, streamReps)
      }
    val results = batchResults ++ streamResults
    val failed = results.collect { case (n, t) if t < 0 => "\"" + n + "\"" }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // Separate subtotals (r15 verdict task 7): the stream_* rows price a
    // scheduler-dominated, sf-INDEPENDENT micro-batch floor (~55% of the
    // suite sum at the driver sf) whose ±20-35% wobble kept dominating
    // round-over-round headline diffs — batch_total is the number that
    // tracks operator cost; compare like with like (bench_diff.py prints
    // both when present).
    val batchTotal = batchResults.map(_._2).filter(_ >= 0).sum
    val streamTotal = streamResults.map(_._2).filter(_ >= 0).sum
    val skipped = skip.toSeq.sorted.map("\"" + _ + "\"")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""failed":${failed.mkString("[", ",", "]")},""" +
      s""""skipped":${skipped.mkString("[", ",", "]")},"reps":$reps,""" +
      s""""stream_reps":$streamReps,"batch_total":$batchTotal,""" +
      s""""stream_total":$streamTotal,"sf":"$sfDir"}"""
    println(line)
    // The driver's BENCH_r{N}.json wrapper keeps only a 2,000-char tail of
    // stdout, which truncated ~130/190 rows in r9/r10 and left bench_diff
    // comparing a fraction of the registry. Persist the full line to a
    // stable path (overridable) so the complete registry is diffable
    // round-over-round; the builder commits it as BENCH_FULL_r{N}.json.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_full.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // Compact totals-only line, printed LAST (r16 verdict task 2): the
    // driver's BENCH wrapper keeps a 2,000-char tail of stdout, and the
    // full per-query line above is ~8 KB — it has never survived to be
    // parsed (PERF per_query empty since r10). This line is <500 chars,
    // so a COMPLETE JSON object always sits inside any tail window. The
    // full line (and target/bench_full.json) keeps the per-query map;
    // nothing is removed or renamed.
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""batch_total":$batchTotal,"stream_total":$streamTotal,""" +
      s""""failed":${failed.mkString("[", ",", "]")},""" +
      s""""skipped":${skipped.mkString("[", ",", "]")},"reps":$reps,""" +
      s""""stream_reps":$streamReps,"sf":"$sfDir","full_json":"$outPath"}""")
    spark.stop()
  }
}
