package graft.prep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.window.Windows

/** Cleaning / resampling / normalization / restructuring operators
  * (SURVEY.md §2.2 P1–P12, §2.4 A1, §2.6 R1/R2).
  *
  * Every operator here is a narrow transformation or a single keyed
  * aggregation over an explicit `idx` column (see graft.core.Indexing) —
  * no unpartitioned windows, except ungrouped [[timeGaps]] (its
  * distinct-timestamp idx is sparse, so no chunk decomposition applies).
  * Shuffle inventory per op is noted.
  */
object Prep {

  /** P2 — extract an embedded `key=value` field from a tag string
    * (reference: `src/data/pipeline.py:30-31` pulls `temperature=` out of
    * the `tags` column). Pure codegen'd string expressions.
    */
  def extractTagValue(tags: Column, key: String): Column =
    // Pattern.quote: the key is a literal (pandas str.split semantics),
    // not a regex — keys like "cpu.temp" must not match wildcards.
    split(split(tags, java.util.regex.Pattern.quote(s"$key=")).getItem(1), " ").getItem(0)

  /** P3 — drop sub-second suffix of a string timestamp (`time.split('.')[0]`). */
  def dropSubseconds(ts: Column): Column = substring_index(ts, ".", 1)

  /** P4 — multi-format timestamp parse: try `fmts` in order, first hit wins
    * (reference tries ISO then `%d/%m/%Y`, `src/util/calculations.py:14-17`).
    */
  def parseTimestampMulti(c: Column, fmts: Seq[String]): Column =
    coalesce(fmts.map(f => try_to_timestamp(c, lit(f))): _*)

  /** P6 — truncate tail to a multiple of k: keep rows with idx < n - n%k.
    * `n` is computed as a 1-row aggregate and broadcast-joined (crossJoin of
    * a 1-row frame is a BroadcastNestedLoopJoin of a single row — free).
    */
  def truncateToMultiple(df: DataFrame, idxCol: String, k: Long): DataFrame = {
    val n = df.agg(count(lit(1)).as("_n")).select((col("_n") - col("_n") % k).as("_keep"))
    df.crossJoin(broadcast(n)).filter(col(idxCol) < col("_keep")).drop("_keep")
  }

  /** P7 — sequential (ordered) train split, NOT randomSplit. The reference
    * rounds the split point UP to the next multiple of `chunk`:
    * `split_len = int(n*ratio) + (chunk - int(n*ratio) % chunk)`
    * (`src/training/trainer.py:58-62`). Returns (train, rest).
    */
  def sequentialSplit(df: DataFrame, idxCol: String, ratio: Double, chunk: Long): (DataFrame, DataFrame) = {
    val splitLen = df
      .agg(count(lit(1)).as("_n"))
      .select((floor(col("_n") * ratio) + (lit(chunk) - floor(col("_n") * ratio) % chunk)).as("_split"))
    val tagged = df.crossJoin(broadcast(splitLen))
    (tagged.filter(col(idxCol) < col("_split")).drop("_split"),
     tagged.filter(col(idxCol) >= col("_split")).drop("_split"))
  }

  /** Deterministic hash split: assign each row to a named split by
    * hashing its id into 10,000 buckets — the reproducible
    * train/val/test assignment for unordered corpora (the ordered
    * time-series case is [[sequentialSplit]]). `fracs` are cumulative-
    * free (name → fraction, must sum to ≤ 1; remainder falls in the last
    * split). Pure narrow expression — a row's split never depends on
    * other rows, so it is stable under repartition, appends, and reruns.
    */
  def hashSplit(df: DataFrame, idCol: String, fracs: Seq[(String, Double)],
                out: String = "split"): DataFrame =
    splitByBucket(df, pmod(xxhash64(col(idCol)), lit(10000L)), fracs, out)

  /** The 10,000-bucket split-assignment grid shared by [[hashSplit]]
    * and [[portableSplit]] — one copy of the cumulative-bound fold, so
    * the two documented-identical contracts cannot desynchronize.
    */
  private def splitByBucket(df: DataFrame, bucket: Column,
                            fracs: Seq[(String, Double)], out: String): DataFrame = {
    require(fracs.nonEmpty && fracs.map(_._2).sum <= 1.0 + 1e-9, "fractions must sum to <= 1")
    val bounds = fracs.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val expr0 = fracs.zip(bounds).foldLeft(when(lit(false), "")) {
      case (acc, ((name, _), hi)) => acc.when(bucket < math.round(hi * 10000), name)
    }
    df.withColumn(out, coalesce(expr0, lit(fracs.last._1)))
  }

  /** SQL-portable deterministic hash of an integer id into [0, 2^32):
    * Knuth multiplicative hashing, `(id * 2654435761) mod 2^32`. Unlike
    * [[hashSplit]]'s xxhash64, any ANSI SQL engine can recompute it —
    * so shards, samples, and splits derived from it can be re-derived
    * and audited by external tools (the cross-engine reproducibility a
    * training-data lineage check needs). Requires |id| < 2^31 so the
    * product stays in long range under ANSI arithmetic; for string or
    * adversarial keys use [[hashSplit]].
    */
  def portableHash(id: Column): Column =
    pmod(id.cast("long") * 2654435761L, lit(4294967296L))

  /** [[hashSplit]] on [[portableHash]] buckets — the train/val/test
    * split whose assignment any engine can re-derive from the id alone
    * (the lineage-auditable twin; [[hashSplit]]'s xxhash64 stays the
    * default for string or adversarial keys). Same contract otherwise:
    * deterministic, append-stable (a new id never moves an old one),
    * proportions exact over the 10,000-bucket grid. Inherits
    * [[portableHash]]'s |id| < 2^31 precondition.
    */
  def portableSplit(df: DataFrame, idCol: String, fracs: Seq[(String, Double)],
                    out: String = "split"): DataFrame =
    splitByBucket(df, pmod(portableHash(col(idCol)), lit(10000L)), fracs, out)

  /** Deterministic per-stratum token-budget sampling: within each
    * stratum (language, domain, source…), documents are taken in
    * ([[portableHash]], id) order until the running `weightCol` total
    * (token count, as a long) exceeds `budget` — the "N tokens per
    * language" corpus-mixing step, reproducible across engines and stable
    * under corpus growth (a doc's selection changes only if earlier-hashed
    * mass changes).
    *
    * Scale shape: the running total is [[graft.window.Windows.rangeBucketedCumSum]]
    * with the stratum as its group (null-safe: a NULL stratum budgets
    * like any other) — per-(stratum, hash-range bucket) partial sums in
    * parallel plus one fold over each stratum's bucket totals. A plain
    * `Window.partitionBy(stratum)` would serialize each stratum — the
    * dominant language of a 100 TB corpus in ONE task.
    *
    * Output: the selected rows of `df` plus `_cum` (running token total
    * inclusive of the row, ≤ budget). A null id has no hash and raises an
    * error. Inherits [[portableHash]]'s |id| < 2^31 precondition —
    * out-of-range ids silently wrap under non-ANSI arithmetic and the
    * cross-engine re-derivation breaks.
    */
  def tokenBudgetSample(df: DataFrame, idCol: String, stratumCol: String,
                        weightCol: String, budget: Long): DataFrame =
    Windows.rangeBucketedCumSum(
        df.withColumn("_h", portableHash(col(idCol))).withColumn("_w", col(weightCol).cast("long")),
        Seq("_h", idCol), Seq("_w"), partCols = Seq(stratumCol))
      .withColumnRenamed("_w_cum", "_cum")
      .filter(col("_cum") <= budget)
      .drop("_h", "_w")

  /** Sequence packing ("concat-then-chunk"): documents are laid out in
    * ([[portableHash]], id) order, conceptually concatenated, and chunked
    * into fixed `seqLen`-token training sequences. Each document gets the
    * sequence id and in-sequence offset where its tokens start; a
    * document whose `offset + weight > seqLen` straddles a boundary and
    * is split by the downstream tokenizer — the standard LM-pretraining
    * layout (no padding waste, deterministic and re-derivable from ids).
    *
    * The exclusive running total is the inclusive one of
    * [[graft.window.Windows.rangeBucketedCumSum]] (global, no groups)
    * minus the row's own weight; a null weight counts as 0.
    *
    * Output: input rows plus `_start` (exclusive token cumsum), `seq_id`
    * (`_start div seqLen`) and `seq_offset` (`_start mod seqLen`). A null
    * id raises an error. Inherits [[portableHash]]'s |id| < 2^31
    * precondition (see [[tokenBudgetSample]]).
    */
  def packSequences(df: DataFrame, idCol: String, weightCol: String, seqLen: Long): DataFrame =
    Windows.rangeBucketedCumSum(
        df.withColumn("_h", portableHash(col(idCol)))
          .withColumn("_w", coalesce(col(weightCol).cast("long"), lit(0L))),
        Seq("_h", idCol), Seq("_w"))
      .withColumn("_start", col("_w_cum") - col("_w"))
      .withColumn("seq_id", expr(s"_start DIV $seqLen"))
      .withColumn("seq_offset", col("_start") % seqLen)
      .drop("_h", "_w", "_w_cum")

  /** Stratum-balancing mixture sampler: downsample every stratum
    * (language, domain, source…) to the size of the SMALLEST one —
    * `rate_s = min_n / n_s`, keep a row iff
    * `portableHash(id) < rate_s · 2^32`. The keep decision is per-row
    * O(1) against a broadcast rate table: the corpus itself never
    * shuffles, so the sampler runs narrow at ingest — and any SQL engine
    * can re-derive exactly which rows were kept. (Counts are
    * rate-proportional, not exact; for exact-N-per-stratum use
    * [[tokenBudgetSample]].) Inherits [[portableHash]]'s |id| < 2^31
    * precondition (see [[tokenBudgetSample]]).
    */
  def balancedSample(df: DataFrame, idCol: String, stratumCol: String): DataFrame = {
    val n = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_n"))
    val mn = n.agg(min(col("_n")).as("_mn"))
    val rates = broadcast(n.crossJoin(broadcast(mn))
      .select(col(stratumCol).as("_rs"), (col("_mn").cast("double") / col("_n")).as("_rate")))
    // null-safe: a NULL stratum is a real stratum with a real rate — a
    // plain equi-join would silently drop its rows
    df.join(rates, col(stratumCol) <=> col("_rs"))
      .filter(portableHash(col(idCol)).cast("double") < col("_rate") * 4294967296.0)
      .drop("_rs", "_rate")
  }

  /** Temperature-weighted mixture sampling — the multilingual-corpus α
    * rule: stratum s is sampled toward a target share
    * `q_s = n_s^α / Σ_t n_t^α` of `targetTotal` rows (α = 1 keeps natural
    * proportions, α = 0 equalizes strata, the usual 0.3–0.7 upweights
    * low-resource strata in between), via keep rate
    * `min(1, targetTotal · q_s / n_s)` on [[portableHash]]. Same
    * execution shape as [[balancedSample]]: per-row O(1) against a
    * broadcast rate table, the corpus never shuffles, any SQL engine
    * re-derives the kept set. (Counts are rate-proportional in
    * expectation, not exact; |id| < 2^31 precondition as always.)
    */
  def temperatureSample(df: DataFrame, idCol: String, stratumCol: String,
                        alpha: Double, targetTotal: Long): DataFrame = {
    require(alpha >= 0.0, s"alpha must be >= 0, got $alpha")
    val n = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_n"))
    val z = n.agg(sum(pow(col("_n"), alpha)).as("_z"))
    val rates = broadcast(n.crossJoin(broadcast(z))
      .select(col(stratumCol).as("_rs"),
        least(lit(1.0),
          lit(targetTotal.toDouble) * pow(col("_n"), alpha) / col("_z") / col("_n"))
          .as("_rate")))
    // null-safe join: see balancedSample
    df.join(rates, col(stratumCol) <=> col("_rs"))
      .filter(portableHash(col(idCol)).cast("double") < col("_rate") * 4294967296.0)
      .drop("_rs", "_rate")
  }

  /** Quantile (curriculum) bucketing: label every row with the number
    * of the given quantile cut points strictly below its `valueCol` —
    * quartile labels for `probs = 0.25/0.5/0.75`, difficulty tiers for
    * a curriculum schedule, equal-mass shards. The cut points are ONE
    * broadcast exact-`percentile` row (per-group-parallel aggregate);
    * the labeling pass is a narrow per-row fold over ≤ |probs| cuts —
    * the corpus never shuffles. Deterministic: exact interpolated
    * percentiles, no sketch (swap in approx_percentile for routine
    * monitoring at full scale). A null `valueCol` compares false to
    * every cut and lands in bucket 0 — filter nulls first if the lowest
    * tier must not absorb them.
    */
  def quantileBuckets(df: DataFrame, valueCol: String, probs: Seq[Double],
                      out: String = "bucket"): DataFrame = {
    // STRICTLY increasing: a duplicated prob would count its cut twice,
    // skipping a bucket id and leaving that tier permanently empty
    require(probs.nonEmpty && probs.zip(probs.tail).forall(p => p._1 < p._2) &&
      probs.forall(p => p > 0 && p < 1),
      s"need strictly increasing probs in (0,1), got $probs")
    val cuts = broadcast(df.agg(
      expr(s"percentile(`$valueCol`, array(${probs.map(p => s"${p}D").mkString(",")}))")
        .as("_cuts")))
    df.crossJoin(cuts)
      .withColumn(out, aggregate(col("_cuts"), lit(0),
        (acc, c) => acc + when(col(valueCol) > c, 1).otherwise(0)))
      .drop("_cuts")
  }

  /** One-pass column profiler (the Deequ-style data-quality sweep a
    * 100 TB ingest runs before training): per requested column, the
    * row count, null count, and EXACT distinct count, computed in ONE
    * aggregate over one scan — Spark plans the multi-column distinct
    * via Expand (data × #cols intermediate, map-side partial aggs), so
    * the pass stays shuffle-bounded and never re-scans per column. The
    * single wide result row is unpivoted to (col_name, n_rows, n_nulls,
    * n_distinct) — #cols rows, broadcast-sized.
    *
    * Exact distincts are the audit surface; for routine monitoring at
    * full scale swap `countDistinct` for `approx_count_distinct` (same
    * plan without Expand).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    // backticks: a dotted source column name must not re-parse as a
    // nested-field access when the alias is resolved back
    val aggs = count(lit(1)).as("_n") +: cols.flatMap(c => Seq(
      sum(when(col(s"`$c`").isNull, 1L).otherwise(0L)).as(s"_nn_$c"),
      countDistinct(col(s"`$c`")).as(s"_nd_$c")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
          lit(c).as("col_name"), col("_n").as("n_rows"),
          col(s"`_nn_$c`").cast("long").as("n_nulls"),
          col(s"`_nd_$c`").cast("long").as("n_distinct"))): _*)).as("_s"))
      .select("_s.*")
  }

  /** Deterministic k-per-stratum sample: the `k` rows of each stratum
    * with the smallest ([[portableHash]](id), id) among the PREFILTER
    * SURVIVORS — a seedless reservoir whose membership any engine
    * re-derives by ranking.
    *
    * Scale shape: a rate prefilter (`min(1, safety·k / n_s)`, broadcast
    * rate table, narrow scan) shrinks each stratum to ~safety·k
    * candidate rows, and only the candidates enter the per-stratum
    * ranking window — the window that would otherwise serialize a
    * 100 TB stratum in one task runs over ~safety·k rows per stratum.
    *
    * The survivor top-k equals the GLOBAL stratum top-k iff the k-th
    * smallest hash falls under the rate threshold. For ids whose hashes
    * spread uniformly, `safety` = 8 puts failure at Chernoff-tail odds
    * (P[Binom(n, 8k/n) < k] ≲ e^-3k), and a stratum with
    * n_s <= safety·k skips the filter entirely (rate 1) — but ids
    * PRE-SELECTED by another portableHash-based sampler can concentrate
    * hash mass above the threshold, in which case the sample is the
    * documented survivor ranking, not the global one, and may even hold
    * fewer than k rows. When chaining hash-derived samplers, raise
    * `safety` or verify per-stratum output counts (the registry query's
    * oracle ranks globally, certifying the equality for its corpus).
    *
    * Output: the selected rows plus `sample_rank` (1-based within the
    * stratum).
    */
  def stratifiedTopK(df: DataFrame, idCol: String, stratumCol: String, k: Int,
                     safety: Int = 8): DataFrame = {
    require(k > 0 && safety >= 2, s"need k > 0 (got $k), safety >= 2 (got $safety)")
    val n = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_n"))
    val rates = broadcast(n.select(col(stratumCol).as("_rs"),
      least(lit(1.0), lit(safety.toDouble * k) / col("_n")).as("_rate")))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("_h").asc, col(idCol).asc)
    df.withColumn("_h", portableHash(col(idCol)))
      .join(rates, col(stratumCol) <=> col("_rs")) // null-safe: see balancedSample
      .filter(col("_h").cast("double") < col("_rate") * 4294967296.0)
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
      .drop("_h", "_rs", "_rate")
  }

  /** Skew-safe exact per-group top-k by SCORE — the per-domain cap rule
    * (keep at most k documents per source, best-ranked first) that web
    * corpus builds apply so no single domain dominates the mix.
    * [[stratifiedTopK]]'s rate prefilter needs hash-uniform ranks; a
    * quality score has no such distribution, so this takes the
    * two-level route instead: rank within (group, salt) — `salts`
    * deterministic `portableHash` buckets — keep k per salt, then rank
    * the ≤ salts·k survivors per group. The global per-group top-k is
    * a subset of the per-salt top-ks, so the result is EXACT, and no
    * window ever serializes more than max(stratum/salts, salts·k) rows
    * in one task — a billion-document domain costs salts parallel
    * partial ranks, not one giant sorted partition.
    *
    * Ordering is (`score` desc, `idCol` asc) — the id tie-break makes
    * the kept set deterministic under equal scores. Output: the kept
    * rows plus `group_rank` (1-based within the group).
    */
  def groupTopK(df: DataFrame, groupCol: String, idCol: String,
                score: Column, k: Int, salts: Int = 32): DataFrame = {
    require(k > 0 && salts > 0, s"need k > 0 and salts > 0, got $k / $salts")
    // withColumn REPLACES same-named input columns — fail loudly instead
    // of silently corrupting caller data or the group_rank contract (the
    // HtmlExtraction.extractWithParser output-collision rule)
    Seq("_salt", "_r1", "group_rank").foreach { c =>
      require(!df.columns.contains(c),
        s"groupTopK writes working column '$c'; the input already has it — rename it first")
    }
    val w1 = Window.partitionBy(col(groupCol), col("_salt"))
      .orderBy(score.desc, col(idCol).asc)
    val w2 = Window.partitionBy(col(groupCol))
      .orderBy(score.desc, col(idCol).asc)
    // xxhash64, not portableHash: the salt is internal (never oracle
    // re-derived), and portableHash casts string/URL ids to NULL —
    // every row would land in one (group, null) salt bucket, silently
    // rebuilding the giant single-partition window this exists to avoid
    df.withColumn("_salt", pmod(xxhash64(col(idCol)), lit(salts.toLong)))
      .withColumn("_r1", row_number().over(w1))
      .filter(col("_r1") <= k)
      .withColumn("group_rank", row_number().over(w2))
      .filter(col("group_rank") <= k)
      .drop("_salt", "_r1")
  }

  /** P11 — z-score standardization. The reference fits scalers on three
    * different slices depending on call-site (full data, train slice, raw
    * file) — so the fit frame and the transform frame are explicit,
    * separate parameters here. Stats are a 1-row aggregate broadcast to the
    * transform side; stddev is sample stddev (pandas ddof=1).
    * Shuffles: 1 (the stats aggregation); transform side: 0.
    */
  def standardize(fit: DataFrame, transform: DataFrame, cols: Seq[String]): DataFrame = {
    val stats = fit.agg(
      cols.flatMap(c => Seq(avg(col(c)).as(s"_mu_$c"), stddev_samp(col(c)).as(s"_sd_$c"))).head,
      cols.flatMap(c => Seq(avg(col(c)).as(s"_mu_$c"), stddev_samp(col(c)).as(s"_sd_$c"))).tail: _*)
    val joined = transform.crossJoin(broadcast(stats))
    cols.foldLeft(joined) { (d, c) =>
      d.withColumn(c, (col(c) - col(s"_mu_$c")) / col(s"_sd_$c"))
    }.drop(cols.flatMap(c => Seq(s"_mu_$c", s"_sd_$c")): _*)
  }

  /** P12 — time-gap quality check: consecutive distinct timestamps whose
    * gap is negative or ≤ `maxGapSec` are flagged (reference logs them,
    * `src/data/pipeline.py:37-50`). Partitioned by `partCols` to keep the
    * lag window parallel; within a sensor stream the order key is `idx`.
    */
  def timeGaps(df: DataFrame, tsSecCol: String, idxCol: String,
               maxGapSec: Long, partCols: Seq[String] = Nil): DataFrame = {
    // The reference walks DISTINCT timestamps (`df['time_sec'].unique()`,
    // src/data/pipeline.py:41) — sub-second sampling makes consecutive
    // rows share a second, which must not be flagged as a stall. Keep the
    // first occurrence (min idx) per distinct timestamp, then lag in
    // original order so out-of-order times still show as negative gaps.
    val keys = (partCols :+ tsSecCol).map(col)
    val distinctTs = df.groupBy(keys: _*).agg(min(col(idxCol)).as(idxCol))
    val w = if (partCols.isEmpty) Window.orderBy(col(idxCol))
            else Window.partitionBy(partCols.map(col): _*).orderBy(col(idxCol))
    distinctTs.withColumn("_prev", lag(col(tsSecCol), 1).over(w))
      .withColumn("gap_sec", col(tsSecCol) - col("_prev"))
      .filter(col("gap_sec").isNotNull && (col("gap_sec") <= maxGapSec || col("gap_sec") < 0))
      .drop("_prev")
  }

  /** A1 — mean-downsample by integer-division grouping:
    * `groupby(idx // factor).mean()` (reference `src/data/resampler.py:34-37`).
    * Hash aggregation with map-side partial aggregation — one shuffle on
    * the group key; order restored arithmetically from the group id, not by
    * a sort of the full data.
    */
  def downsample(df: DataFrame, idxCol: String, factor: Long, valueCols: Seq[String]): DataFrame =
    // integer DIV, not `/`+cast: double division misassigns boundary rows
    // once quotients exceed double's 52-bit mantissa
    df.groupBy(expr(s"`$idxCol` DIV $factor").as("grp"))
      .agg(valueCols.map(c => avg(col(c)).as(c)).head, valueCols.map(c => avg(col(c)).as(c)).tail: _*)

  /** R1 — column-stack to a single series: all of channel 0, then channel
    * 1, … (`data.T.reshape(-1,1)`, reference `src/training/trainer.py:71-73`).
    * The global position is derived arithmetically: `channel * n + idx` —
    * no sort, no shuffle beyond the 1-row count broadcast.
    */
  def stackChannels(df: DataFrame, idxCol: String, channelCols: Seq[String]): DataFrame = {
    val n = df.agg(count(lit(1)).as("_n"))
    val stacked = df.crossJoin(broadcast(n)).select(
      col(idxCol), col("_n"),
      posexplode(array(channelCols.map(col): _*)).as(Seq("channel", "value")))
    stacked
      .select((col("channel") * col("_n") + col(idxCol)).as("global_idx"),
              col("channel"), col(idxCol), col("value"))
  }

  /** R2 — inverse of R1: `reshape(-1, k, order='F')` — global position back
    * to (channel = gidx div n, idx = gidx mod n) then pivot channels to
    * columns. One shuffle (the pivot's groupBy).
    */
  def unstackChannels(df: DataFrame, globalIdxCol: String, valueCol: String,
                      numChannels: Int): DataFrame = {
    val n = df.agg((count(lit(1)) / numChannels).cast("long").as("_n"))
    df.crossJoin(broadcast(n))
      .select((col(globalIdxCol) % col("_n")).as("idx"),
              expr(s"`$globalIdxCol` DIV _n").cast("int").as("channel"),
              col(valueCol))
      .groupBy("idx")
      .pivot("channel", (0 until numChannels).map(_.toString))
      .agg(first(col(valueCol)))
  }
}
