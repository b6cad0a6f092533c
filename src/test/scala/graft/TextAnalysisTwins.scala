package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.TextAnalysis
import graft.ext.TextAnalysis.{EmailRe, Ipv4Re, PhoneRe, Stopwords, applyMergeFold, tokens}

/** Reference forms of five [[TextAnalysis]] operators, each written the
  * way the operator first shipped (split arrays, higher-order functions,
  * one regex pass per count). The library replaced them with codegen
  * kernels and fused scans; EvalFunctionsSpec pins each kernel bitwise
  * against the form here, an independent re-derivation of the same
  * result. Nothing outside the tests calls them.
  */
object TextAnalysisTwins {

  /** The lookaround-split form of [[TextAnalysis.subwordCount]]. */
  def subwordCountSplit(text: Column): Column =
    size(filter(split(text, "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"), t => length(t) > 0))

  /** The split/HOF form of [[TextAnalysis.qualitySignals]]. */
  def qualitySignalsSplit(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks)
    df.withColumn("n_chars_m", length(col(textCol)))
      .withColumn("n_tokens", nTok)
      .withColumn("mean_token_len",
        (length(col(textCol)) - nTok + 1).cast("double") / nTok)
      .withColumn("punct_ratio",
        (length(col(textCol)) -
          length(regexp_replace(col(textCol), "[\\.,;:!\\?]", ""))).cast("double") /
          length(col(textCol)))
      .withColumn("stopword_ratio",
        size(filter(toks, t => t.isin(Stopwords: _*))).cast("double") / nTok)
  }

  /** The interpreted HOF-chain form of [[TextAnalysis.bpeEncode]]: one
    * [[TextAnalysis.applyMergeFold]] per merge, in rank order.
    */
  def bpeEncodeHof(df: DataFrame, idCol: String, textCol: String,
                   merges: Seq[(String, String)]): DataFrame = {
    def chars(w: Column): Column =
      transform(sequence(lit(0), length(w) - 1), i => w.substr(i + lit(1), lit(1)))
    def enc(w: Column): Column =
      merges.foldLeft(chars(w)) { case (c, (l, r)) => applyMergeFold(c, l, r) }
    df.select(col(idCol),
      flatten(transform(filter(tokens(col(textCol)), w => length(w) > 0),
        w => enc(w))).as("subwords"))
  }

  /** The regexp-chain form of [[TextAnalysis.redactPii]]. */
  def redactPiiRegexp(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails", size(regexp_extract_all(t, lit(EmailRe), lit(0))))
      .withColumn("n_ips", size(regexp_extract_all(t, lit(Ipv4Re), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(t, lit(PhoneRe), lit(0))))
      .withColumn("redacted",
        regexp_replace(regexp_replace(regexp_replace(t,
          EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>"))
  }

  /** The higher-order-function form of [[TextAnalysis.winnowFingerprints]],
    * and the worked example of the HOF pitfalls it hits.
    *
    * The token-hash and gram-hash arrays each materialize BELOW a
    * single-element-explode Generate (the [[TextAnalysis.ngramCounts]] /
    * bandedSignatureRows barrier pattern): without the barriers,
    * CollapseProject re-inlines `_th` into every gram lambda and `_gh`
    * into every window lambda, turning the chain O(n²·w·chars) per
    * document — measured as a hang at 500 docs; with them each array is
    * computed once per row and every downstream reference is an O(1)
    * data read.
    */
  def winnowFingerprintsHof(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 4, w: Int = 5): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1, got $k / $w")
    val M = 2147483647L // 2^31 - 1: keeps every intermediate < 2^39
    def tokHash(t: Column): Column =
      when(length(t) === 0, lit(0L)).otherwise(
        aggregate(sequence(lit(1), length(t)), lit(0L),
          (a, i) => pmod(a * lit(31L) + ascii(t.substr(i, lit(1))), lit(M))))
    def gramHash(th: Column, p: Column): Column =
      aggregate(sequence(lit(0), lit(k - 1)), lit(0L),
        (a, j) => pmod(a * lit(131L) + element_at(th, p + j + 1), lit(M)))
    val grams = df
      .select(col(idCol), tokens(col(textCol)).as("_ws"))
      .filter(size(col("_ws")) >= k)
      .select(col(idCol),
        transform(col("_ws"), t => tokHash(t)).as("_th"))
      .select(col(idCol), col("_th"), explode(array(lit(0))).as("_b1"))
      .select(col(idCol),
        transform(sequence(lit(0), size(col("_th")) - k),
          p => gramHash(col("_th"), p)).as("_gh"))
      .select(col(idCol), col("_gh"), explode(array(lit(0))).as("_b2"))
    // a short document (fewer than w grams) degrades to width = #grams:
    // one whole-document window, the standard winnowing edge rule
    val width = least(lit(w), size(col("_gh")))
    def pick(gh: Column, q: Column): Column = {
      val sl = slice(gh, q + 1, width)
      val m = array_min(sl)
      val j = array_max(filter(sequence(lit(0), width - 1),
        jj => element_at(sl, jj + 1) === m))
      struct((q + j).cast("long").as("pos"), m.as("gram_hash"))
    }
    grams
      .select(col(idCol), array_distinct(
        transform(sequence(lit(0), size(col("_gh")) - width),
          q => pick(col("_gh"), q))).as("_fps"))
      // explode_OUTER: a plain explode makes InferFiltersFromGenerate
      // synthesize `size(_fps) > 0`, which pushes below both barriers
      // and re-inlines the whole chain into one per-row filter (the
      // exact blow-up the barriers exist to stop). The outer form skips
      // the inference and is equivalent: ≥ 1 gram ⇒ ≥ 1 window ⇒ _fps
      // is never empty.
      .select(col(idCol), explode_outer(col("_fps")).as("_fp"))
      .select(col(idCol), col("_fp.pos").as("pos"),
        // build-time (k, w) stamped as field metadata (survives the
        // parquet round-trip) so a stored fingerprint index probed at
        // different parameters fails loudly — the ngramPairs contract
        col("_fp.gram_hash").as("gram_hash",
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("winnow_k", k.toLong).putLong("winnow_w", w.toLong)
            .build()))
  }
}
