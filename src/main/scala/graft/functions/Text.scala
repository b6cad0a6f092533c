package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Text-scan kernels for the hot narrow rows (r17 optimization round,
  * guide step 4: non-codegen expressions / allocation in the per-row
  * path). Three shapes recur across the text-analysis lane:
  *
  *  - counting regex matches via `size(regexp_extract_all(…))` copies
  *    every match into an array just to take its length —
  *    [[RegexCountLit]] runs the same `Matcher.find()` loop and counts;
  *  - a count column and a replace column over the SAME (text, pattern)
  *    pair scan the text twice — [[RegexCountReplaceLit]] produces
  *    `struct(n, replaced)` from one pass (the find loop that drives
  *    `appendReplacement` IS the match count);
  *  - the quality signals tokenized with `split(" +")` + an interpreted
  *    higher-order `filter` allocate the full token array per row to
  *    extract three integers — [[SpaceTokenStats]] computes
  *    (piece count, stopword hits, punctuation chars) in one byte scan
  *    of the UTF8String (ASCII bytes never occur inside UTF-8
  *    multi-byte sequences, so byte comparison is exact).
  *
  * Every kernel is pinned bitwise against its expression-chain twin in
  * EvalFunctionsSpec (twins in the test-side `TextAnalysisTwins`).
  */
object TextKernel {

  /** Number of `find()` matches — exactly `size(regexp_extract_all(s, p, 0))`
    * (both count the same non-overlapping left-to-right match sequence).
    */
  def count(s: UTF8String, p: Pattern): Int = {
    val m = p.matcher(s.toString)
    var n = 0
    while (m.find()) n += 1
    n
  }

  /** One pass for (match count, replace-all). `repl` follows
    * `Matcher.appendReplacement` semantics ($ group refs, backslash
    * escapes) — the same interpretation `regexp_replace` applies, so the
    * `replaced` field is bitwise-equal to `regexp_replace(s, p, repl)`
    * and `n` to `size(regexp_extract_all(s, p, 0))`.
    */
  def countReplace(s: UTF8String, p: Pattern, repl: String): InternalRow = {
    val m = p.matcher(s.toString)
    val sb = new java.lang.StringBuffer
    var n = 0
    while (m.find()) { m.appendReplacement(sb, repl); n += 1 }
    m.appendTail(sb)
    new GenericInternalRow(Array[Any](n, UTF8String.fromString(sb.toString)))
  }

  private def isStop(s: UTF8String, from: Int, len: Int,
                     stop: Array[Array[Byte]]): Boolean = {
    var w = 0
    while (w < stop.length) {
      val word = stop(w)
      if (word.length == len) {
        var j = 0
        while (j < len && s.getByte(from + j) == word(j)) j += 1
        if (j == len) return true
      }
      w += 1
    }
    false
  }

  /** (n_tokens, n_stop, n_punct) in one byte scan.
    *
    *  - n_tokens = `size(split(s, " +"))` exactly: Java split with
    *    limit -1 keeps leading/trailing empty pieces, so piece count =
    *    (number of maximal 0x20 runs) + 1 for EVERY input (incl. "" →
    *    1 and "   " → 2).
    *  - n_stop = pieces equal to a stopword (empty pieces match nothing).
    *  - n_punct = occurrences of the ASCII bytes `.,;:!?` — equal to
    *    `length(s) - length(regexp_replace(s, "[\\.,;:!\\?]", ""))`
    *    because those bytes never appear inside multi-byte sequences.
    */
  def spaceTokenStats(s: UTF8String, stop: Array[Array[Byte]]): InternalRow = {
    val n = s.numBytes
    var i = 0
    var spaceRuns = 0
    var prevSpace = false
    var tokStart = 0
    var nStop = 0
    var nPunct = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b == 0x20) {
        if (!prevSpace) {
          spaceRuns += 1
          if (i > tokStart && isStop(s, tokStart, i - tokStart, stop)) nStop += 1
        }
        prevSpace = true
        tokStart = i + 1
      } else {
        prevSpace = false
        if (b == '.' || b == ',' || b == ';' || b == ':' || b == '!' || b == '?')
          nPunct += 1
      }
      i += 1
    }
    if (n > tokStart && isStop(s, tokStart, n - tokStart, stop)) nStop += 1
    new GenericInternalRow(Array[Any](spaceRuns + 1, nStop, nPunct))
  }
}

/** `count(regex matches)` over a string column with a PLAN-CONSTANT
  * pattern — no match-array allocation (vs `Size(RegExpExtractAll)`,
  * which `regexp_count` rewrites to). The pattern compiles once per
  * expression instance and ships with the task references.
  */
case class RegexCountLit(child: Expression, regex: String) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "regex_count_lit"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${child.dataType.sql}")

  @transient private lazy val pattern: Pattern = Pattern.compile(regex)

  override def nullSafeEval(v: Any): Any =
    TextKernel.count(v.asInstanceOf[UTF8String], pattern)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("regexCountPattern", pattern, "java.util.regex.Pattern")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernel.count($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): RegexCountLit =
    copy(child = newChild)
}

/** One-pass `struct(n: int, replaced: string)` for a (pattern,
  * replacement) pair over a string column — see [[TextKernel.countReplace]]
  * for the exact `regexp_replace`/`regexp_extract_all` equivalence.
  */
case class RegexCountReplaceLit(child: Expression, regex: String,
                                replacement: String) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("replaced", StringType, nullable = false)))
  override def prettyName: String = "regex_count_replace_lit"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${child.dataType.sql}")

  @transient private lazy val pattern: Pattern = Pattern.compile(regex)

  override def nullSafeEval(v: Any): Any =
    TextKernel.countReplace(v.asInstanceOf[UTF8String], pattern, replacement)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("regexCrPattern", pattern, "java.util.regex.Pattern")
    val rep = ctx.addReferenceObj("regexCrRepl", replacement, "java.lang.String")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernel.countReplace($c, $ref, $rep);")
  }

  override protected def withNewChildInternal(newChild: Expression): RegexCountReplaceLit =
    copy(child = newChild)
}

/** `struct(n_tokens: int, n_stop: int, n_punct: int)` over a string
  * column — the quality-signal integers in one byte scan (see
  * [[TextKernel.spaceTokenStats]] for the split/filter equivalences).
  */
case class SpaceTokenStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false)))
  override def prettyName: String = "space_token_stats"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${child.dataType.sql}")

  @transient private lazy val stopBytes: Array[Array[Byte]] =
    stopwords.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

  override def nullSafeEval(v: Any): Any =
    TextKernel.spaceTokenStats(v.asInstanceOf[UTF8String], stopBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopwordBytes", stopBytes, "byte[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernel.spaceTokenStats($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): SpaceTokenStats =
    copy(child = newChild)
}
