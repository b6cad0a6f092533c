package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native vector kernels for the similarity operators, as Catalyst
  * expressions WITH `doGenCode`: the higher-order-function formulations
  * (`aggregate(zip_with(...))`) are semantically right but evaluate boxed
  * lambdas per element — measured ~100 ns per multiply-add on the
  * embeddings bench. These generate the tight primitive loop that a
  * hand-written inner kernel would be, stay inside whole-stage codegen,
  * and keep bitwise-identical results (same sequential fold order).
  */

/** Prints an expression's plan-constant array arguments by length and
  * content hash. An array's own `toString` is its JVM identity hash, so
  * the same plan printed differently in every run.
  */
private[functions] trait ContentArgs extends Expression {
  override protected def stringArgs: Iterator[Any] = super.stringArgs.map {
    case m: Array[Array[Double]] =>
      s"double[${m.length}][]:${java.util.Arrays.deepHashCode(m.asInstanceOf[Array[AnyRef]]).toHexString}"
    case a: Array[Double] => s"double[${a.length}]:${java.util.Arrays.hashCode(a).toHexString}"
    case a: Array[Long] => s"long[${a.length}]:${java.util.Arrays.hashCode(a).toHexString}"
    case other => other
  }
}

/** Cosine similarity of two `array<double>` columns. Null when either
  * side is null, lengths differ, or any element is null — exactly the
  * propagation of the `zip_with` + `aggregate` form it replaces (zip_with
  * null-pads length mismatches, nulling the fold). A zero norm divides
  * to NaN/Inf like the HOF form, preserving ordering semantics.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      // freshName for EVERY local: raw `x`/`y` spliced into the shared
      // whole-stage method scope can collide with another expression's
      // locals — Janino then fails the stage and Spark silently falls back
      // to interpreted execution, losing the kernel's entire speedup.
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
        |final int $n = $a.numElements();
        |if ($n != $b.numElements()) {
        |  ${ev.isNull} = true;
        |} else {
        |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
        |  for (int $i = 0; $i < $n; $i++) {
        |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
        |    final double $x = $a.getDouble($i);
        |    final double $y = $b.getDouble($i);
        |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
        |  }
        |  if (!${ev.isNull}) {
        |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
        |  }
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** `matrix · vec` for a PLAN-CONSTANT row-major matrix (the LSH
  * hyperplane bank): one primitive nested loop per row emitting all
  * projections at once — the (planes × dim) multiply the HOF form paid
  * per-plane lambda overhead for. The matrix rides along as a codegen
  * reference object, not as 128 literal-array expressions. Output length
  * = matrix rows; null on null input, null elements, or a length
  * mismatch with the matrix columns.
  */
case class MatVecProduct(child: Expression, matrix: Array[Array[Double]])
    extends UnaryExpression with ContentArgs {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "matvec_product"

  private val rows = matrix.length
  private val cols = if (rows == 0) 0 else matrix(0).length

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<double>, got ${other.sql}")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val a = v.asInstanceOf[ArrayData]
    if (a.numElements() != cols) return null
    val out = new Array[Double](rows)
    var p = 0
    while (p < rows) {
      val mRow = matrix(p)
      var s = 0.0
      var i = 0
      while (i < cols) {
        if (a.isNullAt(i)) return null
        s += a.getDouble(i) * mRow(i)
        i += 1
      }
      out(p) = s
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val matRef = ctx.addReferenceObj("matvecMatrix", matrix, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val mRow = ctx.freshName("mRow")
      s"""
        |if ($a.numElements() != $cols) {
        |  ${ev.isNull} = true;
        |} else {
        |  final double[] $out = new double[$rows];
        |  for (int $p = 0; $p < $rows && !${ev.isNull}; $p++) {
        |    final double[] $mRow = $matRef[$p];
        |    double $s = 0.0;
        |    for (int $i = 0; $i < $cols; $i++) {
        |      if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
        |      $s += $a.getDouble($i) * $mRow[$i];
        |    }
        |    $out[$p] = $s;
        |  }
        |  if (!${ev.isNull}) {
        |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        |  }
        |}
      """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MatVecProduct =
    copy(child = newChild)
}

/** IVF probe selection — the whole per-row coarse-quantizer decision of
  * [[graft.ext.Similarity.ivfKnnJoin]] as ONE native expression: raw
  * `array<double>` vector in, the row's `nprobe` probe-cell indices out
  * (rank order: element 1 is the membership cell). Computes
  * ‖v‖ → (v·c_p)/‖v‖ − offset_p for every centroid → top-`nprobe` by
  * (score desc, ties → lower cell), all in primitive loops.
  *
  * This replaces the composed form (`sqrt(aggregate(zip_with(...)))`
  * norm column + [[MatVecProduct]] + `zip_with` score lambda +
  * `array_sort`/`slice`), which was semantically right but melted at
  * scale for a PLAN reason, not a flop reason: CollapseProject inlined
  * the norm column into the per-element score lambda (re-evaluating the
  * O(d) norm aggregate per centroid — the O(d·nlist) blowup the r13
  * advice flagged in its first form), and join-side filter inference
  * (`InferFiltersFromGenerate` + equi-key null filters) then DUPLICATED
  * that interpreted expression tree into pushed Filter conditions on
  * BOTH join inputs — ~4 full evaluations per row, every one of them
  * boxed-lambda interpreted because higher-order functions don't
  * codegen. Measured at the ×10 sweep: 117 s in the candidate join
  * stage of a 40k-probe × 20k-member input that yields only 4 M
  * candidate rows. A single codegen'd kernel is immune to collapse
  * (nothing to inline into) and cheap even when Catalyst duplicates it
  * into filters: O(d·nlist + nlist·nprobe) primitive work per call.
  *
  * Arithmetic contract (bitwise vs the composed form, which the green
  * `x_ivf_knn_join_pinned` oracle restates): norm = sequential-fold
  * Σx², score = dot·(1/√Σx²) − offset with the dot a sequential fold in
  * centroid-element order, selection by strict `>` over ascending cell
  * index = (score desc, ties → lower cell). Null on: null input, null
  * element, length ≠ centroid dim, or zero norm (a zero vector has no
  * direction, hence no probe cell — callers drop these rows, the IVF
  * convention the oracle mirrors).
  */
case class IvfProbes(child: Expression, centroids: Array[Array[Double]],
                     offsets: Array[Double], nprobe: Int)
    extends UnaryExpression with ContentArgs {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "ivf_probes"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<double>, got ${other.sql}")
    }

  override def nullSafeEval(input: Any): Any =
    IvfKernel.probes(input.asInstanceOf[ArrayData], centroids, offsets, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCentroids", centroids, "double[][]")
    val oRef = ctx.addReferenceObj("ivfOffsets", offsets, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      // one static call per row (the WinnowSelect precedent): the kernel
      // is primitive loops, so splicing it as raw Java buys nothing
      s"""
        |${ev.value} = graft.functions.IvfKernel.probes($a, $cRef, $oRef, $nprobe);
        |${ev.isNull} = (${ev.value} == null);
      """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): IvfProbes =
    copy(child = newChild)
}

/** [[IvfProbes]] with the quantizer behind a BROADCAST handle instead of
  * a plan-constant reference object. Identical arithmetic (both forms
  * call [[IvfKernel.probes]]); what changes is the SHIPPING: a
  * plan-constant matrix serializes with the task binary of EVERY stage
  * whose plan contains the expression (the IVF join evaluates it on both
  * the probe and member subplans — ≥2 stages), while a broadcast moves
  * once per executor, torrent-distributed, however many stages reference
  * it. At [[graft.ext.Similarity.autoNlist]] geometry the matrix is
  * 7.2 MB for a 10⁸-row / dim-64 corpus, 22.9 MB at 10⁹, 72.4 MB at
  * 10¹⁰ (measured java-serialized sizes track the raw nlist·dim·8
  * arithmetic within 1%) — real per-stage driver-serialization and
  * shipping weight at the north star, pure noise at bench scales.
  * [[graft.ext.Similarity.ivfKnnJoin]] always uses this form; the
  * plan-constant sibling stays for small fixed banks and kernel parity
  * tests.
  *
  * The generated class dereferences the broadcast ONCE in its init (a
  * mutable-state field), so the per-row path is field reads — no
  * `value()` call in the hot loop.
  */
case class IvfProbesBroadcast(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[IvfQuantizer], nprobe: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "ivf_probes_bc"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<double>, got ${other.sql}")
    }

  @transient private lazy val q: IvfQuantizer = bc.value

  /** The quantizer by shape and content hash, like [[ContentArgs]]: a
    * broadcast prints its id, which counts the broadcasts made before it,
    * so the same plan would print differently after other rows ran.
    * Hashed once per expression, not once per plan render.
    */
  @transient private lazy val quantizerArg: String =
    s"quantizer(double[${q.centroids.length}][]:" +
      java.util.Arrays.deepHashCode(q.centroids.asInstanceOf[Array[AnyRef]]).toHexString +
      s", double[${q.offsets.length}]:${java.util.Arrays.hashCode(q.offsets).toHexString})"

  override protected def stringArgs: Iterator[Any] = super.stringArgs.map {
    case `bc` => quantizerArg
    case other => other
  }

  override def nullSafeEval(input: Any): Any =
    IvfKernel.probes(input.asInstanceOf[ArrayData], q.centroids, q.offsets, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("ivfQuantBc", bc,
      "org.apache.spark.broadcast.Broadcast")
    val cents = ctx.addMutableState("double[][]", "ivfBcCents",
      v => s"$v = ((graft.functions.IvfQuantizer) $bcRef.value()).centroids();")
    val offs = ctx.addMutableState("double[]", "ivfBcOffs",
      v => s"$v = ((graft.functions.IvfQuantizer) $bcRef.value()).offsets();")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
        |${ev.value} = graft.functions.IvfKernel.probes($a, $cents, $offs, $nprobe);
        |${ev.isNull} = (${ev.value} == null);
      """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): IvfProbesBroadcast =
    copy(child = newChild)
}

/** The static IVF probe kernel — a plain object so generated code calls
  * it through the Scala static forwarder; [[IvfProbes.nullSafeEval]]
  * shares it so interpreted and codegen paths cannot diverge.
  */
object IvfKernel {
  def probes(a: ArrayData, centroids: Array[Array[Double]],
             offsets: Array[Double], nprobe: Int): GenericArrayData = {
    val nlist = centroids.length
    val d = if (nlist == 0) 0 else centroids(0).length
    if (a.numElements() != d) return null
    var ss = 0.0
    var i = 0
    while (i < d) {
      if (a.isNullAt(i)) return null
      val x = a.getDouble(i)
      ss += x * x
      i += 1
    }
    if (!(ss > 0.0)) return null // zero norm (or NaN): no direction
    val inv = 1.0 / math.sqrt(ss)
    val scores = new Array[Double](nlist)
    var p = 0
    while (p < nlist) {
      val c = centroids(p)
      var s = 0.0
      var j = 0
      while (j < d) { s += a.getDouble(j) * c(j); j += 1 }
      scores(p) = s * inv - offsets(p)
      p += 1
    }
    val m = math.min(nprobe, nlist)
    val out = new Array[Int](m)
    val taken = new Array[Boolean](nlist)
    var r = 0
    while (r < m) {
      var best = -1
      var bs = 0.0
      var q = 0
      while (q < nlist) {
        // A NaN score (reachable only through a corrupt quantizer — NaN
        // inputs already returned null above) must never seat a cell: the
        // first-untaken pick would lock it in, since `score > NaN` is
        // false for every later candidate (r14 advice). Skip it; if every
        // remaining cell is NaN the row is rejected like a NaN input.
        val s = scores(q)
        if (!taken(q) && !java.lang.Double.isNaN(s) && (best < 0 || s > bs)) {
          best = q; bs = s
        }
        q += 1
      }
      if (best < 0) return null
      taken(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }
}

/** Scalar uint8 quantization of an `array<double>` vector to PACKED
  * BINARY codes — the compressed-vector leg of the IVF-PQ-lite join
  * ([[graft.ext.Similarity.ivfKnnJoin]] with `pq` set): one byte per dimension, so
  * the candidate cell join shuffles 8× less than raw doubles (and 4×
  * less than the `array<int>` codes of
  * [[graft.ext.Similarity.quantizeInt8]], whose affine formula this
  * reuses verbatim: `clamp(floor((x−lo_i)/(hi_i−lo_i)·255 + 0.5))`,
  * `hi = lo → 0`). `lo`/`hi` are the corpus-wide per-dimension stats,
  * dim-length driver arrays riding as reference objects (tiny — the
  * centroid-matrix shipping concern does not apply at d ≤ a few
  * thousand).
  *
  * Null on: null input, null element, or length ≠ stats length (the
  * stats arrays are exactly as long as the corpus's uniform
  * dimensionality; a ragged row has no stats tail to quantize against —
  * the quantizeInt8 guard, hardened to null the row instead of
  * truncating).
  */
case class QuantizeUint8(child: Expression, lo: Array[Double], hi: Array[Double])
    extends UnaryExpression with ContentArgs {

  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "quantize_uint8"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<double>, got ${other.sql}")
    }

  override def nullSafeEval(input: Any): Any =
    QuantKernel.encode(input.asInstanceOf[ArrayData], lo, hi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val loRef = ctx.addReferenceObj("quantLo", lo, "double[]")
    val hiRef = ctx.addReferenceObj("quantHi", hi, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
        |${ev.value} = graft.functions.QuantKernel.encode($a, $loRef, $hiRef);
        |${ev.isNull} = (${ev.value} == null);
      """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeUint8 =
    copy(child = newChild)
}

/** Cosine similarity of the AFFINE RECONSTRUCTIONS of two
  * [[QuantizeUint8]] code blobs — the approximate scoring kernel of the
  * IVF-PQ-lite candidate stage: `r_i = lo_i + c_i/255·(hi_i−lo_i)`
  * (literally that float order — divide by 255.0 first, then scale —
  * so a DuckDB restatement `lo + code/255.0*(hi-lo)` is bit-identical;
  * the r14 probe-dot advice precedent), then the [[CosineSim]]
  * sequential dot/norm fold over the reconstructions. A zero-norm
  * reconstruction divides to NaN exactly like [[CosineSim]] — callers
  * filter NaN before ranking. Null on null inputs or length mismatches
  * (with each other or the stats).
  */
case class QuantCosine(left: Expression, right: Expression,
                       lo: Array[Double], hi: Array[Double])
    extends BinaryExpression with ContentArgs {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "quant_cosine"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t == org.apache.spark.sql.types.BinaryType
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two binary arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    QuantKernel.cosine(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]], lo, hi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val loRef = ctx.addReferenceObj("quantLo", lo, "double[]")
    val hiRef = ctx.addReferenceObj("quantHi", hi, "double[]")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val v = ctx.freshName("qc")
      s"""
        |Double $v = graft.functions.QuantKernel.cosine($a, $b, $loRef, $hiRef);
        |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v.doubleValue(); }
      """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): QuantCosine =
    copy(left = newLeft, right = newRight)
}

/** The static uint8-quantization kernels — shared by interpreted and
  * codegen paths (the [[IvfKernel]] convention).
  */
object QuantKernel {
  def encode(a: ArrayData, lo: Array[Double], hi: Array[Double]): Array[Byte] = {
    val d = lo.length
    if (a.numElements() != d) return null
    val out = new Array[Byte](d)
    var i = 0
    while (i < d) {
      if (a.isNullAt(i)) return null
      val x = a.getDouble(i)
      // NaN element -> null row (the IvfKernel NaN-input convention).
      // Without this, NaN fails both clamp comparisons and NaN.toInt
      // is 0 — a silent garbage code 0 for any standalone caller (the
      // PQ lane happens to null the row upstream via the probe kernel,
      // but the encode contract must not depend on that).
      if (x.isNaN) return null
      val l = lo(i); val h = hi(i)
      val c = if (h == l) 0.0
        else {
          val raw = math.floor((x - l) / (h - l) * 255.0 + 0.5)
          math.min(math.max(raw, 0.0), 255.0)
        }
      out(i) = c.toInt.toByte
      i += 1
    }
    out
  }

  def cosine(a: Array[Byte], b: Array[Byte], lo: Array[Double],
             hi: Array[Double]): java.lang.Double = {
    val d = lo.length
    if (a.length != d || b.length != d) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < d) {
      val l = lo(i); val s = hi(i) - l
      val x = l + (a(i) & 0xFF) / 255.0 * s
      val y = l + (b(i) & 0xFF) / 255.0 * s
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Membership probe of a `bigint` column against a PLAN-CONSTANT sorted
  * long array (the stored-gram-table literal of the streaming scrub):
  * one binary search per probe — O(log m) against the O(m) linear scan
  * an `array_contains(lit(hashes), …)` pays — with the array riding
  * along as a single codegen reference object instead of an m-element
  * literal expression. Null on null input, like `array_contains`' null
  * child. The caller owns sortedness (`java.util.Arrays.binarySearch`
  * contract); [[graft.streaming.StreamingOps.scrubAtIngest]] sorts at
  * collect time.
  */
case class SortedLongContains(child: Expression, sorted: Array[Long])
    extends UnaryExpression with ContentArgs {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "sorted_long_contains"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires bigint, got ${other.sql}")
    }

  override def nullSafeEval(input: Any): Any =
    java.util.Arrays.binarySearch(sorted, input.asInstanceOf[Long]) >= 0

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arrRef = ctx.addReferenceObj("sortedLongSet", sorted, "long[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = java.util.Arrays.binarySearch($arrRef, $v) >= 0;")
  }

  override protected def withNewChildInternal(newChild: Expression): SortedLongContains =
    copy(child = newChild)
}
