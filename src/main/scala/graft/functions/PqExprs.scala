package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import Kernels.{call, toDouble}

/** Product-quantization kernels (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011 — public literature; the reference
  * repo has no similarity search at all, SURVEY §2).
  *
  * The corpus compresses to `m` small codes per vector (64-dim float =
  * 256 B → 8 codes = 8 B at m=8); queries precompute an m×ksub lookup
  * table ONCE, and each (query, candidate) score is then `m` table lookups
  * instead of a dim-length dot product. The codebooks ride into the
  * executors as expression reference objects (one broadcast copy per
  * task), and every kernel is a tight JVM loop, not an interpreted HOF.
  *
  * Each kernel is one static Scala method that `eval` calls and the
  * generated code calls through [[Kernels.call]]: child values flow
  * unboxed, the surrounding projection/join stage stays inside whole-stage
  * codegen, and interpreted and generated paths are bit-exact by
  * construction. Kernels that can yield null (zero-norm /
  * wrong-dimension input) return a boxed or null result.
  *
  * All three PQ kernels L2-normalize internally, so the ADC score
  * approximates COSINE (the metric every other search path in
  * graft.similarity uses); zero-norm or wrong-dimension vectors yield
  * null, matching CosineSim's null contract.
  */
object PqExprs {

  /** L2-normalized copy of the input, or null for zero-norm / wrong dim. */
  @inline private def normalized(arr: ArrayData, et: DataType, dim: Int): Array[Double] = {
    if (arr.numElements() != dim) return null
    val v = new Array[Double](dim)
    var n2 = 0.0
    var i = 0
    while (i < dim) { val x = toDouble(arr, i, et); v(i) = x; n2 += x * x; i += 1 }
    if (n2 == 0.0) return null
    val inv = 1.0 / math.sqrt(n2)
    i = 0
    while (i < dim) { v(i) *= inv; i += 1 }
    v
  }

  /** Raw (unnormalized) copy, or null for wrong dim — the residual path:
    * residuals are differences of already-normalized vectors, so they must
    * NOT be re-normalized, and a zero residual is a legal value. */
  @inline private def raw(arr: ArrayData, et: DataType, dim: Int): Array[Double] = {
    if (arr.numElements() != dim) return null
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) { v(i) = toDouble(arr, i, et); i += 1 }
    v
  }

  /** Shared kernel for [[PqEncode]]; null for zero-norm / wrong dim. */
  def pqEncodeEval(arr: ArrayData, flat: Array[Double], m: Int, ksub: Int,
      dsub: Int, normalizeInput: Boolean, et: DataType): ArrayData = {
    val v = if (normalizeInput) normalized(arr, et, m * dsub)
            else raw(arr, et, m * dsub)
    if (v == null) return null
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0; var bestD = Double.MaxValue
      var j = 0
      while (j < ksub) {
        val base = (s * ksub + j) * dsub
        var d2 = 0.0
        var d = 0
        while (d < dsub) {
          val diff = v(s * dsub + d) - flat(base + d)
          d2 += diff * diff
          d += 1
        }
        if (d2 < bestD) { bestD = d2; best = j }
        j += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  /** Shared kernel for [[PqTables]]; null for zero-norm / wrong dim. */
  def pqTablesEval(arr: ArrayData, flat: Array[Double], m: Int, ksub: Int,
      dsub: Int, et: DataType): ArrayData = {
    val q = normalized(arr, et, m * dsub)
    if (q == null) return null
    val table = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      var j = 0
      while (j < ksub) {
        val base = (s * ksub + j) * dsub
        var dot = 0.0
        var d = 0
        while (d < dsub) { dot += q(s * dsub + d) * flat(base + d); d += 1 }
        table(s * ksub + j) = dot
        j += 1
      }
      s += 1
    }
    new GenericArrayData(table)
  }

  /** Shared kernel for [[PqAdcScore]]; boxed so the mismatch case can be
    * null. */
  def pqAdcScoreEval(t: ArrayData, c: ArrayData, m: Int, ksub: Int): java.lang.Double = {
    if (t.numElements() != m * ksub || c.numElements() != m) return null
    var acc = 0.0
    var s = 0
    while (s < m) { acc += t.getDouble(s * ksub + c.getInt(s)); s += 1 }
    java.lang.Double.valueOf(acc)
  }

  /** Shared kernel for [[DotNormLeft]]; null on zero |a| or length
    * mismatch. */
  def dotNormLeftEval(va: ArrayData, vb: ArrayData, etL: DataType,
      etR: DataType): java.lang.Double = {
    val n = va.numElements()
    if (vb.numElements() != n) return null
    var dot = 0.0; var na2 = 0.0
    var i = 0
    while (i < n) {
      val x = toDouble(va, i, etL)
      dot += x * toDouble(vb, i, etR); na2 += x * x
      i += 1
    }
    if (na2 == 0.0) null else java.lang.Double.valueOf(dot / math.sqrt(na2))
  }

  /** `flat` codebook layout: centroid d of subspace s starts at
    * `(s*ksub + j) * dsub`. `normalizeInput=false` is the residual path. */
  case class PqEncode(child: Expression, flat: Array[Double],
      m: Int, ksub: Int, dsub: Int, normalizeInput: Boolean = true)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    private lazy val et = child.dataType.asInstanceOf[ArrayType].elementType

    override def nullIntolerant: Boolean = true
    override def nullSafeEval(input: Any): Any =
      pqEncodeEval(input.asInstanceOf[ArrayData], flat, m, ksub, dsub,
        normalizeInput, et)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.PqExprs.pqEncodeEval", flat, m, ksub, dsub,
        normalizeInput, et)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Per-query ADC lookup table: `table[s*ksub + j] = <q_sub_s, c_sj>` —
    * computed once per query row, O(ksub·dim). */
  case class PqTables(child: Expression, flat: Array[Double],
      m: Int, ksub: Int, dsub: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true
    private lazy val et = child.dataType.asInstanceOf[ArrayType].elementType

    override def nullIntolerant: Boolean = true
    override def nullSafeEval(input: Any): Any =
      pqTablesEval(input.asInstanceOf[ArrayData], flat, m, ksub, dsub, et)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.PqExprs.pqTablesEval", flat, m, ksub, dsub, et)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** ADC score: `Σ_s table[s*ksub + codes[s]]` — O(m) per candidate pair,
    * the whole point of the scheme. */
  case class PqAdcScore(left: Expression, right: Expression, m: Int, ksub: Int)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true

    override def nullIntolerant: Boolean = true
    override def nullSafeEval(tables: Any, codes: Any): Any =
      pqAdcScoreEval(tables.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData], m, ksub)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.PqExprs.pqAdcScoreEval", m, ksub)
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** `<a/|a|, b>` — the per-(query, cell) offset term of residual IVFADC;
    * null on zero `|a|` or length mismatch. */
  case class DotNormLeft(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    private lazy val etL = left.dataType.asInstanceOf[ArrayType].elementType
    private lazy val etR = right.dataType.asInstanceOf[ArrayType].elementType

    override def nullIntolerant: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any =
      dotNormLeftEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], etL, etR)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.PqExprs.dotNormLeftEval", etL, etR)
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  def pqEncode(c: Column, flat: Array[Double], m: Int, ksub: Int, dsub: Int,
      normalizeInput: Boolean = true): Column =
    GraftBridge.column(PqEncode(GraftBridge.expression(c), flat, m, ksub, dsub,
      normalizeInput))
  def dotNormLeft(a: Column, b: Column): Column =
    GraftBridge.column(DotNormLeft(GraftBridge.expression(a), GraftBridge.expression(b)))
  def pqTables(c: Column, flat: Array[Double], m: Int, ksub: Int, dsub: Int): Column =
    GraftBridge.column(PqTables(GraftBridge.expression(c), flat, m, ksub, dsub))
  def pqAdcScore(tables: Column, codes: Column, m: Int, ksub: Int): Column =
    GraftBridge.column(PqAdcScore(GraftBridge.expression(tables),
      GraftBridge.expression(codes), m, ksub))
}
