package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import Kernels.{call, toDouble}

/** Custom Catalyst expressions for the embedding/vector kernels.
  *
  * Dot products over 64-dim vectors are the inner loop of similarity search
  * and embedding dedup; the HOF formulation (aggregate over zip_with) runs
  * interpreted and costs ~1 us per element. These evaluate the whole kernel
  * per row in one static Scala loop, numerically identical (same
  * accumulation order, float -> double widening per element) to the
  * HOF/DuckDB-oracle formulations in graft.similarity. `eval` and the
  * generated code ([[Kernels.call]]) both call it, so the scoring
  * projection stays inside whole-stage codegen.
  */
object VectorExprs {

  /** Cosine similarity; null when either norm is 0 (matches the HOF form's
    * `when(na =!= 0 && nb =!= 0, ...)`), and when the inputs have unequal
    * lengths the shorter prefix is used (zip_with would null-pad — callers
    * feed fixed-dim vectors, so this branch is theoretical). */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true
    private lazy val etL = left.dataType.asInstanceOf[ArrayType].elementType
    private lazy val etR = right.dataType.asInstanceOf[ArrayType].elementType
    override def nullSafeEval(a: Any, b: Any): Any =
      cosineSimEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], etL, etR)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.VectorExprs.cosineSimEval", etL, etR)
    override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  }

  /** Shared kernel for [[CosineSim]]. */
  def cosineSimEval(va: ArrayData, vb: ArrayData, etL: DataType,
      etR: DataType): java.lang.Double = {
    val n = math.min(va.numElements(), vb.numElements())
    var dot = 0.0; var na2 = 0.0; var nb2 = 0.0
    var i = 0
    while (i < n) {
      val x = toDouble(va, i, etL); val y = toDouble(vb, i, etR)
      dot += x * y; na2 += x * x; nb2 += y * y
      i += 1
    }
    val na = math.sqrt(na2); val nb = math.sqrt(nb2)
    if (na == 0.0 || nb == 0.0) null else dot / (na * nb)
  }

  /** Sign-bit signature against nPlanes deterministic pseudo-random
    * hyperplanes (LCG over the flat index, mapped to [-0.5, 0.5)) packed
    * into a long — bit-exact with graft.similarity.planeComponent. */
  case class HyperplaneSig(child: Expression, dim: Int, nPlanes: Int)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    private lazy val et = child.dataType.asInstanceOf[ArrayType].elementType
    private lazy val planes: Array[Array[Double]] =
      Array.tabulate(nPlanes, dim) { (j, i) =>
        val x = (1103515245L * (j * 4099 + i) + 12345L) % 2147483648L
        (if (x < 0) x + 2147483648L else x).toDouble / 2147483648.0 - 0.5
      }
    override def nullSafeEval(input: Any): Any =
      hyperplaneSigEval(input.asInstanceOf[ArrayData], planes, dim, et)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.VectorExprs.hyperplaneSigEval", planes, dim, et)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Shared kernel for [[HyperplaneSig]]. */
  def hyperplaneSigEval(v: ArrayData, planes: Array[Array[Double]], dim: Int,
      et: DataType): Long = {
    val n = math.min(v.numElements(), dim)
    var sig = 0L
    var j = 0
    while (j < planes.length) {
      val plane = planes(j)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += toDouble(v, i, et) * plane(i); i += 1 }
      if (dot >= 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSim(GraftBridge.expression(a), GraftBridge.expression(b)))

  def hyperplaneSig(vec: Column, dim: Int, nPlanes: Int): Column =
    GraftBridge.column(HyperplaneSig(GraftBridge.expression(vec), dim, nPlanes))
}
