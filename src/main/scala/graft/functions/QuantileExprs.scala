package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** Order-preserving double -> long bit map (the Lucene
  * `doubleToSortableLong` trick): XOR the low 63 bits with the sign
  * extension, so SIGNED long comparison reproduces IEEE-754 total order
  * (negatives reversed back into ascending, -0.0 < +0.0, NaN above
  * +Infinity). The map is a bijection and SELF-INVERSE, which is what
  * lets [[graft.reducers.exactQuantiles]] run its select-k bisection in
  * exact integer arithmetic (shift-based bucketing, no float-edge
  * rounding) and still translate every narrowed range back into a plain
  * double BETWEEN filter that parquet row-group stats can prune on. */
object QuantileExprs {

  @inline def toSortable(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & 0x7fffffffffffffffL)
  }

  /** self-inverse: same transform recovers the IEEE bits */
  @inline def fromSortable(s: Long): Double =
    java.lang.Double.longBitsToDouble(s ^ ((s >> 63) & 0x7fffffffffffffffL))

  case class DoubleSortableBits(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = child.nullable
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(input: Any): Any =
      toSortable(input.asInstanceOf[Double])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      Kernels.call(ctx, ev, this, "graft.functions.QuantileExprs.toSortable")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def doubleSortableBits(c: Column): Column =
    GraftBridge.column(DoubleSortableBits(GraftBridge.expression(c)))

  /** `(v - lo) >>> shift` with two's-complement WRAPAROUND — the exact
    * unsigned distance-to-bucket map of the select-k bisection. ANSI
    * mode (Spark 4 default) makes the builtin `-` throw on the
    * intentional overflow, so the wrap lives here in JVM semantics. */
  def bucket(v: Long, lo: Long, shift: Int): Long = (v - lo) >>> shift

  case class SortableBucket(child: Expression, lo: Long, shift: Int)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = child.nullable
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(input: Any): Any = bucket(input.asInstanceOf[Long], lo, shift)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      Kernels.call(ctx, ev, this, "graft.functions.QuantileExprs.bucket", lo, shift)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def sortableBucket(c: Column, lo: Long, shift: Int): Column =
    GraftBridge.column(SortableBucket(GraftBridge.expression(c), lo, shift))
}
