package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import Kernels.{call, toDouble}

/** Compiled kernels for the axis=1 reducers (reference
  * `lib/reducers.py`, which runs them as `map_partitions` calls into
  * awkward's compiled kernels).
  *
  * Spark's higher-order functions (`aggregate`, `filter`, `exists`,
  * `forall`, `transform`) are `CodegenFallback`: every list element is
  * evaluated by interpreting the lambda tree, and a projection holding one
  * stays out of whole-stage codegen. Each expression here is one static
  * Scala loop that both `eval` and the generated code call, through
  * [[Kernels.call]], so the projection compiles. These expressions are not
  * null-intolerant: each kernel gets the list as an object and returns
  * null for a null list itself.
  *
  * Every kernel returns what the HOF spelling it replaced returned, bit for
  * bit: it folds left to right in element order, reads elements as
  * `cast(x AS DOUBLE)` does ([[Kernels.toDouble]]), and uses
  * `StrictMath.pow` and `StrictMath.exp` as Spark's `Pow` and `Exp` do. The HOF spellings are
  * kept as test-side witnesses that DifferentialFuzzSpec checks every
  * kernel against.
  */
object ReducerExprs {

  private def numericList(e: Expression): TypeCheckResult = e.dataType match {
    case ArrayType(_: NumericType | BooleanType | NullType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${e.prettyName} needs a list of numbers, got ${other.catalogString}")
  }

  private def elementType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  /** Shared kernel; boxed so empty/all-null can be null.
    *
    * NaN contract (explicit, numpy/awkward semantics): NaN PROPAGATES —
    * the first NaN's index is the result of both argmin and argmax, as in
    * `np.argmin`/`ak.argmin`. This intentionally diverges from Spark SQL
    * ordering (where NaN sorts greatest, so `array_position(x, array_max
    * (x))`-style spellings would treat NaN as a maximum only); the HOF
    * witness in the test sources implements the same contract and the
    * ReducersSpec pin covers NaN-first, NaN-mid and all-NaN rows. */
  def argExtremumEval(arr: ArrayData, smaller: Boolean, et: DataType): java.lang.Long = {
    if (arr == null) return null
    val n = arr.numElements()
    var best = 0.0
    var idx = -1L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val x = toDouble(arr, i, et)
        if (x.isNaN) return java.lang.Long.valueOf(i)
        if (idx < 0 || (if (smaller) x < best else x > best)) {
          best = x
          idx = i
        }
      }
      i += 1
    }
    if (idx < 0) null else java.lang.Long.valueOf(idx)
  }

  /** `ak.argmin/argmax(axis=1)` (reference `lib/reducers.py:105-170`):
    * the old `aggregate(c, struct(best, idx, i), ...)` fold allocated a
    * struct and evaluated three interpreted when-chains per element. Null
    * elements are skipped but still advance the index, ties keep the first
    * extremum, and empty/all-null lists yield null (mask_identity). */
  case class ArgExtremum(child: Expression, smaller: Boolean)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = numericList(child)
    private lazy val et = elementType(child)
    override def eval(input: InternalRow): Any =
      argExtremumEval(child.eval(input).asInstanceOf[ArrayData], smaller, et)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.ReducerExprs.argExtremumEval", smaller, et)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def argExtremum(c: Column, smaller: Boolean): Column =
    GraftBridge.column(ArgExtremum(GraftBridge.expression(c), smaller))

  // ListReduce ops
  final val Sum = 0
  final val Prod = 1
  final val Mean = 2
  final val Var = 3
  final val Moment = 4

  /** The double-valued reducers; `param` is ddof for [[Var]] and the
    * power for [[Moment]]. Null elements are skipped: the spellings
    * coalesced them to the fold's identity, and multiplying by 1.0 or
    * adding 0.0 to a sum that starts at +0.0 (and so is never -0.0)
    * leaves the accumulator's bits unchanged.
    *  - Sum: `aggregate(c, 0.0, acc + coalesce(x, 0.0))`; empty -> 0.
    *  - Prod: `aggregate(c, 1.0, acc * coalesce(x, 1.0))`; empty -> 1.
    *  - Mean: sum / count, null when count is 0.
    *  - Var: the sum of `pow(x - mean, 2)` over `count - ddof`, null unless
    *    count > ddof.
    *  - Moment: the sum of `pow(x, param)` over count, null when count is 0.
    */
  def reduceEval(arr: ArrayData, op: Int, param: Int, et: DataType): java.lang.Double = {
    if (arr == null) return null
    val len = arr.numElements()
    var acc = if (op == Prod) 1.0 else 0.0
    var n = 0
    var i = 0
    while (i < len) {
      if (!arr.isNullAt(i)) {
        val x = toDouble(arr, i, et)
        op match {
          case Prod => acc = acc * x
          case Moment => acc = acc + StrictMath.pow(x, param.toDouble)
          case _ => acc = acc + x
        }
        n += 1
      }
      i += 1
    }
    val r = op match {
      case Sum | Prod => acc
      case Mean | Moment => if (n > 0) acc / n else return null
      case Var =>
        if (n <= param) return null
        val mu = acc / n
        var ss = 0.0
        i = 0
        while (i < len) {
          if (!arr.isNullAt(i)) ss = ss + StrictMath.pow(toDouble(arr, i, et) - mu, 2.0)
          i += 1
        }
        ss / (n - param)
    }
    java.lang.Double.valueOf(r)
  }

  case class ListReduce(child: Expression, op: Int, param: Int)
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "list_reduce"
    override def checkInputDataTypes(): TypeCheckResult = numericList(child)
    private lazy val et = elementType(child)
    override def eval(input: InternalRow): Any =
      reduceEval(child.eval(input).asInstanceOf[ArrayData], op, param, et)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.ReducerExprs.reduceEval", op, param, et)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def reduce(c: Column, op: Int, param: Int = 0): Column =
    GraftBridge.column(ListReduce(GraftBridge.expression(c), op, param))

  /** `size(filter(c, x -> x IS NOT NULL [AND x != 0]))`: the non-null (and
    * nonzero) elements. A null list is null; the caller maps it to -1
    * under `spark.sql.legacy.sizeOfNull`, as `size` does. */
  def countEval(arr: ArrayData, nonzero: Boolean, et: DataType): java.lang.Integer = {
    if (arr == null) return null
    var n = 0
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i) && (!nonzero || toDouble(arr, i, et) != 0.0)) n += 1
      i += 1
    }
    n
  }

  case class ListCount(child: Expression, nonzero: Boolean) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = true
    override def prettyName: String = "list_count"
    override def checkInputDataTypes(): TypeCheckResult =
      if (nonzero) numericList(child)
      else if (child.dataType.isInstanceOf[ArrayType]) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"list_count needs a list, got ${child.dataType}")
    private lazy val et = elementType(child)
    override def eval(input: InternalRow): Any =
      countEval(child.eval(input).asInstanceOf[ArrayData], nonzero, et)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.ReducerExprs.countEval", nonzero, et)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def count(c: Column, nonzero: Boolean): Column = {
    val n = GraftBridge.column(ListCount(GraftBridge.expression(c), nonzero))
    if (SQLConf.get.legacySizeOfNull) org.apache.spark.sql.functions.coalesce(n,
      org.apache.spark.sql.functions.lit(-1))
    else n
  }

  /** `exists(c, x -> x)` / `forall(c, x -> x)` with their three-valued
    * logic: a deciding element (true for any, false for all) wins; else a
    * null element makes the answer null; else it is the identity. `exists`
    * ignores nulls when `threeValued` is off
    * (`spark.sql.legacy.followThreeValuedLogicInArrayExists=false`). */
  def truthEval(arr: ArrayData, any: Boolean, threeValued: Boolean): java.lang.Boolean = {
    if (arr == null) return null
    var sawNull = false
    var i = 0
    while (i < arr.numElements()) {
      if (arr.isNullAt(i)) sawNull = true
      else if (arr.getBoolean(i) == any) return any
      i += 1
    }
    if (sawNull && threeValued) null else !any
  }

  case class ListTruth(child: Expression, any: Boolean, threeValued: Boolean)
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = true
    override def prettyName: String = if (any) "list_any" else "list_all"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(BooleanType | NullType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a list of booleans, got ${other.catalogString}")
    }
    override def eval(input: InternalRow): Any =
      truthEval(child.eval(input).asInstanceOf[ArrayData], any, threeValued)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.ReducerExprs.truthEval", any, threeValued)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def truth(c: Column, any: Boolean): Column = GraftBridge.column(ListTruth(
    GraftBridge.expression(c), any,
    !any || SQLConf.get.getConf(SQLConf.LEGACY_ARRAY_EXISTS_FOLLOWS_THREE_VALUED_LOGIC)))

  /** `ak.softmax(axis=1)`, the spelling
    * `m = cast(array_max(c) AS DOUBLE); z = aggregate(c, 0.0, acc + exp(x - m));
    *  transform(c, x -> exp(x - m) / z)`:
    * `m` follows `array_max` (nulls skipped, NaN greatest, the first of
    * equal maxima kept), any null element makes `z` and so every output
    * null, and a null element maps to null. */
  def softmaxEval(arr: ArrayData, et: DataType): ArrayData = {
    if (arr == null) return null
    val len = arr.numElements()
    var m = 0.0
    var nonNull = 0
    var i = 0
    while (i < len) {
      if (!arr.isNullAt(i)) {
        val x = toDouble(arr, i, et)
        if (nonNull == 0 || SQLOrderingUtil.compareDoubles(x, m) > 0) m = x
        nonNull += 1
      }
      i += 1
    }
    if (nonNull == len) {
      val e = new Array[Double](len)
      var z = 0.0
      i = 0
      while (i < len) { e(i) = StrictMath.exp(toDouble(arr, i, et) - m); z = z + e(i); i += 1 }
      i = 0
      while (i < len) { e(i) = e(i) / z; i += 1 }
      UnsafeArrayData.fromPrimitiveArray(e)
    } else new GenericArrayData(new Array[Any](len))
  }

  case class ListSoftmax(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
    override def prettyName: String = "list_softmax"
    override def checkInputDataTypes(): TypeCheckResult = numericList(child)
    private lazy val et = elementType(child)
    override def eval(input: InternalRow): Any =
      softmaxEval(child.eval(input).asInstanceOf[ArrayData], et)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.ReducerExprs.softmaxEval", et)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def softmax(c: Column): Column = GraftBridge.column(ListSoftmax(GraftBridge.expression(c)))
}
