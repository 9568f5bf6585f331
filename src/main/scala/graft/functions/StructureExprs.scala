package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{AnsiTypeCoercion, TypeCheckResult, TypeCoercion}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  GenericInternalRow, ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import Kernels.call

/** Compiled kernels for the axis=1 structure operators of
  * [[graft.structure]] (reference `lib/structure.py`): local index,
  * argsort, pad/fill of missing values, per-row cartesian product and
  * unflatten. Each replaces a composition of interpreted higher-order
  * functions with one static loop that `eval` and the generated code both
  * call ([[Kernels.call]], as in [[ReducerExprs]]), and returns what that
  * composition returned, null rules included; DifferentialFuzzSpec checks
  * each against it.
  */
object StructureExprs {

  private def at(arr: ArrayData, i: Int, et: DataType): Any =
    if (arr.isNullAt(i)) null else arr.get(i, et)

  private def listCheck(es: Expression*): TypeCheckResult =
    es.find(e => !e.dataType.isInstanceOf[ArrayType]) match {
      case Some(e) => TypeCheckResult.TypeCheckFailure(
        s"expected a list, got ${e.dataType.catalogString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  private def elementType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  /** `ak.local_index(axis=1)`: 0..n-1 per list. */
  def localIndexEval(arr: ArrayData): ArrayData =
    if (arr == null) null
    else UnsafeArrayData.fromPrimitiveArray(Array.range(0, arr.numElements()))

  case class LocalIndex(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "local_index"
    override def checkInputDataTypes(): TypeCheckResult = listCheck(child)
    override def eval(input: InternalRow): Any =
      localIndexEval(child.eval(input).asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.StructureExprs.localIndexEval")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** `ak.argsort(axis=1)` in the order `sort_array` gives (value, index)
    * structs: null values first, then ascending values (NaN greatest, -0.0
    * equal to 0.0), ties by index. */
  def argsortEval(arr: ArrayData, et: DataType, ord: Ordering[Any]): ArrayData = {
    if (arr == null) return null
    def cmp(i: Int, j: Int): Int = {
      val ni = arr.isNullAt(i); val nj = arr.isNullAt(j)
      val c =
        if (ni || nj) java.lang.Boolean.compare(!ni, !nj)
        else et match {
          case DoubleType => SQLOrderingUtil.compareDoubles(arr.getDouble(i), arr.getDouble(j))
          case IntegerType => Integer.compare(arr.getInt(i), arr.getInt(j))
          case LongType => java.lang.Long.compare(arr.getLong(i), arr.getLong(j))
          case FloatType => SQLOrderingUtil.compareFloats(arr.getFloat(i), arr.getFloat(j))
          case _ => ord.compare(arr.get(i, et), arr.get(j, et))
        }
      if (c != 0) c else Integer.compare(i, j)
    }
    val idx = Array.tabulate[Integer](arr.numElements())(Integer.valueOf)
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) => cmp(a, b))
    UnsafeArrayData.fromPrimitiveArray(idx.map(_.intValue))
  }

  case class Argsort(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "argsort"
    override def checkInputDataTypes(): TypeCheckResult = listCheck(child) match {
      case TypeCheckResult.TypeCheckSuccess =>
        TypeUtils.checkForOrderingExpr(elementType(child), prettyName)
      case failure => failure
    }
    private lazy val et = elementType(child)
    @transient private lazy val ord = TypeUtils.getInterpretedOrdering(et)
    override def eval(input: InternalRow): Any =
      argsortEval(child.eval(input).asInstanceOf[ArrayData], et, ord)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.StructureExprs.argsortEval", et, ord)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** `ak.pad_none(target, clip)`: with `clip`, exactly `target` elements,
    * nulls past the end; without, lists shorter than `target` are padded
    * and longer ones returned as they are. A missing list stays missing. */
  def padEval(arr: ArrayData, target: Int, clip: Boolean, et: DataType): ArrayData = {
    if (arr == null) return null
    val n = arr.numElements()
    if (!clip && n >= target) return arr
    val out = new Array[Any](math.max(target, 0))
    var i = 0
    while (i < math.min(n, out.length)) { out(i) = at(arr, i, et); i += 1 }
    new GenericArrayData(out)
  }

  case class PadNone(child: Expression, target: Int, clip: Boolean) extends UnaryExpression {
    override def dataType: DataType = ArrayType(elementType(child), containsNull = true)
    override def prettyName: String = "pad_none"
    override def checkInputDataTypes(): TypeCheckResult = listCheck(child)
    override def eval(input: InternalRow): Any =
      padEval(child.eval(input).asInstanceOf[ArrayData], target, clip, elementType(child))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.StructureExprs.padEval", target, clip,
        elementType(child))
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** `ak.fill_none(value, axis=1)`, the spelling `transform(c, x ->
    * coalesce(x, value))`: null elements become `value`. The value is
    * evaluated once per row. */
  def fillEval(arr: ArrayData, v: Any, et: DataType): ArrayData =
    if (arr == null) null
    else new GenericArrayData(Array.tabulate(arr.numElements()) { i =>
      if (arr.isNullAt(i)) v else arr.get(i, et)
    })

  /** The list and the value are widened to one element type the way
    * `coalesce` widens its arguments: `inputTypes` names that type and the
    * analyzer's implicit-cast rule casts whichever side differs. */
  case class FillNone(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    private def common: Option[DataType] = left.dataType match {
      case ArrayType(et, _) if DataType.equalsStructurally(et, right.dataType, true) => Some(et)
      case ArrayType(et, _) =>
        if (SQLConf.get.ansiEnabled) AnsiTypeCoercion.findWiderCommonType(Seq(et, right.dataType))
        else TypeCoercion.findWiderCommonType(Seq(et, right.dataType))
      case _ => None
    }
    override def inputTypes: Seq[DataType] = common match {
      case Some(t) => Seq(
        if (DataType.equalsStructurally(elementType(left), t, true)) left.dataType
        else ArrayType(t, containsNull = true),
        if (DataType.equalsStructurally(right.dataType, t, true)) right.dataType else t)
      case None => Seq(left.dataType, right.dataType)
    }
    override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
      case ArrayType(et, _) if DataType.equalsStructurally(et, right.dataType, true) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"fill_none needs a list and a value of its element type, got " +
          s"${other.catalogString} and ${right.dataType.catalogString}")
    }
    override def dataType: DataType = left.dataType match {
      case ArrayType(et, cn) => ArrayType(et, cn && right.nullable)
    }
    override def nullable: Boolean = left.nullable
    override def prettyName: String = "fill_none"
    override def eval(input: InternalRow): Any =
      fillEval(left.eval(input).asInstanceOf[ArrayData], right.eval(input), elementType(left))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.StructureExprs.fillEval", elementType(left))
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** `ak.cartesian([a, b], axis=1)`, the spelling `flatten(transform(a, x
    * -> transform(b, y -> struct(x, y))))`: a null `a` is null, an empty
    * `a` is empty whatever `b` is, and otherwise a null `b` is null. */
  def cartesianEval(a: ArrayData, b: ArrayData, aet: DataType, bet: DataType): ArrayData = {
    if (a == null) return null
    val na = a.numElements()
    if (na == 0) return new GenericArrayData(Array.empty[Any])
    if (b == null) return null
    val nb = b.numElements()
    val bs = Array.tabulate(nb)(j => at(b, j, bet))
    val out = new Array[Any](na * nb)
    var i = 0
    while (i < na) {
      val x = at(a, i, aet)
      var j = 0
      while (j < nb) { out(i * nb + j) = new GenericInternalRow(Array[Any](x, bs(j))); j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  case class Cartesian(left: Expression, right: Expression, an: String, bn: String)
      extends BinaryExpression {
    override def dataType: DataType = (left.dataType, right.dataType) match {
      case (ArrayType(a, acn), ArrayType(b, bcn)) => ArrayType(StructType(Seq(
        StructField(an, a, acn), StructField(bn, b, bcn))), containsNull = false)
    }
    override def nullable: Boolean = true
    override def prettyName: String = "cartesian"
    override def checkInputDataTypes(): TypeCheckResult = listCheck(left, right)
    override def eval(input: InternalRow): Any = cartesianEval(
      left.eval(input).asInstanceOf[ArrayData], right.eval(input).asInstanceOf[ArrayData],
      elementType(left), elementType(right))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.StructureExprs.cartesianEval",
        elementType(left), elementType(right))
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** `slice(c, start, length)` as Spark's `slice` evaluates it, errors
    * included. */
  private def slice(c: ArrayData, start: Int, length: Int, et: DataType): ArrayData = {
    val n = c.numElements()
    val from =
      if (start == 0) throw GraftBridge.sliceStartError()
      else if (start < 0) start + n
      else start - 1
    if (length < 0) throw GraftBridge.sliceLengthError(length)
    val to = math.min(from + length, n)
    if (from < 0 || from >= n || to <= from) return new GenericArrayData(Array.empty[Any])
    new GenericArrayData(Array.tabulate(to - from)(k => at(c, from + k, et)))
  }

  private def countAt(counts: ArrayData, i: Int, cet: DataType): Int = cet match {
    case IntegerType => counts.getInt(i)
    case ShortType => counts.getShort(i)
    case ByteType => counts.getByte(i)
  }

  /** `ak.unflatten(counts)` within a row, the spelling
    *   offsets = aggregate(counts, array(0), (acc, n) -> concat(acc,
    *     array(element_at(acc, -1) + n)))
    *   zip_with(slice(offsets, 1, size(counts)), counts,
    *     (off, n) -> slice(c, off + 1, n))
    * sublist i is `slice(c, offsets(i) + 1, counts(i))`: null from the
    * first null count on and when `c` is null; a negative count raises
    * `slice`'s error. The offset sums overflow as Spark's int `+` does
    * under `ansi` (raise) or not (wrap). */
  def unflattenEval(c: ArrayData, counts: ArrayData, et: DataType, cet: DataType,
      ansi: Boolean): ArrayData = {
    if (counts == null) return null
    def add(x: Int, y: Int): Int = if (ansi) Math.addExact(x, y) else x + y
    val k = counts.numElements()
    val off = new Array[Int](k + 1)
    var firstNull = k + 1 // offsets from this index on are null
    var i = 0
    while (i < k && firstNull > i) {
      if (counts.isNullAt(i)) firstNull = i + 1
      else off(i + 1) = add(off(i), countAt(counts, i, cet))
      i += 1
    }
    val out = new Array[Any](k)
    if (c != null) {
      i = 0
      while (i < math.min(k, firstNull)) {
        val start = add(off(i), 1)
        if (!counts.isNullAt(i)) out(i) = slice(c, start, countAt(counts, i, cet), et)
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  case class Unflatten(left: Expression, right: Expression, ansi: Boolean)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(left.dataType, containsNull = true)
    override def nullable: Boolean = right.nullable
    override def prettyName: String = "unflatten"
    override def checkInputDataTypes(): TypeCheckResult = listCheck(left, right) match {
      case TypeCheckResult.TypeCheckSuccess => elementType(right) match {
        case IntegerType | ShortType | ByteType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"unflatten needs int counts, got ${other.catalogString}")
      }
      case failure => failure
    }
    override def eval(input: InternalRow): Any = unflattenEval(
      left.eval(input).asInstanceOf[ArrayData], right.eval(input).asInstanceOf[ArrayData],
      elementType(left), elementType(right), ansi)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.StructureExprs.unflattenEval",
        elementType(left), elementType(right), ansi)
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  private def col(e: Expression): Column = GraftBridge.column(e)
  private def expr(c: Column): Expression = GraftBridge.expression(c)

  def localIndex(c: Column): Column = col(LocalIndex(expr(c)))
  def argsort(c: Column): Column = col(Argsort(expr(c)))
  def padNone(c: Column, target: Int, clip: Boolean): Column =
    col(PadNone(expr(c), target, clip))
  def fillNone(c: Column, v: Column): Column = col(FillNone(expr(c), expr(v)))
  def cartesian(a: Column, b: Column, an: String, bn: String): Column =
    col(Cartesian(expr(a), expr(b), an, bn))
  def unflatten(c: Column, counts: Column): Column =
    col(Unflatten(expr(c), expr(counts), SQLConf.get.ansiEnabled))
}
