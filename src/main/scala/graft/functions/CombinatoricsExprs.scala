package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `ak.combinations(array, n)` for general n (reference
  * `lib/structure.py:284-331`; n=2 stays on the HOF composition in
  * graft.structure.combinations2, which preserves awkward's record-field
  * output shape).
  *
  * For n > 2 the HOF route needs n nested transforms over tail slices —
  * interpreted evaluation and O(n) array copies per tuple — so this is a
  * tight-loop Expression instead. Output is array<array<T>> (fixed-length
  * n tuples in index-lexicographic order, awkward's enumeration order);
  * awkward's named-record variant (`fields=`) is the struct projection of
  * these tuples.
  *
  * `argcombinationsN` falls out by feeding `localIndex(c)`: combinations
  * over [0..len) index values ARE the index tuples.
  */
object CombinatoricsExprs {

  case class Combinations(child: Expression, n: Int, replacement: Boolean)
      extends UnaryExpression {
    require(n >= 1, s"combinations n must be >= 1, got $n")

    private lazy val childArray = child.dataType.asInstanceOf[ArrayType]
    override def dataType: DataType =
      ArrayType(ArrayType(childArray.elementType, childArray.containsNull),
        containsNull = false)

    override def nullIntolerant: Boolean = true
    override def nullSafeEval(input: Any): Any =
      combinationsEval(input.asInstanceOf[ArrayData], n, replacement, childArray.elementType)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      Kernels.call(ctx, ev, this, "graft.functions.CombinatoricsExprs.combinationsEval", n,
        replacement, childArray.elementType)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Shared kernel for [[Combinations]]. */
  def combinationsEval(arr: ArrayData, n: Int, replacement: Boolean,
      et: DataType): ArrayData = {
    val m = arr.numElements()
    if ((!replacement && m < n) || m == 0)
      return new GenericArrayData(Array.empty[Any])
    val vals = new Array[Any](m)
    var v = 0
    while (v < m) {
      // copy: values from unsafe rows may alias a reused buffer
      vals(v) = org.apache.spark.sql.catalyst.InternalRow.copyValue(arr.get(v, et))
      v += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val idx = Array.tabulate(n)(i => if (replacement) 0 else i)
    var done = false
    while (!done) {
      val tuple = new Array[Any](n)
      var t = 0
      while (t < n) { tuple(t) = vals(idx(t)); t += 1 }
      out += new GenericArrayData(tuple)
      // advance to the next index tuple in lexicographic order
      var p = n - 1
      while (p >= 0 && idx(p) == (if (replacement) m - 1 else m - n + p)) p -= 1
      if (p < 0) done = true
      else {
        idx(p) += 1
        var q = p + 1
        while (q < n) { idx(q) = if (replacement) idx(p) else idx(q - 1) + 1; q += 1 }
      }
    }
    new GenericArrayData(out.toArray)
  }

  def combinationsN(arr: Column, n: Int, replacement: Boolean = false): Column =
    GraftBridge.column(Combinations(GraftBridge.expression(arr), n, replacement))
}
