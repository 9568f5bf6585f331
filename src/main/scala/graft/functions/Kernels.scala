package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The one way a `graft.functions` expression reaches generated code.
  *
  * Every expression in this package computes in one static Scala method:
  * its `eval` calls that method, and its `doGenCode` is one [[call]] that
  * emits a Java call to the same method. Interpreted and compiled rows run
  * the same loop, so they cannot give two answers, and the projection
  * holding the expression stays inside whole-stage codegen.
  */
object Kernels {

  /** Element `i` as `cast(x AS DOUBLE)` reads it. */
  def toDouble(arr: ArrayData, i: Int, et: DataType): Double = et match {
    case DoubleType => arr.getDouble(i)
    case FloatType => arr.getFloat(i).toDouble
    case IntegerType => arr.getInt(i).toDouble
    case LongType => arr.getLong(i).toDouble
    case _ => rareToDouble(arr, i, et)
  }

  // Out of line, so that toDouble stays small enough for the JIT to inline
  // into a kernel's element loop.
  private def rareToDouble(arr: ArrayData, i: Int, et: DataType): Double = et match {
    case d: DecimalType => arr.getDecimal(i, d.precision, d.scale).toDouble
    case ShortType => arr.getShort(i).toDouble
    case ByteType => arr.getByte(i).toDouble
    case BooleanType => if (arr.getBoolean(i)) 1.0 else 0.0
    case _ => throw new IllegalArgumentException(s"non-numeric list: $et")
  }

  /** Generated code for `ev = method(children..., consts...)`, where
    * `method` is the full name of a static kernel.
    *  - A null-intolerant expression (`e.nullIntolerant`) is null when a
    *    child is: its children are evaluated left to right, stopping at the
    *    first null as `nullSafeEval` does, and reach the kernel unboxed.
    *    Any other expression passes every child as an object, null for SQL
    *    null, and the kernel decides.
    *  - An Int, Long or Boolean constant is a Java literal; a DataType, an
    *    Ordering, an array, an [[AsofLookup.Table]], a Normalizer.Form or a
    *    Broadcast handle is a reference object (a broadcast value reaches
    *    each task through its handle, not as a copy in the task).
    *  - A kernel returning a primitive is assigned without boxing; one
    *    returning an object returns null for SQL null.
    */
  private[functions] def call(ctx: CodegenContext, ev: ExprCode, e: Expression,
      method: String, consts: Any*): ExprCode = {
    val kids = e.children.map(_.genCode(ctx))
    val args = e.children.zip(kids).map { case (c, k) =>
      if (e.nullIntolerant) k.value.toString
      else if (CodeGenerator.isPrimitiveType(c.dataType))
        s"(${k.isNull} ? null : ${CodeGenerator.boxedType(c.dataType)}.valueOf(${k.value}))"
      else s"(${k.isNull} ? null : ${k.value})"
    } ++ consts.map {
      case b: Boolean => b.toString
      case i: Int => i.toString
      case l: Long => s"${l}L"
      case dt: DataType => ctx.addReferenceObj("kernelType", dt, classOf[DataType].getName)
      case o: Ordering[_] => ctx.addReferenceObj("kernelOrd", o, classOf[Ordering[_]].getName)
      case o @ (_: Array[_] | _: AsofLookup.Table | _: java.text.Normalizer.Form) =>
        ctx.addReferenceObj("kernelRef", o)
      case b: Broadcast[_] => ctx.addReferenceObj("kernelBroadcast", b, classOf[Broadcast[_]].getName)
    }
    val t = CodeGenerator.javaType(e.dataType)
    val invoke = s"$method(${args.mkString(", ")})"
    val assign =
      if (returnsPrimitive(method)) s"${ev.isNull} = false;\n${ev.value} = $invoke;"
      else {
        val r = ctx.freshName("kernel")
        val unboxed = if (CodeGenerator.isPrimitiveType(e.dataType)) s"$r.${t}Value()" else r
        s"""${CodeGenerator.boxedType(e.dataType)} $r = $invoke;
           |${ev.isNull} = $r == null;
           |if (!${ev.isNull}) ${ev.value} = $unboxed;""".stripMargin
      }
    val body =
      if (e.nullIntolerant) e.children.zip(kids).foldRight(assign) { case ((c, k), inner) =>
        if (c.nullable) s"${k.code}\nif (!${k.isNull}) {\n$inner\n}" else s"${k.code}\n$inner"
      }
      else (kids.map(_.code.toString) :+ assign).mkString("\n")
    ev.copy(code = code"""
      boolean ${ev.isNull} = true;
      $t ${ev.value} = ${CodeGenerator.defaultValue(e.dataType)};
      $body""")
  }

  /** Whether the static kernel `method` returns a primitive. */
  private def returnsPrimitive(method: String): Boolean = {
    val dot = method.lastIndexOf('.')
    Class.forName(method.take(dot)).getMethods.toSeq
      .filter(_.getName == method.drop(dot + 1)).map(_.getReturnType.isPrimitive).distinct match {
      case Seq(p) => p
      case _ => throw new IllegalArgumentException(s"$method is not one static kernel")
    }
  }
}
