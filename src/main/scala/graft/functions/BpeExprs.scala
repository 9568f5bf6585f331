package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Codegen'd BPE segmentation-count kernel. The Column-HOF spelling of
  * [[graft.text.bpeSegmentCounts]] — `aggregate(toks, ..)` folding a
  * 12-deep `replace` chain per word — evaluates interpreted (Spark
  * higher-order functions don't participate in codegen) and re-scans the
  * delimited string once per rule. This expression applies the learned
  * merges in one tight loop over symbol arrays — the exact algorithm the
  * trainer's driver loop uses, which the DifferentialFuzzSpec pins
  * equal to the literal-replace semantics the DuckDB oracle replays —
  * and the surrounding projection stays in whole-stage codegen with one
  * static call per row ([[Kernels.call]]).
  */
object BpeExprs {

  /** Per-word merge-and-count: alphanumeric words segment through the
    * rules (left-to-right non-overlapping per rule, rules in order),
    * anything else counts as 1 unknown. */
  def bpeCountWord(w: String, as: Array[String], bs: Array[String]): Long = {
    var i = 0
    val n = w.length
    if (n == 0) return 1L // the ''-token convention: 1 unknown
    while (i < n) {
      val c = w.charAt(i)
      if (!((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9'))) return 1L
      i += 1
    }
    var syms = new Array[String](n)
    var m = n
    i = 0
    while (i < n) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
    var r = 0
    while (r < as.length) {
      val a = as(r); val b = bs(r)
      if (m >= 2) {
        val out = new Array[String](m)
        var o = 0
        var j = 0
        while (j < m) {
          if (j < m - 1 && syms(j) == a && syms(j + 1) == b) {
            out(o) = a + b; o += 1; j += 2
          } else { out(o) = syms(j); o += 1; j += 1 }
        }
        syms = out; m = o
      }
      r += 1
    }
    m.toLong
  }

  /** Sum of [[bpeCountWord]] over an array<string> of tokens. */
  def bpeCountEval(arr: ArrayData, as: Array[String],
      bs: Array[String]): Long = {
    var total = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      total += bpeCountWord(arr.getUTF8String(i).toString, as, bs)
      i += 1
    }
    total
  }

  case class BpeCount(child: Expression, as: Array[String],
      bs: Array[String]) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(input: Any): Any =
      bpeCountEval(input.asInstanceOf[ArrayData], as, bs)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      Kernels.call(ctx, ev, this, "graft.functions.BpeExprs.bpeCountEval", as, bs)
    override protected def withNewChildInternal(c: Expression) =
      copy(child = c)
  }

  def bpeCount(tokens: Column, rules: Seq[(String, String)]): Column =
    GraftBridge.column(BpeCount(GraftBridge.expression(tokens),
      rules.map(_._1).toArray, rules.map(_._2).toArray))
}
