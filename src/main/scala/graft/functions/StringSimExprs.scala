package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** String-similarity kernels Spark lacks natively. Spark ships
  * levenshtein (used by graft.dedup's edit-distance pairs); record
  * linkage on NAMES wants Jaro–Winkler — transposition-tolerant, prefix-
  * boosted, the matcher census/MDM pipelines standardized on. Implemented
  * as a Catalyst expression over one static Scala kernel that `eval` and
  * the generated code ([[Kernels.call]]) both call, with the STANDARD
  * semantics DuckDB's `jaro_winkler_similarity` implements — pinned
  * empirically: prefix boost (p=0.1, l≤4) applies only when jaro > 0.7,
  * either-empty → 0.0 — so the oracle can grade the kernel directly. */
object StringSimExprs {

  /** Jaro similarity over UTF-16 code units. Matching window
    * max(|a|,|b|)/2 - 1 (floor, ≥0), greedy left-to-right match marking,
    * transpositions counted over the aligned matched sequences, halved
    * in the final term: ((m/|a|) + (m/|b|) + ((m - t/2)/m)) / 3. */
  def jaro(a: String, b: String): Double = {
    val la = a.length; val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val am = new Array[Boolean](la)
    val bm = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!bm(j) && a.charAt(i) == b.charAt(j)) {
          am(i) = true; bm(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (am(i)) {
        while (!bm(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    (md / la + md / lb + (md - t / 2.0) / md) / 3.0
  }

  /** Jaro–Winkler: boost by the common prefix (≤4 chars, p = 0.1) only
    * above the standard 0.7 threshold. */
  def jaroWinkler(a: String, b: String): Double = {
    val j = jaro(a, b)
    if (j <= 0.7) return j
    val cap = math.min(4, math.min(a.length, b.length))
    var l = 0
    while (l < cap && a.charAt(l) == b.charAt(l)) l += 1
    j + l * 0.1 * (1 - j)
  }

  /** [[jaroWinkler]] of two SQL strings: the [[JaroWinklerExpr]] kernel. */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = jaroWinkler(a.toString, b.toString)

  /** [[jaroWinkler]] as a column; null when either string is null. */
  case class JaroWinklerExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "jaro_winkler"
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any): Any =
      jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      Kernels.call(ctx, ev, this, "graft.functions.StringSimExprs.jaroWinkler")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def jaroWinklerSim(a: Column, b: Column): Column =
    GraftBridge.column(JaroWinklerExpr(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}
