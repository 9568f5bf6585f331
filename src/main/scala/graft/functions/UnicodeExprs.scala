package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization (NFC/NFD/NFKC/NFKD) as a codegen'd scalar —
  * the canonical first step of every text-dedup pipeline: visually
  * identical strings with different codepoint sequences ("é" composed
  * vs "e"+U+0301 decomposed; ligatures, fullwidth forms under NFKC)
  * must hash identically before any MinHash/SimHash/fingerprint runs,
  * or near-duplicates silently survive. Spark has no builtin for this;
  * the reference's string layer (lib/str.py) rides Arrow's
  * utf8_normalize, which this matches via java.text.Normalizer (both
  * implement UAX #15).
  *
  * Map-side, shuffle-free, stays inside whole-stage codegen through
  * [[Kernels.call]] (CodegenPinSpec pins codegen == interpreted). */
object UnicodeExprs {

  def normalizeEval(s: UTF8String, form: java.text.Normalizer.Form): UTF8String = {
    val str = s.toString
    // fast path: Normalizer.isNormalized avoids the rebuild for the
    // overwhelmingly-ASCII common case
    if (java.text.Normalizer.isNormalized(str, form)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, form))
  }

  case class UnicodeNormalize(child: Expression, form: String)
      extends UnaryExpression {
    require(Seq("NFC", "NFD", "NFKC", "NFKD").contains(form),
      s"unknown normalization form $form")
    @transient private lazy val f = java.text.Normalizer.Form.valueOf(form)
    override def dataType: DataType = StringType
    override def nullable: Boolean = child.nullable
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(input: Any): Any =
      normalizeEval(input.asInstanceOf[UTF8String], f)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      Kernels.call(ctx, ev, this, "graft.functions.UnicodeExprs.normalizeEval", f)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def unicodeNormalize(c: Column, form: String = "NFC"): Column =
    GraftBridge.column(UnicodeNormalize(GraftBridge.expression(c), form))
}
