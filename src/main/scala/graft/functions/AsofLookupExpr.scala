package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types._

/** As-of lookup against a dimension-sized right side: the one sorted-table
  * search behind [[graft.operators.AsofJoin.asofJoinBroadcast]],
  * [[asofLookup]] and [[graft.streaming.Streaming.streamingAsofEnrich]].
  *
  * [[table]] collects the right side once and sorts each key's rows by ts;
  * the [[lookup]] kernel resolves one (key, ts) with a binary search. As a
  * scalar expression it runs in a projection over ANY frame, batch or
  * stream: the left side is never shuffled, no streaming state accrues,
  * and the table rides to the tasks as a reference object.
  *
  * Scale contract: the right side must be dimension-sized (rates,
  * reference prices, config history), the bound of every broadcast join.
  * Keys, ts and payloads keep their own types: a key matches by equality,
  * a ts compares in its type's order, and a match returns every payload
  * column. Same direction semantics as [[graft.operators.AsofJoin.asofJoin]]:
  * inclusive bounds, `nearest` ties to the backward match.
  */
object AsofLookup {

  /** The right side sorted for one `direction` — a reference object in
    * generated code. The rows of the key that `index` maps to `i` are
    * `offsets(i) until offsets(i + 1)`, sorted by ts. Keys, `tss` and the
    * payload `rows` are Catalyst values. */
  final class Table private[functions] (val keyType: DataType,
      val tsType: DataType, val payloadType: StructType, val direction: String,
      val index: java.util.HashMap[Any, Integer], val offsets: Array[Int],
      val tss: Array[Any], val rows: Array[InternalRow]) extends Serializable {
    @transient lazy val tsOrd: Ordering[Any] = TypeUtils.getInterpretedOrdering(tsType)
  }

  /** The [[AsofLookupExpr]] kernel: the payload row `table` matches for
    * key `k` at ts `t`, null when `k` or `t` is null, the key is absent
    * or no row lies on the direction's side of `t`. A matched row whose
    * payload columns are null returns them null, as the join forms do. */
  def lookup(k: Any, t: Any, table: Table): InternalRow = {
    import table._
    if (k == null || t == null) return null
    val i = index.get(k)
    if (i == null) return null
    val start = offsets(i); val end = offsets(i + 1)
    // a = the first row later than t
    var a = start; var b = end
    while (a < b) {
      val mid = (a + b) >>> 1
      if (tsOrd.lteq(tss(mid), t)) a = mid + 1 else b = mid
    }
    val back = a - 1 // the last row at or before t, start - 1 if none
    val fwd = if (back >= start && tsOrd.equiv(tss(back), t)) back else a
    val pick = direction match {
      case "backward" => back
      case "forward" => fwd
      case _ =>
        if (back < start) fwd
        else if (fwd == end || backCloser(t, tss(back), tss(fwd))) back
        else fwd
    }
    if (pick < start || pick == end) null else rows(pick)
  }

  /** Whether `t` is at least as close to the earlier ts `b` as to the
    * later `f`, ties going backward. Integral Catalyst values (also a
    * timestamp's micros and a date's days) compare exactly: with
    * b <= t <= f both distances lie in [0, 2^64), so the wrapped Long
    * differences compare right UNSIGNED, where a signed `t - b <= f - t`
    * wraps for extreme mixed-sign ts and picks the far match. Fractional
    * ts compare as doubles. */
  private def backCloser(t: Any, b: Any, f: Any): Boolean = t match {
    case _: java.lang.Double | _: java.lang.Float | _: Decimal =>
      def d(v: Any) = v match {
        case x: Decimal => x.toDouble
        case x: Number => x.doubleValue
      }
      d(t) - d(b) <= d(f) - d(t)
    case _ =>
      def l(v: Any) = v.asInstanceOf[Number].longValue
      java.lang.Long.compareUnsigned(l(t) - l(b), l(f) - l(t)) <= 0
  }

  /** Collect and sort `right` into a [[Table]] for `direction`
    * (`"backward"`, `"forward"` or `"nearest"`). Rows with a null key or
    * ts are dropped (they can never match); rows with null payloads are
    * kept — they are real matches that shadow other rows. Rows should be
    * unique per (key, ts): which of two duplicates matches is unspecified. */
  def table(right: DataFrame, keyCol: String, tsCol: String,
      payloadCols: Seq[String], direction: String = "backward"): Table = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"asof lookup: unknown direction '$direction'")
    val rows = right.select(col(keyCol), col(tsCol), struct(payloadCols.map(col): _*))
    val Seq(keyType, tsType, payloadType: StructType) = rows.schema.map(_.dataType)
    require(direction != "nearest" || (tsType match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }), s"asof lookup: nearest needs a numeric, date or timestamp ts, got $tsType")
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(rows.schema)
    val tsOrd = TypeUtils.getInterpretedOrdering(tsType)
    val byKey = rows.collect().toSeq
      .map(toCatalyst(_).asInstanceOf[InternalRow])
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .groupBy(_.get(0, keyType)).toArray
      .map { case (k, rs) =>
        k -> rs.sortWith((x, y) => tsOrd.lt(x.get(1, tsType), y.get(1, tsType)))
      }
    val index = new java.util.HashMap[Any, Integer]()
    byKey.indices.foreach(i => index.put(byKey(i)._1, i))
    val sorted = byKey.flatMap(_._2)
    new Table(keyType, tsType, payloadType, direction, index,
      byKey.scanLeft(0)(_ + _._2.size),
      sorted.map(_.get(1, tsType)), sorted.map(_.getStruct(2, payloadType.length)))
  }

  case class AsofLookupExpr(left: Expression, right: Expression, table: Table)
      extends BinaryExpression {
    override def dataType: DataType = table.payloadType
    override def nullable: Boolean = true
    override def nullSafeEval(k: Any, t: Any): Any = lookup(k, t, table)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      Kernels.call(ctx, ev, this, "graft.functions.AsofLookup.lookup", table)
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): AsofLookupExpr =
      copy(left = newLeft, right = newRight)
  }

  /** The struct of payload columns `table` matches for each row's
    * (`keyC`, `tsC`), each cast to the right side's key and ts type; null
    * when no right row qualifies. */
  def lookupColumn(table: Table, keyC: Column, tsC: Column): Column =
    GraftBridge.column(AsofLookupExpr(
      GraftBridge.expression(keyC.cast(table.keyType)),
      GraftBridge.expression(tsC.cast(table.tsType)), table))

  /** The enrichment column: the latest `payloadCol` from `right` with
    * right ts <= the row's `tsC`, per `keyC`, in the payload's own type.
    * `keyC` and `tsC` are cast to the right side's key and ts types, so a
    * timestamp ts is passed as the timestamp itself (a long casts to a
    * timestamp as SECONDS). */
  def asofLookup(right: DataFrame, keyCol: String, tsCol: String,
      payloadCol: String)(keyC: Column, tsC: Column): Column =
    lookupColumn(table(right, keyCol, tsCol, Seq(payloadCol)), keyC, tsC)
      .getField(payloadCol)
}
