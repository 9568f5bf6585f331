package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types._

/** Scalar as-of lookup: the STREAM-STATIC face of the as-of join.
  *
  * [[graft.operators.AsofJoin.asofJoinBroadcast]] resolves each left row
  * with a binary search over a driver-collected right side — but its
  * `left.rdd.mapPartitions` body cannot run inside Structured Streaming.
  * This expression packages the identical sorted-table-and-binary-search
  * into a codegen'd scalar function, so the same enrichment ("state as of
  * event time") runs in a `withColumn` on ANY frame — batch or stream —
  * with zero shuffle and zero streaming state: the table rides along as a
  * task-broadcast reference object, the per-row cost is one binary search.
  *
  * Scale contract: right side must be dimension-sized (rates, reference
  * prices, config history — the same bound as every broadcast join);
  * the fact/stream side is never shuffled. Backward direction, inclusive
  * (right.ts == left.ts matches) — identical to asofJoin's default.
  *
  * Keys are longs, timestamps are micros (timestamp columns are converted
  * with unix_micros by the [[AsofLookup.asofLookup]] builder), payload is
  * a double column — the common numeric-enrichment shape. Wider payloads:
  * call the builder once per column; the table is shared per-call, k-row
  * sized, so duplication is noise.
  */
object AsofLookup {

  /** Immutable sorted lookup table — a reference object in generated
    * code: the rows of key `keys(i)` are `offsets(i) until offsets(i + 1)`,
    * sorted by ts. */
  final class Table(val keys: Array[Long], val offsets: Array[Int],
      val tss: Array[Long], val vals: Array[Double], val nulls: Array[Boolean])
      extends Serializable

  /** The [[AsofLookupExpr]] kernel: null when the key is absent, every
    * right ts is later than `t`, or the matched row's payload is null —
    * the last case mirrors asofJoin/asofJoinBroadcast, which emit null
    * for a matched row with a null payload (advisor finding: the pre-r7
    * table mapped null payloads to NaN, which poisons downstream sums and
    * counts as matched in count(asof_*), diverging from the join forms). */
  def lookup(k: Long, t: Long, table: Table): java.lang.Double = {
    import table._
    // binary search the key directory
    var lo = 0; var hi = keys.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (keys(mid) < k) lo = mid + 1
      else if (keys(mid) > k) hi = mid - 1
      else { lo = mid; hi = -2 }
    }
    if (hi != -2) return null
    val start = offsets(lo); val end = offsets(lo + 1)
    // last right ts <= t within [start, end)
    var a = start; var b = end
    while (a < b) {
      val mid = (a + b) >>> 1
      if (tss(mid) <= t) a = mid + 1 else b = mid
    }
    if (a == start || nulls(a - 1)) null
    else java.lang.Double.valueOf(vals(a - 1))
  }

  /** Collect and sort the right side into a [[Table]]. Null keys/ts rows
    * are dropped (they can never match); null PAYLOAD rows are kept — they
    * are real matches that shadow earlier rows, exactly as in the join
    * forms — and resolve to null. Rows should be unique per (key, ts) —
    * on duplicates the later payload in sort order wins, matching
    * asofJoinBroadcast's sorted-array behavior. */
  def buildTable(right: DataFrame, keyCol: String, tsCol: String,
      payloadCol: String): Table = {
    val tsExpr = right.schema(tsCol).dataType match {
      case TimestampType => unix_micros(col(tsCol))
      case _ => col(tsCol).cast("long")
    }
    val rows = right
      .select(col(keyCol).cast("long"), tsExpr, col(payloadCol).cast("double"))
      .collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) 0.0 else r.getDouble(2), r.isNullAt(2)))
      .sortBy(t => (t._1, t._2))
    val keys = rows.map(_._1).distinct
    val offsets = new Array[Int](keys.length + 1)
    var ki = 0
    rows.zipWithIndex.foreach { case ((k, _, _, _), i) =>
      while (ki < keys.length && keys(ki) != k) { ki += 1; offsets(ki) = i }
    }
    offsets(keys.length) = rows.length
    new Table(keys, offsets, rows.map(_._2), rows.map(_._3), rows.map(_._4))
  }

  case class AsofLookupExpr(left: Expression, right: Expression, table: Table)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(k: Any, t: Any): Any =
      lookup(k.asInstanceOf[Long], t.asInstanceOf[Long], table)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      Kernels.call(ctx, ev, this, "graft.functions.AsofLookup.lookup", table)
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): AsofLookupExpr =
      copy(left = newLeft, right = newRight)
  }

  /** Build the enrichment column: latest `payloadCol` from `right` with
    * right ts <= the row's `tsC`, per `keyC`.
    *
    * `tsC` MUST already be integral in the same unit as the right side's
    * ts (micros for timestamps — wrap timestamp columns in
    * `unix_micros`). The unit check cannot live here: a caller-supplied
    * Column may be unresolved (no reliable dataType before analysis), and
    * a silent seconds-vs-micros mismatch matches nothing — so the typed
    * entry points ([[graft.streaming.Streaming.streamingAsofEnrich]])
    * resolve the left frame's schema and convert before calling. */
  def asofLookup(right: DataFrame, keyCol: String, tsCol: String,
      payloadCol: String)(keyC: Column, tsLongC: Column): Column = {
    val table = buildTable(right, keyCol, tsCol, payloadCol)
    GraftBridge.column(AsofLookupExpr(
      GraftBridge.expression(keyC.cast("long")),
      GraftBridge.expression(tsLongC.cast("long")), table))
  }
}
