package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.plans.RangeJoinRewrite.WidthMetaKey

/** Point-in-interval and interval-overlap (range) joins.
  *
  * The reference has no relational joins at all (SURVEY §2.6,
  * `src/dask_awkward/__init__.py:1-108`); this is a Spark-native extension
  * for the event-pipeline family (windows, attribution, sensor alignment).
  *
  * Spark has no native range-join optimization: a bare
  * `left.join(right, pt.between(start, end))` has no equi key, so Catalyst
  * plans a BroadcastNestedLoopJoin (small right) or a cartesian product —
  * O(|L|x|R|) predicate evaluations, fatal at 100 TB.
  *
  * [[pointInInterval]] and [[intervalOverlap]] issue exactly that bare
  * inequality join, with the bucket width tagged on one join column
  * ([[withBucketWidthHint]]). The optimizer rule
  * [[graft.plans.RangeJoinRewrite]] — installed by
  * [[graft.plans.GraftExtensions]], which every session from
  * [[graft.core.SessionConfigs.local]] carries — turns it into an equi-join
  * on time buckets with the original predicate as the residual: the join
  * is then a plain shuffled hash / sort-merge join, and partial
  * aggregation, AQE skew splitting and broadcast promotion all apply as
  * usual. The bucket scheme lives only in that rule. In a session without
  * the extensions the same call plans a nested loop: the results are the
  * same, the cost is quadratic.
  *
  * Scale notes (100 TB design):
  *  - shuffle volume is O(|L| + |R| * avgSpan/w): choose `w` near the median
  *    interval width so each interval lands in ~1-2 buckets;
  *  - a hot bucket (many intervals covering one time range) is an ordinary
  *    skewed join key — AQE skew-join splitting handles it without salting
  *    because the build side is replicated per split;
  *  - if the interval table is small, skip all of this and use
  *    [[pointInIntervalBroadcast]] — one broadcast pass over L with no
  *    shuffle or row replication is strictly better.
  */
object RangeJoin {

  /** Tag `colName` with a per-join bucket width for
    * [[graft.plans.RangeJoinRewrite]]: joins whose range predicate touches
    * this column rewrite with THIS width instead of the session-wide
    * `spark.graft.rangeJoin.bucketWidth`. The width travels as column
    * metadata on the attribute — it survives pruning, pushdown, and
    * aliasing, so two range joins with different natural widths (e.g. a
    * seconds-scale event join and a days-scale calendar join) coexist in
    * one session. */
  def withBucketWidthHint(df: DataFrame, colName: String, width: Long): DataFrame = {
    require(width > 0, s"width must be positive, got $width")
    setWidth(df, colName, Some(width))
  }

  /** `colName` with its width hint set to `width`, or removed for None;
    * the column's other metadata is kept. */
  private def setWidth(df: DataFrame, colName: String, width: Option[Long]): DataFrame = {
    val meta = new MetadataBuilder().withMetadata(df.schema(colName).metadata)
    width.fold(meta.remove(WidthMetaKey))(meta.putLong(WidthMetaKey, _))
    df.withColumn(colName, df(colName).as(colName, meta.build()))
  }

  /** The inequality join `on`, rewritten with `bucketWidth` through a hint
    * on `hinted` (a `left` column). The hint is stripped from the output,
    * so it cannot rewrite a later join. */
  private def bucketed(left: DataFrame, right: DataFrame, hinted: String,
      bucketWidth: Long)(on: Column): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty, s"left/right column names must be distinct, both have: $overlap")
    setWidth(withBucketWidthHint(left, hinted, bucketWidth).join(right, on, "inner"),
      hinted, None)
  }

  /** Exact inner point-in-interval join (`start <= pt <= end`), bucketed
    * on `pt` with width `bucketWidth`.
    *
    * `pt`, `start`, `end` must be numeric, date or timestamp columns in the
    * same unit; the width is in that unit (seconds for timestamps, days
    * for dates). Column names must be distinct across `left` and `right`.
    */
  def pointInInterval(left: DataFrame, right: DataFrame,
      pt: String, start: String, end: String,
      bucketWidth: Long): DataFrame =
    bucketed(left, right, pt, bucketWidth)(col(pt) >= col(start) && col(pt) <= col(end))

  /** Exact inner interval-overlap join (`[lstart,lend] ∩ [rstart,rend] ≠ ∅`),
    * both sides bucketed with width `bucketWidth`; every overlapping pair
    * comes out exactly once, with no distinct pass over the output.
    *
    * Degenerate (start > end) intervals follow the raw predicate, exactly
    * like the SQL form `lstart <= rend AND rstart <= lend` — fuzz-verified
    * in DifferentialFuzzSpec. */
  def intervalOverlap(left: DataFrame, right: DataFrame,
      lstart: String, lend: String, rstart: String, rend: String,
      bucketWidth: Long): DataFrame =
    bucketed(left, right, lstart, bucketWidth)(
      col(lstart) <= col(rend) && col(rstart) <= col(lend))

  /** Small-interval-table path: broadcast nested loop IS the right plan when
    * R fits in a broadcast — one pass over L, zero shuffle, no row
    * replication. Caller asserts smallness by choosing this method. */
  def pointInIntervalBroadcast(left: DataFrame, right: DataFrame,
      pt: String, start: String, end: String): DataFrame =
    left.join(broadcast(right),
      col(pt) >= col(start) && col(pt) <= col(end), "inner")
}
