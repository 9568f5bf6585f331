package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DateType, DoubleType, LongType, NumericType, TimestampType}

/** Optimizer rule: rewrite a bare range join (`pt BETWEEN lo AND hi`, no
  * equi key) into a bucketed equi-join. This is the one place that knows
  * the bucket scheme: [[graft.operators.RangeJoin]]'s point-in-interval
  * and interval-overlap joins issue the bare join with a width hint and
  * leave the bucketing to this rule.
  *
  * Without an equality conjunct Catalyst can only plan a broadcast nested
  * loop or a cartesian product for such a join — O(|L|·|R|) predicate
  * evaluations, fatal at 100 TB. With this rule enabled, the same user
  * query plans as an ordinary shuffled hash / sort-merge join: the point
  * side gains a `⌊pt/w⌋` bucket column, the bound side explodes to the
  * buckets its `[lo, hi]` range overlaps, the join key is the bucket, and
  * the ORIGINAL predicate rides along as the residual — so results are
  * bit-identical (each matching pair shares exactly one point-bucket; the
  * monotone bucket map means covering holds for strict or non-strict
  * bounds, and malformed `lo > hi` rows are vetoed by the residual).
  * An interval-overlap join (`aLo <= bHi AND bLo <= aHi`) explodes both
  * sides and keeps only the first shared bucket, so each overlapping pair
  * is emitted once.
  *
  * Besides inner joins, LEFT/RIGHT outer and LEFT semi/anti range joins
  * rewrite too when the preserved side is the point side (its rows are
  * never multiplied, so an unmatched outer row null-extends exactly once
  * and semi/anti emit at most once); the opposite orientation is left
  * untouched.
  *
  * Opt-in, two granularities:
  *  - session-wide: set `spark.graft.rangeJoin.bucketWidth` (in the
  *    column's units, e.g. seconds for timestamps) to a positive value;
  *  - per join: tag a join column with
  *    [[graft.operators.RangeJoin.withBucketWidthHint]] — the width rides
  *    as column METADATA on the attribute (metadata survives pruning,
  *    pushdown, and aliasing), so two range joins with different natural
  *    widths coexist in one session. A hint on any of the point/lo/hi
  *    columns wins over the global conf.
  *
  * Pick widths near the median interval width so each interval lands in
  * ~1-2 buckets. The rule never fires on joins that already have an
  * equality conjunct (those already hash-join — and this guard also makes
  * the rewrite a fixed point). The reference has no joins at all (SURVEY
  * §2.6); this is the engine protecting naive Spark-SQL range joins, same
  * spirit as AQE.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val WidthKey = "spark.graft.rangeJoin.bucketWidth"

  /** Column-metadata key carrying a per-join bucket width. */
  val WidthMetaKey = "graft.rangeJoin.bucketWidth"

  private def width: Long =
    try conf.getConfString(WidthKey, "0").toLong
    catch { case _: NumberFormatException => 0L }

  /** Width from column-metadata hints on any referenced attribute of the
    * given expressions (first hit wins), else the session conf, else None. */
  private def effectiveWidth(es: Expression*): Option[Long] = {
    val hinted = es.iterator
      .flatMap(_.references.iterator)
      .collectFirst {
        case a if a.metadata.contains(WidthMetaKey) &&
          a.metadata.getLong(WidthMetaKey) > 0 => a.metadata.getLong(WidthMetaKey)
      }
    hinted.orElse(if (width > 0) Some(width) else None)
  }

  private def bucketable(dt: DataType): Boolean = dt match {
    case _: NumericType | TimestampType | DateType => true
    case _ => false
  }

  /** floor(e / w) as a long — monotone in e, identical on both sides.
    * Dates bucket on days-since-epoch (width unit = days for date
    * columns); dates don't cast to numerics directly. */
  private def bucket(e: Expression, w: Long): Expression = {
    val num = e.dataType match {
      case DateType => UnixDate(e)
      case _ => e
    }
    Floor(Divide(Cast(num, DoubleType), Literal(w.toDouble)))
  }

  /** Is `e` computable from exactly one side? Some(true)=left, Some(false)=right. */
  private def sideOf(e: Expression, l: LogicalPlan, r: LogicalPlan): Option[Boolean] = {
    val refs = e.references
    if (refs.isEmpty || !e.deterministic) None
    else if (refs.subsetOf(l.outputSet)) Some(true)
    else if (refs.subsetOf(r.outputSet)) Some(false)
    else None
  }

  /** Normalize every comparison conjunct to (small, big). */
  private def normalizeBounds(conjuncts: Seq[Expression]): Seq[(Expression, Expression)] =
    conjuncts.collect {
      case GreaterThanOrEqual(a, b) => (b, a)
      case GreaterThan(a, b)        => (b, a)
      case LessThanOrEqual(a, b)    => (a, b)
      case LessThan(a, b)           => (a, b)
    }

  /** Explode `child` to the bucket range [loB, hiB] (clamped: a degenerate
    * lo>hi interval yields ONE bucket row for the residual to veto, not a
    * descending multi-million-element sequence). */
  private def bucketGenerate(loB: Expression, hiB: Expression,
      out: AttributeReference, child: LogicalPlan): Generate = Generate(
    // Sequence is TimeZoneAware: a None zone leaves it unresolved
    Explode(Sequence(loB, Greatest(Seq(loB, hiB)), None,
      Some(conf.sessionLocalTimeZone))),
    unrequiredChildIndex = Nil, outer = false, qualifier = None,
    generatorOutput = Seq(out), child)

  /** (point, lo, hi, pointIsLeft) if the conjuncts bound one side's
    * expression from both directions with the other side's expressions. */
  private def findRange(conjuncts: Seq[Expression], l: LogicalPlan,
      r: LogicalPlan): Option[(Expression, Expression, Expression, Boolean)] = {
    val bounds = normalizeBounds(conjuncts)
    val candidates = for {
      (lo, pt1) <- bounds
      (pt2, hi) <- bounds
      if pt1.semanticEquals(pt2) && bucketable(pt1.dataType)
      ptSide <- sideOf(pt1, l, r)
      loSide <- sideOf(lo, l, r)
      hiSide <- sideOf(hi, l, r)
      if loSide != ptSide && hiSide != ptSide &&
        bucketable(lo.dataType) && bucketable(hi.dataType)
    } yield (pt1, lo, hi, ptSide)
    candidates.headOption
  }

  /** (aLo, aHi, bLo, bHi) with the a-interval from the left child and b
    * from the right, if the conjuncts form an interval-overlap predicate
    * (`aLo <= bHi && bLo <= aHi`, strict or non-strict). */
  private def findOverlap(conjuncts: Seq[Expression], l: LogicalPlan,
      r: LogicalPlan): Option[(Expression, Expression, Expression, Expression)] = {
    val bounds = normalizeBounds(conjuncts)
    val candidates = for {
      (x1, y1) <- bounds // aLo <= bHi
      (x2, y2) <- bounds // bLo <= aHi
      if Seq(x1, y1, x2, y2).forall(e => bucketable(e.dataType))
      s1 <- sideOf(x1, l, r); s2 <- sideOf(y1, l, r)
      s3 <- sideOf(x2, l, r); s4 <- sideOf(y2, l, r)
      if s1 && !s2 && !s3 && s4
    } yield (x1, y2, x2, y1)
    candidates.headOption
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (width <= 0 && !plan.exists {
      case j: Join => j.output.exists(_.metadata.contains(WidthMetaKey)) ||
        j.references.exists(_.metadata.contains(WidthMetaKey))
      case _ => false
    }) return plan
    plan.transform {
      case j @ Join(l, r,
          jt @ (Inner | LeftOuter | RightOuter | LeftSemi | LeftAnti),
          Some(cond), hint)
          if j.resolved && cond.deterministic => {
        val conjuncts = splitConjunctivePredicates(cond)
        val hasEquiKey = conjuncts.exists {
          case EqualTo(a, b) =>
            (for (sa <- sideOf(a, l, r); sb <- sideOf(b, l, r))
              yield sa != sb).getOrElse(false)
          case _ => false
        }
        if (hasEquiKey) j
        else findRange(conjuncts, l, r) match {
          case None => findOverlap(conjuncts, l, r) match {
            // interval-overlap rewrite (inner only: BOTH sides explode, so
            // no side is preserved-safe). Each overlapping pair shares the
            // bucket max(⌊aLo/w⌋, ⌊bLo/w⌋) and ONLY that bucket passes the
            // dedup equality, so every pair emits exactly once; clamped
            // sequences keep degenerate lo>hi intervals to one bucket row,
            // where the dedup bucket still lands whenever the original
            // predicate is satisfiable (bLo <= aHi <= aLo chains the
            // orderings), and the residual vetoes the rest.
            case Some((aLo, aHi, bLo, bHi)) if jt == Inner =>
              effectiveWidth(aLo, aHi, bLo, bHi) match {
                case None => j
                case Some(w) =>
                  val laB = bucket(aLo, w)
                  val lbB = bucket(bLo, w)
                  val ibL = AttributeReference("__graft_rj_lb", LongType)()
                  val ibR = AttributeReference("__graft_rj_rb", LongType)()
                  val lGen = bucketGenerate(laB, bucket(aHi, w), ibL, l)
                  val rGen = bucketGenerate(lbB, bucket(bHi, w), ibR, r)
                  val dedup = EqualTo(ibL, Greatest(Seq(laB, lbB)))
                  val newCond = And(And(EqualTo(ibL, ibR), dedup), cond)
                  Project(j.output, Join(lGen, rGen, jt, Some(newCond), hint))
              }
            case _ => j
          }
          // outer/semi/anti joins are rewritable ONLY when the preserved
          // (outer / semi-probe) side is the POINT side: points keep one
          // bucket, so an unmatched row null-extends exactly once and a
          // semi/anti row is emitted at most once. An exploded preserved
          // side would duplicate per bucket. Inner is always safe (each
          // matching pair shares exactly one point bucket).
          case Some((_, _, _, ptIsLeft))
              if (jt == LeftOuter && !ptIsLeft) ||
                 (jt == RightOuter && ptIsLeft) ||
                 ((jt == LeftSemi || jt == LeftAnti) && !ptIsLeft) => j
          case Some((pt, lo, hi, ptIsLeft)) =>
            effectiveWidth(pt, lo, hi) match {
              case None => j
              case Some(w) =>
                val pb = Alias(bucket(pt, w), "__graft_rj_pb")()
                val ib = AttributeReference("__graft_rj_ib", LongType)()
                val ptChild = if (ptIsLeft) l else r
                val ivChild = if (ptIsLeft) r else l
                val ptSide = Project(ptChild.output :+ pb, ptChild)
                val loB = bucket(lo, w)
                val ivSide = bucketGenerate(loB, bucket(hi, w), ib, ivChild)
                val (nl, nr) = if (ptIsLeft) (ptSide, ivSide) else (ivSide, ptSide)
                val newCond = And(EqualTo(pb.toAttribute, ib), cond)
                Project(j.output, Join(nl, nr, jt, Some(newCond), hint))
            }
        }
      }
    }
  }
}
