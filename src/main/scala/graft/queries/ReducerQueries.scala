package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.structure._
import graft.reducers._

/** Reducer wave (SURVEY §2.5, reference `lib/reducers.py`).
  *
  * axis>=1 queries reduce each order's item list row-locally (list kernels); axis=0
  * queries are whole-table Catalyst aggregates, whose partial+final plan IS
  * the reference's `AwkwardTreeReductionLayer` (`layers/layers.py:372-644`)
  * done natively — including mean/std/var/corr/covar/linear_fit, which the
  * reference left unimplemented at axis=0 (`reducers.py:328-358` etc.).
  *
  * Rounding policy: integer-valued outputs exact; continuous stats on small
  * integer inputs (quantity) rounded at 4-6 decimals where the cross-engine
  * error (~1e-12) is orders of magnitude below the tie window.
  */
object ReducerQueries {
  type Q = (SparkSession, String) => DataFrame

  private def qtys: Column = transform(col("items"), _.getField("quantity"))

  val queries: Map[String, Q] = Map(
    // the full axis=1 reducer battery per order
    "r_axis1" -> { (s, dir) =>
      Tables.ordersNested(s, dir).select(col("o_orderkey"),
        round(sumList(qtys), 2).as("sum_qty"),
        (round(prodList(transform(col("items"), it =>
          it.getField("discount") + 1)), 6) + lit(0.0)).as("prod_disc"),
        minList(qtys).cast("long").as("min_qty"),
        maxList(qtys).cast("long").as("max_qty"),
        countList(qtys).cast("long").as("count_qty"),
        countNonzeroList(transform(qtys, _ - 1)).cast("long").as("n_not1"),
        anyList(transform(qtys, _ > 40)).as("any_big"),
        allList(transform(qtys, _ > 5)).as("all_gt5"),
        round(meanList(qtys), 4).as("mean_qty"),
        round(varList(qtys), 4).as("var_qty"),
        round(varList(qtys, 1), 4).as("var1_qty"),
        round(stdList(qtys), 4).as("std_qty"),
        ptpList(qtys).cast("long").as("ptp_qty"),
        round(momentList(qtys, 2), 4).as("moment2"))
    },

    // softmax over the quantity list: first element + entropy-free checksum
    "r_softmax" -> { (s, dir) =>
      Tables.ordersNested(s, dir).select(col("o_orderkey"),
        round(firsts(softmaxList(qtys)), 4).as("sm_first"),
        round(maxList(softmaxList(qtys)), 4).as("sm_max"))
    },

    // argmin/argmax axis=1: 0-based first-occurrence positions
    "r_argminmax" -> { (s, dir) =>
      Tables.ordersNested(s, dir).select(col("o_orderkey"),
        argminList(qtys).as("idx_min"),
        argmaxList(qtys).as("idx_max"))
    },

    // corr/covar/linear_fit per order over (quantity, round(discount*100)).
    // Both inputs are integer-valued, so covariance and the regression slope
    // are exact rationals; emitting integer numerator/denominator avoids
    // rounding-boundary ambiguity entirely (covar = num/n^2, slope = num/den).
    "r_corr" -> { (s, dir) =>
      val discs = transform(col("items"), it => round(it.getField("discount") * 100))
      val n = size(col("items")).cast("double")
      val sx = sumList(qtys); val sy = sumList(discs)
      val sxy = sumList(zip_with(qtys, discs, (a, b) => a * b))
      val sxx = sumList(transform(qtys, q => q * q))
      Tables.ordersNested(s, dir)
        .where(size(col("items")) >= 3)
        .select(col("o_orderkey"),
          (n * sxy - sx * sy).cast("long").as("covar_num"),
          (n * sxx - sx * sx).cast("long").as("slope_den"),
          n.cast("long").as("n_items"))
    },

    // axis=0 (whole-table) reducer battery — native partial+final aggregation
    "r_axis0" -> { (s, dir) =>
      val l = Tables.lineitem(s, dir)
      l.agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        min(col("l_quantity")).cast("long").as("min_qty"),
        max(col("l_quantity")).cast("long").as("max_qty"),
        count(col("l_quantity")).as("count_qty"),
        count(when(col("l_discount") =!= 0, 1)).as("n_disc_nonzero"),
        bool_or(col("l_quantity") > 49).as("any_50"),
        bool_and(col("l_quantity") > 0).as("all_pos"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(var_pop(col("l_quantity")), 4).as("var_qty"),
        round(stddev_samp(col("l_quantity")), 4).as("std1_qty"),
        (round(corr(col("l_quantity"), col("l_extendedprice")), 6) + lit(0.0)).as("corr_qe"),
        (round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4) + lit(0.0)).as("slope"),
        (round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4) + lit(0.0)).as("intercept"))
    },

    // ak.sum/count(axis=0) over RAGGED lists — position-wise totals with
    // awkward's ragged broadcast (row contributes to position p iff
    // len > p); custom typed Aggregator (reference lib/reducers.py:517,
    // core.py:2258 tree reduction = Spark partial+final)
    "r_axis0_ragged" -> { (s, dir) =>
      // declarative form: posexplode + groupBy(pos) stays in whole-stage
      // codegen with map-side partial aggregation (the shuffle carries
      // max-list-len rows per partition) — measured ~1.4x the typed
      // ElementwiseAgg aggregator, which pays a per-row encoder round-trip.
      // The Aggregator remains the API for composition (e.g. kmeans means).
      val qs = transform(col("items"), _.getField("quantity"))
      Tables.ordersNested(s, dir)
        .select(posexplode(qs).as(Seq("pos", "q")))
        .groupBy(col("pos"))
        .agg(round(sum(col("q")), 2).as("s"), count(col("q")).as("n"))
        .select(col("pos").cast("long").as("pos"), col("s"), col("n"))
    },

    // ak.isclose + ak.nan_to_num — reference lib/structure.py:509,601
    "r_isclose_nan" -> { (s, dir) =>
      val l = Tables.lineitem(s, dir)
      val a = col("l_quantity") * 0.1 * 10
      val sq = sqrt(col("l_quantity") - 30)
      l.agg(
        count(when(isclose(a, col("l_quantity"), rtol = 0, atol = 1e-15), 1))
          .as("n_close"),
        count(when(isnan(sq), 1)).as("n_nan"),
        round(sum(nanToNum(sq)), 4).as("sum_sqrt"))
    },

    // EXACT quantiles without a global sort: select-k by histogram
    // bisection on the order-preserving long image of the double column
    // (graft.operators.ExactQuantiles) — <= 7 filtered scans, zero
    // shuffles, values are actual corpus elements so they hash-compare
    // bit-exactly against DuckDB's quantile_disc
    "r_quantiles" -> { (s, dir) =>
      graft.operators.ExactQuantiles.exactQuantiles(
        Tables.lineitem(s, dir), "l_extendedprice",
        Seq(0.01, 0.25, 0.5, 0.75, 0.99))
    },

    // per-GROUP exact quantile_disc through the two-level rank — groups
    // here are huge (3 return flags over the whole table), exactly the
    // case where the window spelling serializes a group into one task
    "r_quantiles_grp" -> { (s, dir) =>
      graft.operators.ExactQuantiles.exactQuantilesByGroup(
        Tables.lineitem(s, dir), "l_returnflag", "l_extendedprice",
        Seq(0.25, 0.5, 0.75))
        .select(col("g"), col("prob"), col("value"))
    },

    // robust MAD outliers (ExactQuantiles.madOutliers): exact per-group
    // median, exact median absolute deviation, 3×MAD cut — every
    // reported value is a data element or one IEEE op on data elements,
    // no quantization needed
    "r_mad" -> { (s, dir) =>
      graft.operators.ExactQuantiles.madOutliers(
        Tables.lineitem(s, dir), "l_returnflag", "l_extendedprice")
        .select(col("g").as("l_returnflag"), col("n"), col("med"),
          col("mad"), col("n_outliers"))
    },
    // winsorized robust stats (graft.operators.ExactQuantiles
    // .winsorizedStats): clip to the exact per-group [p10, p90]
    // quantile_disc elements, centi-quantized clipped sum
    "r_winsor" -> { (s, dir) =>
      graft.operators.ExactQuantiles.winsorizedStats(
        Tables.lineitem(s, dir), "l_returnflag", "l_extendedprice",
        pLo = 0.10, pHi = 0.90)
    })

  private val ORD = Oracles.itemOrder

  val oracle: Map[String, String] = Map(
    "r_axis1" ->
      """SELECT l_orderkey AS o_orderkey, round(sum(l_quantity),2) AS sum_qty, round(product(1+l_discount),6)+0 AS prod_disc, CAST(min(l_quantity) AS BIGINT) AS min_qty, CAST(max(l_quantity) AS BIGINT) AS max_qty, count(l_quantity) AS count_qty, CAST(count(*) FILTER (WHERE l_quantity <> 1) AS BIGINT) AS n_not1, bool_or(l_quantity > 40) AS any_big, bool_and(l_quantity > 5) AS all_gt5, round(avg(l_quantity),4) AS mean_qty, round(var_pop(l_quantity),4) AS var_qty, round(var_samp(l_quantity),4) AS var1_qty, round(stddev_pop(l_quantity),4) AS std_qty, CAST(max(l_quantity)-min(l_quantity) AS BIGINT) AS ptp_qty, round(sum(l_quantity*l_quantity)/count(*),4) AS moment2 FROM lineitem GROUP BY 1""",
    "r_softmax" ->
      s"""SELECT l_orderkey AS o_orderkey, round(max(CASE WHEN rn=1 THEN e END)/sum(e),4) AS sm_first, round(max(e)/sum(e),4) AS sm_max FROM (SELECT l_orderkey, exp(l_quantity - max(l_quantity) OVER (PARTITION BY l_orderkey)) AS e, row_number() OVER (PARTITION BY l_orderkey ORDER BY $ORD) AS rn FROM lineitem) t GROUP BY 1""",
    "r_argminmax" ->
      s"""SELECT l_orderkey AS o_orderkey, min(CASE WHEN l_quantity=mn THEN rn END)-1 AS idx_min, min(CASE WHEN l_quantity=mx THEN rn END)-1 AS idx_max FROM (SELECT l_orderkey, l_quantity, row_number() OVER (PARTITION BY l_orderkey ORDER BY $ORD) AS rn, min(l_quantity) OVER (PARTITION BY l_orderkey) AS mn, max(l_quantity) OVER (PARTITION BY l_orderkey) AS mx FROM lineitem) t GROUP BY 1""",
    "r_corr" ->
      """SELECT l_orderkey AS o_orderkey, count(*)*CAST(sum(q*d) AS BIGINT) - CAST(sum(q) AS BIGINT)*CAST(sum(d) AS BIGINT) AS covar_num, count(*)*CAST(sum(q*q) AS BIGINT) - CAST(sum(q) AS BIGINT)*CAST(sum(q) AS BIGINT) AS slope_den, count(*) AS n_items FROM (SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS q, CAST(round(l_discount*100) AS BIGINT) AS d FROM lineitem) t GROUP BY 1 HAVING count(*) >= 3""",
    "r_axis0" ->
      """SELECT round(sum(l_quantity),2) AS sum_qty, CAST(min(l_quantity) AS BIGINT) AS min_qty, CAST(max(l_quantity) AS BIGINT) AS max_qty, count(l_quantity) AS count_qty, count(*) FILTER (WHERE l_discount <> 0) AS n_disc_nonzero, bool_or(l_quantity > 49) AS any_50, bool_and(l_quantity > 0) AS all_pos, round(avg(l_quantity),6) AS avg_qty, round(var_pop(l_quantity),4) AS var_qty, round(stddev_samp(l_quantity),4) AS std1_qty, round(corr(l_quantity, l_extendedprice),6)+0 AS corr_qe, round(regr_slope(l_extendedprice, l_quantity),4)+0 AS slope, round(regr_intercept(l_extendedprice, l_quantity),4)+0 AS intercept FROM lineitem""",
    "r_isclose_nan" ->
      """SELECT count(*) FILTER (WHERE abs(l_quantity*0.1*10 - l_quantity) <= 1e-15) AS n_close, count(*) FILTER (WHERE l_quantity < 30) AS n_nan, round(sum(CASE WHEN l_quantity < 30 THEN 0 ELSE sqrt(l_quantity-30) END),4) AS sum_sqrt FROM lineitem""",
    "r_axis0_ragged" ->
      s"""WITH ord AS (SELECT l_orderkey, list(l_quantity ORDER BY $ORD) AS qs FROM lineitem GROUP BY l_orderkey) SELECT CAST(i - 1 AS BIGINT) AS pos, round(sum(qs[CAST(i AS INT)]), 2) AS s, count(*) AS n FROM ord, range(1, 33) r(i) WHERE len(qs) >= i GROUP BY i""",
    "r_quantiles" ->
      Seq(0.01, 0.25, 0.5, 0.75, 0.99).map(p =>
        s"SELECT CAST($p AS DOUBLE) AS prob, quantile_disc(l_extendedprice, $p) AS value FROM lineitem")
        .mkString(" UNION ALL "),
    "r_quantiles_grp" ->
      Seq(0.25, 0.5, 0.75).map(p =>
        s"SELECT l_returnflag AS g, CAST($p AS DOUBLE) AS prob, quantile_disc(l_extendedprice, $p) AS value FROM lineitem GROUP BY 1")
        .mkString(" UNION ALL "),
    // MAD replay: quantile_disc twice (the pinned exactQuantiles
    // convention), deviations as raw IEEE doubles — med/mad are actual
    // data(-derived) elements, identical bit patterns in both engines
    // winsorize replay: the same quantile_disc bounds, the same clip,
    // floor(w*100) per row before the BIGINT sum (order-independent)
    "r_winsor" ->
      """WITH v AS (SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem WHERE l_extendedprice IS NOT NULL), b AS (SELECT g, quantile_disc(v, 0.10) AS lo, quantile_disc(v, 0.90) AS hi FROM v GROUP BY g), j AS (SELECT v.g, v.v, b.lo, b.hi, least(greatest(v.v, b.lo), b.hi) AS w FROM v JOIN b USING (g)) SELECT g AS l_returnflag, count(*) AS n, count(*) FILTER (WHERE v < lo) AS n_clip_lo, count(*) FILTER (WHERE v > hi) AS n_clip_hi, min(lo) AS lo, min(hi) AS hi, CAST(sum(CAST(floor(w * 100) AS BIGINT)) AS BIGINT) AS wsum_centi FROM j GROUP BY g""",
    "r_mad" ->
      """WITH v AS (SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem WHERE l_extendedprice IS NOT NULL), med AS (SELECT g, quantile_disc(v, 0.5) AS med FROM v GROUP BY g), dev AS (SELECT v.g, med, abs(v - med) AS dev FROM v JOIN med USING (g)), mad AS (SELECT g, quantile_disc(dev, 0.5) AS mad FROM dev GROUP BY g) SELECT dev.g AS l_returnflag, count(*) AS n, min(dev.med) AS med, min(mad.mad) AS mad, count(*) FILTER (WHERE dev * 1 > mad.mad * 3) AS n_outliers FROM dev JOIN mad USING (g) GROUP BY dev.g""")
}
