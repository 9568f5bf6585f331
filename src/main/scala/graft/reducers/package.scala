package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.ReducerExprs

/** Reducers (reference `src/dask_awkward/lib/reducers.py`), both regimes:
  *
  *  - **axis >= 1 (intra-row)**: per-list reductions as compiled Catalyst
  *    expressions over array columns ([[graft.functions.ReducerExprs]]),
  *    one loop per list, as the reference dispatches these to awkward's
  *    compiled kernels through partitionwise `map_partitions`
  *    (`reducers.py:58-68`). Spark's own higher-order functions would
  *    evaluate each element by interpreting a lambda (`CodegenFallback`)
  *    and hold the projection out of whole-stage codegen.
  *    `corr`/`covar`/`linearFit` still fold with `aggregate`.
  *  - **axis = 0 / None (cross-partition)**: use plain `df.agg(sum(...))` —
  *    Catalyst's partial+final aggregation IS the reference's tree reduction
  *    (`AwkwardTreeReductionLayer`, `layers/layers.py:372-644`), with
  *    map-side combine replacing the hand-built `split_every=8` fan-in.
  *    Nothing to implement: the reducers below that the reference left
  *    unimplemented at axis=0 (`mean`/`std`/`var`, `reducers.py:328-358`)
  *    are native Spark aggregates.
  *
  * Null semantics match `mask_identity=True`: empty lists reduce to null
  * (e.g. `array_min(array())` is null), the analogue of awkward's masked
  * identity (reference `reducers.py:40-44`). A null list reduces to null.
  */
package object reducers {

  private def dbl(c: Column): Column = c.cast(DoubleType)

  /** `ak.sum(axis=1)` (reference `reducers.py:517-548`). Null elements are
    * skipped, like awkward option handling. Empty list -> 0 (sum identity is
    * unmasked in awkward too). */
  def sumList(c: Column): Column = ReducerExprs.reduce(c, ReducerExprs.Sum)

  /** `ak.prod(axis=1)` (reference `reducers.py:418-449`). */
  def prodList(c: Column): Column = ReducerExprs.reduce(c, ReducerExprs.Prod)

  /** `ak.min/max(axis=1)` (reference `reducers.py:361-401,285-325`);
    * null on empty (mask_identity). */
  def minList(c: Column): Column = array_min(c)
  def maxList(c: Column): Column = array_max(c)

  /** `ak.count(axis=1)` (reference `reducers.py:187-219`): non-null count. */
  def countList(c: Column): Column = ReducerExprs.count(c, nonzero = false)

  /** `ak.count_nonzero(axis=1)` (reference `reducers.py:222-254`). */
  def countNonzeroList(c: Column): Column = ReducerExprs.count(c, nonzero = true)

  /** `ak.any/all(axis=1)` (reference `reducers.py:71-102,37-68`). Empty list:
    * any=false, all=true (boolean identities, matching numpy/awkward). A
    * null element without a deciding one makes the answer null, as in
    * SQL's `exists`/`forall`. */
  def anyList(c: Column): Column = ReducerExprs.truth(c, any = true)
  def allList(c: Column): Column = ReducerExprs.truth(c, any = false)

  /** `ak.argmin/argmax(axis=1)` — 0-based position of the first extremum
    * (reference `reducers.py:105-170`); null on empty list. A compiled
    * single-scan expression ([[graft.functions.ReducerExprs.ArgExtremum]]);
    * its HOF witness lives with the tests. */
  def argminList(c: Column): Column = ReducerExprs.argExtremum(c, smaller = true)
  def argmaxList(c: Column): Column = ReducerExprs.argExtremum(c, smaller = false)

  /** `ak.mean(axis=1)` — unimplemented at axis=0 in the reference
    * (`reducers.py:328-358`); native both ways in Spark. */
  def meanList(c: Column): Column = ReducerExprs.reduce(c, ReducerExprs.Mean)

  /** `ak.var(axis=1, ddof)` (reference `reducers.py:559-589`): two passes
    * over the list, the mean first; null unless count > ddof. */
  def varList(c: Column, ddof: Int = 0): Column =
    ReducerExprs.reduce(c, ReducerExprs.Var, ddof)

  /** `ak.std(axis=1, ddof)` (reference `reducers.py:484-514`). */
  def stdList(c: Column, ddof: Int = 0): Column = sqrt(varList(c, ddof))

  /** `ak.ptp(axis=1)` — max minus min (reference stub `reducers.py:452-461`). */
  def ptpList(c: Column): Column = array_max(c) - array_min(c)

  /** `ak.moment(n, axis=1)` — n-th raw moment (reference stub
    * `reducers.py:404-415`). */
  def momentList(c: Column, n: Int): Column =
    ReducerExprs.reduce(c, ReducerExprs.Moment, n)

  /** `ak.softmax(axis=1)` (reference stub `reducers.py:464-473`).
    * Max-subtracted for numerical stability at scale; a null element makes
    * every output element null. */
  def softmaxList(c: Column): Column = ReducerExprs.softmax(c)

  /** `ak.corr(x, y, axis=1)` — Pearson correlation of two parallel inner
    * lists (reference stub `reducers.py:173-184`). */
  def corrList(x: Column, y: Column): Column = {
    val n = size(x).cast(DoubleType)
    val sx = sumList(x); val sy = sumList(y)
    val sxx = aggregate(x, lit(0.0), (a, v) => a + dbl(v) * dbl(v))
    val syy = aggregate(y, lit(0.0), (a, v) => a + dbl(v) * dbl(v))
    val sxy = aggregate(zip_with(x, y, (a, b) => dbl(a) * dbl(b)),
      lit(0.0), (a, v) => a + v)
    val denom = sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)
    when(denom =!= 0, (n * sxy - sx * sy) / denom) // null on zero variance
  }

  /** `ak.covar(x, y, axis=1)` population covariance (reference stub
    * `reducers.py:257-268`). */
  def covarList(x: Column, y: Column): Column = {
    val n = size(x).cast(DoubleType)
    val sxy = aggregate(zip_with(x, y, (a, b) => dbl(a) * dbl(b)),
      lit(0.0), (a, v) => a + v)
    sxy / n - (sumList(x) / n) * (sumList(y) / n)
  }

  /** `ak.linear_fit(x, y, axis=1)` — least-squares slope+intercept
    * (reference stub `reducers.py:271-282`). Returns a struct. */
  def linearFitList(x: Column, y: Column): Column = {
    val n = size(x).cast(DoubleType)
    val sx = sumList(x); val sy = sumList(y)
    val sxx = aggregate(x, lit(0.0), (a, v) => a + dbl(v) * dbl(v))
    val sxy = aggregate(zip_with(x, y, (a, b) => dbl(a) * dbl(b)),
      lit(0.0), (a, v) => a + v)
    val denom = n * sxx - sx * sx
    val slope = when(denom =!= 0, (n * sxy - sx * sy) / denom) // null: zero x-variance
    struct(slope.as("slope"), ((sy - slope * sx) / n).as("intercept"))
  }
}
