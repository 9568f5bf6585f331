package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.functions.StructureExprs

/** Structure operators over nested (ragged) columns — the §2.4 core of the
  * reference's surface (`src/dask_awkward/lib/structure.py`).
  *
  * Design stance (SURVEY §7): every operator is a pure, row-local
  * `Column -> Column` function with zero shuffles — the Spark-native
  * analogue of the reference's partitionwise `map_partitions` wrappers
  * (reference `lib/core.py:2072-2204`). Most are compositions of Spark's
  * built-in array functions and higher-order functions. The HOFs
  * (`transform`, `filter`, `zip_with`, `aggregate`) are `CodegenFallback`:
  * they interpret their lambda per element and keep the projection out of
  * whole-stage codegen. The hot ones — local index, argsort, pad/fill,
  * cartesian, unflatten — are compiled kernels instead
  * ([[graft.functions.StructureExprs]]). Axis conventions follow the
  * reference: axis 0 is the row axis (a DataFrame op in Spark), axis 1 is the
  * outermost array level of a column, axis 2 the next, etc.
  */
package object structure {

  /** `ak.flatten(axis=1)` for a list-of-list column: merge one nesting level
    * (reference `lib/structure.py:436-450`). For flattening axis 1 *into
    * rows* use `explode(col)` at the DataFrame level. */
  def flattenInner(c: Column): Column = flatten(c)

  /** `ak.num(axis=1)` — list lengths (reference `lib/structure.py:627-666`).
    * axis=0 (total row count) is `df.count()` in Spark. */
  def num(c: Column): Column = size(c)

  /** `ak.num(axis=2)` — lengths of the inner lists of a list-of-list. */
  def numAxis2(c: Column): Column = transform(c, x => size(x))

  /** `ak.zip({...})` — build a record (struct) from parallel columns
    * (reference `lib/structure.py:1252-1343`). For ragged-parallel *arrays*
    * use [[zipLists]]. */
  def zipRecord(fields: (String, Column)*): Column =
    struct(fields.map { case (n, c) => c.as(n) }: _*)

  /** `ak.zip` over two equal-length ragged arrays -> array of 2-field
    * structs. */
  def zipLists(a: Column, b: Column, an: String = "a", bn: String = "b"): Column =
    zip_with(a, b, (x, y) => struct(x.as(an), y.as(bn)))

  /** `ak.unzip` — record array to its field arrays
    * (reference `lib/structure.py:938-953`). */
  def unzipField(c: Column, field: String): Column =
    transform(c, x => x.getField(field))

  /** `ak.firsts(axis=1)` — first element of each list, null when empty
    * (reference `lib/structure.py:399-424`). 0-based `element_at` sibling
    * `try_element_at` is Spark 3.5+; `get` is null-safe on OOB. */
  def firsts(c: Column): Column = get(c, lit(0))

  /** `ak.singletons` — option value -> length-0/1 list
    * (reference `lib/structure.py:798-822`). `filter` keeps the element type
    * without a when-branch type-coercion headache. */
  def singletons(c: Column): Column = filter(array(c), x => x.isNotNull)

  /** `ak.pad_none(target, clip=True)` — pad/truncate to exactly `target`
    * elements, nulls past the end (reference `lib/structure.py:712-747`).
    * A missing list stays missing. */
  def padNoneClip(c: Column, target: Int): Column =
    StructureExprs.padNone(c, target, clip = true)

  /** `ak.pad_none(target, clip=False)` — pad to at least `target`. */
  def padNone(c: Column, target: Int): Column =
    StructureExprs.padNone(c, target, clip = false)

  /** `ak.fill_none(value, axis=1)` (reference `lib/structure.py:349-373`):
    * the list and `v` widen to one type as `coalesce` widens them. */
  def fillNone(c: Column, v: Column): Column = StructureExprs.fillNone(c, v)

  /** `ak.drop_none(axis=1)` (reference `lib/structure.py:376-396`). */
  def dropNone(c: Column): Column = filter(c, x => x.isNotNull)

  /** `ak.is_none(axis=1)` (reference `lib/structure.py:541-558`). */
  def isNone(c: Column): Column = transform(c, x => x.isNull)

  /** `ak.mask(valid_when=true)` — keep shape, null-out failing elements
    * (reference `lib/core.py:1788-1795`, `lib/structure.py:584`). */
  def maskList(c: Column, pred: Column => Column, validWhen: Boolean = true): Column =
    transform(c, x => when(if (validWhen) pred(x) else !pred(x), x))

  /** `ak.where(cond, x, y)` element-wise over two ragged arrays
    * (reference `lib/structure.py:1002-1031`). */
  def whereList(cond: Column, x: Column, y: Column): Column =
    zip_with(cond, zipLists(x, y), (c, xy) =>
      when(c, xy.getField("a")).otherwise(xy.getField("b")))

  /** `ak.local_index(axis=1)` (reference `lib/structure.py:561-580`). */
  def localIndex(c: Column): Column = StructureExprs.localIndex(c)

  /** `ak.sort(axis=-1, ascending)` — intra-row sort
    * (reference `lib/structure.py:825-854`). Global (axis=0) sort is
    * unimplemented in the reference; in Spark it is native `df.orderBy`. */
  def sortList(c: Column, ascending: Boolean = true): Column =
    sort_array(c, asc = ascending)

  /** `ak.argsort(axis=-1)` — stable argsort (reference
    * `lib/structure.py:178-203`) in `sort_array`'s order of (value, index)
    * pairs: nulls first, NaN last, equal values by index. */
  def argsortList(c: Column): Column = StructureExprs.argsort(c)

  /** `ak.cartesian([a, b], axis=1)` — per-row cross product of two inner
    * lists (reference `lib/structure.py:244-281`). Row-local: no shuffle,
    * unlike a relational join. */
  def cartesianLists(a: Column, b: Column, an: String = "a", bn: String = "b"): Column =
    StructureExprs.cartesian(a, b, an, bn)

  /** `ak.cartesian(nested=True)` (reference `lib/structure.py:244-281`):
    * keep the per-left-element grouping — list of lists of pairs instead
    * of the flattened pair list. */
  def cartesianNested(a: Column, b: Column,
      an: String = "a", bn: String = "b"): Column =
    transform(a, x => transform(b, y => struct(x.as(an), y.as(bn))))

  /** `ak.argcartesian` (reference `lib/structure.py:82-121`): index pairs
    * instead of value pairs. */
  def argcartesianLists(a: Column, b: Column): Column =
    cartesianLists(localIndex(a), localIndex(b), "i", "j")

  /** `ak.combinations(n=2)` — per-row unique pairs (i < j) of an inner list
    * (reference `lib/structure.py:284-331`). Each element is paired with the
    * tail slice after it; `slice` past the end yields an empty list, so no
    * length guard is needed and the element type is preserved. */
  def combinations2(c: Column, an: String = "a", bn: String = "b"): Column =
    flatten(transform(c, (x, i) =>
      transform(slice(c, i + 2, size(c)), y => struct(x.as(an), y.as(bn)))))

  /** `ak.argcombinations(n=2)` — index pairs instead of value pairs
    * (reference `lib/structure.py:124-175`). */
  def argcombinations2(c: Column): Column =
    combinations2(localIndex(c), "i", "j")

  /** `ak.combinations(n)` for general n (reference
    * `lib/structure.py:284-331`): per-row n-tuples (strictly increasing
    * indices, or non-decreasing with `replacement`) of an inner list, in
    * awkward's index-lexicographic order, as array<array<T>>. Custom
    * Expression — see graft.functions.CombinatoricsExprs. */
  def combinationsN(c: Column, n: Int, replacement: Boolean = false): Column =
    graft.functions.CombinatoricsExprs.combinationsN(c, n, replacement)

  /** `ak.argcombinations(n)` — index n-tuples (reference
    * `lib/structure.py:124-175`): combinations over the local indices. */
  def argcombinationsN(c: Column, n: Int): Column =
    combinationsN(localIndex(c), n)

  /** `ak.run_lengths` — lengths of runs of equal adjacent values
    * (reference `lib/structure.py:772-795`). Single `aggregate` HOF pass
    * with a (runs, prev, count) struct accumulator.
    *
    * SCALE WARNING: the accumulator appends to an array, and Catalyst
    * copies it per element — O(len²) per row. Fine on the short ragged
    * lists this mirrors from the reference; on corpus-length arrays
    * (hundreds+ of elements) use the O(len) run-BOUNDARY spelling
    * instead (`filter(sequence(...))` change positions + `zip_with`
    * shifted subtraction — see [[graft.text.charEntropy]], where the
    * fold version measured as a stuck 25-minute task at 50k×500-char
    * docs and the boundary version runs in seconds). */
  def runLengths(c: Column): Column = {
    val zero = struct(
      array().cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType)).as("runs"),
      lit(0).as("cur"))
    // runs holds finished run lengths; cur the open run's length. An element
    // equal to its predecessor extends cur, otherwise cur is flushed.
    aggregate(
      zip_with(c, lagList(c), (x, p) => x <=> p),
      zero,
      (acc, same) => struct(
        when(same, acc.getField("runs"))
          .otherwise(when(acc.getField("cur") > 0,
            concat(acc.getField("runs"), array(acc.getField("cur"))))
            .otherwise(acc.getField("runs"))).as("runs"),
        when(same, acc.getField("cur") + 1).otherwise(lit(1)).as("cur")),
      acc => when(acc.getField("cur") > 0,
        concat(acc.getField("runs"), array(acc.getField("cur"))))
        .otherwise(acc.getField("runs")))
  }

  /** Helper: the list shifted right by one (element i-1 at position i, null
    * at position 0) — an intra-row `lag`. */
  def lagList(c: Column): Column = transform(c, (_, i) => get(c, i - 1))

  /** `a[:, start:stop]` inner-axis slice (reference `lib/core.py:1503-1504`).
    * 0-based start, exclusive stop, like the reference. */
  def sliceList(c: Column, start: Int, stop: Int): Column =
    slice(c, start + 1, math.max(0, stop - start))

  /** `a[int_array]` per-row gather: pick elements of `c` at (0-based)
    * positions `idxs` (reference `lib/core.py:1509-1515`). */
  def gather(c: Column, idxs: Column): Column = transform(idxs, i => get(c, i))

  /** `ak.concatenate(axis=1)` — per-row list append
    * (reference `lib/operations.py:50-139`, axis>0 branch). */
  def concatLists(a: Column, b: Column): Column = concat(a, b)

  /** `ak.concatenate(axis=0)` across frames with DIFFERING forms
    * (reference `lib/operations.py:50-139` `enforce_concatenated_form`):
    * missing columns null-fill, Catalyst widens common numeric types —
    * the unified-form coercion the reference hand-builds. */
  def concatFrames(frames: org.apache.spark.sql.DataFrame*): org.apache.spark.sql.DataFrame =
    frames.reduce(_.unionByName(_, allowMissingColumns = true))

  /** `ak.enforce_type` / `enforce_concatenated_form` for one frame
    * (reference `lib/structure.py:1442-1461`): coerce to an explicit
    * schema — Spark 3.4+ `df.to` does the cast/reorder/null-fill. */
  def enforceType(df: org.apache.spark.sql.DataFrame,
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    df.to(schema)

  /** `ak.unflatten(counts, axis=0 within a row)` — regroup a flat inner list
    * into sublists of the given sizes (reference `lib/structure.py:895-921`).
    * Offsets are the running sum of counts; each output sublist is a slice,
    * and a negative count raises `slice`'s error. */
  def unflattenList(c: Column, counts: Column): Column =
    StructureExprs.unflatten(c, counts)

  /** `ak.ravel` — flatten all list levels of a list-of-list column
    * (reference `lib/structure.py:750-769`). */
  def ravel2(c: Column): Column = flatten(c)

  /** `ak.values_astype` — cast leaves of a ragged column
    * (reference `lib/structure.py:956-973`). */
  def valuesAstype(c: Column, dt: DataType): Column = transform(c, _.cast(dt))

  /** `ak.full_like` / `ones_like` / `zeros_like`
    * (reference `lib/structure.py:478-506,669-687,1231-1249`). */
  def fullLike(c: Column, v: Column): Column = transform(c, _ => v)

  /** `ak.ones_like` / `ak.zeros_like` (reference `lib/structure.py:669-687,
    * 1231-1249`). */
  def onesLike(c: Column): Column = fullLike(c, lit(1.0))
  def zerosLike(c: Column): Column = fullLike(c, lit(0.0))

  /** `ak.to_packed` (reference `lib/structure.py:699-709`): physical
    * repacking is meaningless under Tungsten rows — identity. */
  def toPacked(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = df

  /** `ak.copy` (reference `lib/structure.py:334-346`): plans are immutable
    * values — identity. */
  def copyFrame(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = df

  /** `ak.to_list` (reference `lib/structure.py:690-696`): concretize to the
    * driver — the one deliberately non-distributed op. */
  def toList(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
    df.collect().toSeq

  /** `ak.broadcast_arrays(list, scalar)` — broadcast a scalar against a
    * ragged array (reference `lib/structure.py:206-241`). */
  def broadcastWith(c: Column, scalar: Column)(op: (Column, Column) => Column): Column =
    transform(c, x => op(x, scalar))

  /** `ak.isclose` (reference `lib/structure.py:509-538`). */
  def isclose(a: Column, b: Column, rtol: Double = 1e-5, atol: Double = 1e-8): Column =
    abs(a - b) <= lit(atol) + lit(rtol) * abs(b)

  /** `ak.nan_to_num` (reference `lib/structure.py:601-617`). */
  def nanToNum(c: Column, nan: Double = 0.0): Column =
    when(isnan(c), lit(nan)).otherwise(c)
}
