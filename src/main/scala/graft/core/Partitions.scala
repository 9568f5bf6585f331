package graft.core

import org.apache.spark.sql.{Column, DataFrame}

/** Partition-level operators (SURVEY §2.2; reference `core.py:979-1290`).
  *
  * The reference exposes partitions as an indexable axis
  * (`a.partitions[i]`, `repartition(...)`) because dask graphs make the
  * chunking explicit. Spark hides partitioning behind the planner, so most
  * of the family is native (`repartition`/`coalesce`/`repartitionByRange`);
  * the only genuinely missing piece is selecting partitions by index,
  * which maps to a mapPartitionsWithIndex filter — a zero-shuffle,
  * zero-copy pass that drops whole tasks (Spark still schedules the
  * skipped partitions as no-op tasks; at 100 TB prefer re-listing the
  * source files when the partitioning comes straight from a file scan).
  */
object Partitions {

  /** `a.partitions[from until]` (reference `core.py:1233-1290`): keep only
    * partitions with index in [from, until). */
  def partitionsSlice(df: DataFrame, from: Int, until: Int): DataFrame = {
    val rdd = df.rdd.mapPartitionsWithIndex { (i, it) =>
      if (i >= from && i < until) it else Iterator.empty
    }
    df.sparkSession.createDataFrame(rdd, df.schema)
  }

  /** `a.partitions[i]` (reference `core.py:1233-1260`). */
  def partition(df: DataFrame, i: Int): DataFrame =
    partitionsSlice(df, i, i + 1)

  /** `repartition(npartitions=)` — grow via full shuffle, shrink via
    * coalesce (no shuffle), the same split/merge asymmetry the reference
    * builds as slice-and-concat layers (`lib/structure.py:1346-1439`). */
  def repartitionN(df: DataFrame, n: Int): DataFrame =
    if (n >= df.rdd.getNumPartitions) df.repartition(n) else df.coalesce(n)

  /** `repartition(divisions=)` analog: range-partition on an ordering
    * column — Spark samples range bounds instead of taking explicit
    * divisions, the scale-correct equivalent. */
  def repartitionByDivisions(df: DataFrame, n: Int, key: Column): DataFrame =
    df.repartitionByRange(n, key)

  /** `repartition(divisions=)` with EXACT row-offset boundaries — the
    * reference's divisions semantics reproduced bit-for-bit
    * (`core.py:979-1066`: divisions are cumulative row offsets; partition
    * `i` holds global ordinals `[divisions(i), divisions(i+1))` in order).
    * `divisions` must start at 0 and be strictly increasing; the last
    * division is open-ended (rows at or past it land in the final
    * partition), so a caller can pass `Long.MaxValue` as the tail instead
    * of pre-counting the corpus the way dask's metadata does.
    *
    * Scale shape: the ordinal comes from the parallel two-level prefix
    * scan ([[withRowIndex]] — no corpus-wide single-task window), then ONE
    * shuffle places each row by a binary search over the (tiny, driver-
    * held) division array, with rows sorted by ordinal inside each target
    * partition (`repartitionAndSortWithinPartitions`). This is the rare
    * case where physical partition placement IS the semantics, so the
    * explicit `Partitioner` drops below the DataFrame API deliberately. */
  def repartitionDivisions(df: DataFrame, orderCol: String,
      divisions: Seq[Long]): DataFrame = {
    require(divisions.length >= 2,
      "repartitionDivisions: need at least 2 divisions (1 partition)")
    require(divisions.head == 0L, "repartitionDivisions: divisions must start at 0")
    require(divisions.sliding(2).forall(p => p(0) < p(1)),
      "repartitionDivisions: divisions must be strictly increasing")
    require(!df.columns.contains("__ri"),
      "repartitionDivisions: input already has a column named '__ri' (reserved)")
    val nParts = divisions.length - 1
    val bounds = divisions.toArray
    val indexed = withRowIndex(df, orderCol, "__ri")
    val schema = indexed.schema
    val riPos = schema.fieldIndex("__ri")
    val keyed = indexed.rdd.map { row =>
      val ri = row.getLong(riPos)
      // greatest i with bounds(i) <= ri, clamped into the final partition
      var lo = 0; var hi = nParts - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (bounds(mid) <= ri) lo = mid else hi = mid - 1
      }
      ((lo, ri), row)
    }
    val partitioner = new org.apache.spark.Partitioner {
      def numPartitions: Int = nParts
      def getPartition(key: Any): Int = key.asInstanceOf[(Int, Long)]._1
    }
    implicit val ord: Ordering[(Int, Long)] = Ordering.Tuple2[Int, Long]
    val placed = keyed.repartitionAndSortWithinPartitions(partitioner).values
    df.sparkSession.createDataFrame(placed, schema).drop("__ri")
  }

  /** Inclusive running sums in a total order, computed without a
    * single-task window: the one two-level prefix scan behind the
    * reference's cumulative divisions (`core.py:979-1066`,
    * `core.py:1347-1489`) and every exact cumulative report. For each
    * column `c` in `sums` it adds `cum_c`, the sum of `c` over the rows
    * at or before this one in `order` within its `groups`, and `tot_c`,
    * the group total. Nulls are skipped as a window sum skips them
    * (`cum_c` is null while every value so far is null), and a null
    * group key is a group like any other. Ties in `order` get
    * `row_number` semantics: make the order total when the sums must
    * not depend on how ties fall.
    *
    * Scale shape: range-partition on `groups ++ order`, sum locally per
    * (partition, group) with a ROWS frame, and add offsets taken from
    * the per-(partition, group) totals. That frame has at most one row
    * per partition and group, so the windows that are not partitioned by
    * the range partition run over a bounded frame. A hot group spans
    * range partitions, and no sum depends on where the boundaries fall.
    *
    * Two choices carry the correctness and the speed:
    *  - the range-tagged frame is pinned (`localCheckpoint`) before the
    *    local sums and the offsets both read it. The offsets join back on
    *    the partition id, which lines up only when both branches read the
    *    SAME physical partitioning. Without the pin that rests on
    *    ReuseExchange, and column pruning or AQE re-planning can give the
    *    branches independently sampled bounds. The pin writes the bytes
    *    the range exchange already wrote: one local copy, not a second
    *    corpus pass;
    *  - the range exchange takes the explicit `numShufflePartitions`
    *    count. A bare `repartitionByRange` lets AQE coalesce by output
    *    bytes, which serializes a narrow frame and everything downstream
    *    of the pin (measured at sf0.1: `r_mad` ran 3-wide, and the
    *    configured width cut the stage wall clock ~4x).
    *
    * Returns `df`'s columns plus `cum_c` and `tot_c` for each `c`. */
  def runningSums(df: DataFrame, order: Seq[Column], sums: Seq[String],
      groups: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val pid = "__pid"
    val added = sums.flatMap(c => Seq(s"cum_$c", s"tot_$c"))
    require(sums.nonEmpty, "runningSums: no column to sum")
    require(!(pid +: added).exists(df.columns.contains),
      s"runningSums: input already has one of $pid, ${added.mkString(", ")}")
    val keys = pid +: groups
    val tagged = df.repartitionByRange(
        df.sparkSession.sessionState.conf.numShufflePartitions,
        groups.map(col) ++ order: _*)
      .withColumn(pid, spark_partition_id())
      .localCheckpoint()
    val local = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val loc = tagged.select(col("*") +:
      sums.map(c => sum(col(c)).over(local).as(s"__loc_$c")): _*)
    // the prefix and the total share one spec: they plan as one Window
    val byPid = Window.partitionBy(groups.map(col): _*).orderBy(pid)
    val before = byPid.rowsBetween(Window.unboundedPreceding, -1)
    val all = byPid.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val parts = sums.map(c => sum(col(c)).as(s"__n_$c"))
    val offs = tagged.groupBy(keys.map(col): _*).agg(parts.head, parts.tail: _*)
      .select(keys.map(k => col(k).as(s"__o$k")) ++ sums.flatMap(c => Seq(
        sum(col(s"__n_$c")).over(before).as(s"__off_$c"),
        sum(col(s"__n_$c")).over(all).as(s"tot_$c"))): _*)
    // null-safe on the groups, so a null group keeps its rows
    val on = groups.foldLeft(col(pid) === col(s"__o$pid"))(
      (c, g) => c && (col(g) <=> col(s"__o$g")))
    val joined =
      if (groups.isEmpty) loc.join(broadcast(offs), on) else loc.join(offs, on)
    joined.select(df.columns.map(col) ++ sums.flatMap { c =>
      val (off, l) = (col(s"__off_$c"), col(s"__loc_$c"))
      Seq(coalesce(off + l, off, l).as(s"cum_$c"), col(s"tot_$c"))
    }: _*)
  }

  /** Exact 1-based GLOBAL rank by an arbitrary (key, id) sort: the running
    * count of [[runningSums]] in (key, id) order, so no corpus-wide
    * single-task sort, and the rank does not depend on the input's
    * partitioning. `idCol` must be distinct (the tiebreak that makes the
    * order total). Returns (idCol, k, outCol). */
  def globalRankBy(df: DataFrame, key: Column, idCol: String,
      outCol: String = "rn"): DataFrame = {
    import org.apache.spark.sql.functions._
    runningSums(df.select(col(idCol).as("id"), key.as("k"), lit(1L).as("n")),
        Seq(col("k"), col("id")), Seq("n"))
      .select(col("id").as(idCol), col("k"), col("cum_n").as(outCol))
  }

  /** Exact global row ordinal in `orderCol` order: the reference's
    * `divisions` made explicit (known divisions let it resolve `a[5]` /
    * `a[10:2000]` to a partition + local index, `core.py:1347-1489`).
    * Spark has no ordered-partition metadata, so the ordinal is
    * [[globalRankBy]] over `orderCol` minus 1, joined back: the parallel
    * two-level scan of [[runningSums]], never a corpus-wide single-task
    * Window. Adds `outCol` (0-based). Requires distinct integral
    * `orderCol` values (tied keys would multiply rows on the join back). */
  def withRowIndex(df: DataFrame, orderCol: String,
      outCol: String = "row_idx"): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // the ordinal joins back on the key, which must match exactly: a
    // fractional key's equalities (0.0 = -0.0, NaN = NaN) would tie
    // distinct values and multiply rows, so only integral keys are accepted
    val dt = df.schema(orderCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"withRowIndex: orderCol must be an integral type, got $dt")
    require(!df.columns.contains(outCol),
      s"withRowIndex: input already has a column named '$outCol'")
    // reserved internal name for the key inside the rank call, so an
    // orderCol named like one of globalRankBy's output columns cannot
    // collide with them
    require(orderCol != "__graft_one",
      "withRowIndex: orderCol '__graft_one' is reserved")
    val key = col("__graft_one")
    val idx = globalRankBy(df.select(col(orderCol).as("__graft_one")), key, "__graft_one")
      .select(key.as(orderCol), (col("rn") - 1).as(outCol))
    df.join(idx, orderCol)
  }

  /** `a[start:stop]` with exact global semantics (reference
    * `core.py:1419-1489`): rows whose [[withRowIndex]] ordinal falls in
    * [start, stop). A filter on the indexed frame — fully parallel,
    * unlike `limit`/`offset` which funnel through one task. */
  def sliceRows(df: DataFrame, orderCol: String, start: Long, stop: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(!df.columns.contains("__ri"),
      "sliceRows: input already has a column named '__ri' (reserved)")
    withRowIndex(df, orderCol, "__ri").filter(
      col("__ri") >= start && col("__ri") < stop).drop("__ri")
  }

  /** `a[i]` — exact global positional lookup (reference core.py:1347-1417). */
  def atRow(df: DataFrame, orderCol: String, i: Long): DataFrame =
    sliceRows(df, orderCol, i, i + 1)

  /** Hash-repartition on `key` only when the plan's current parallelism is
    * below the session's shuffle-partition target. The dedup/text
    * pipelines explode a per-doc frame by 10-1000x right after this call;
    * a small input (few parquet splits) would otherwise run the whole
    * explode -> join-probe -> partial-agg pipeline in 1-2 tasks. But when
    * the scan already yields >= parts splits — any realistic corpus, and
    * exactly the 100 TB case — the extra full shuffle is pure waste
    * (measured 2.5x on d_ngram at sf0.1). Reading getNumPartitions costs
    * one physical planning pass, no job. */
  def ensureMinParallelism(df: DataFrame, key: Column): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= parts) df else df.repartition(parts, key)
  }
}
