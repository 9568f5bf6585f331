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

  /** Exact global row ordinal in `orderCol` order — the reference's
    * `divisions` made explicit (known divisions let it resolve `a[5]` /
    * `a[10:2000]` to a partition + local index, `core.py:1347-1489`).
    * Spark has no ordered-partition metadata, so the ordinal is computed
    * with the same two-level prefix scan as
    * [[graft.text.packSequences]] (count 1 per row): bucket-local window
    * in parallel, one tiny per-bucket offset pass — never a corpus-wide
    * single-task Window. Adds `outCol` (0-based). Requires distinct
    * NUMERIC `orderCol` values (the scan buckets by value range; ties
    * would make the ordinal order-dependent). */
  /** Exact 1-based GLOBAL rank by an arbitrary (key, id) sort — the
    * generalization of [[withRowIndex]] to non-integral keys: range-
    * partition by (key, id), rank locally per partition, add bounded
    * per-partition offsets (one count row per partition; the only
    * unpartitioned window runs over that bounded frame). No corpus-wide
    * single-task sort; the rank is partitioning-independent — partition
    * boundaries only move where offsets split, never any row's rank.
    * `idCol` must be distinct (the tiebreak that makes the order total).
    * Returns (idCol, k, outCol). */
  def globalRankBy(df: DataFrame, key: org.apache.spark.sql.Column,
      idCol: String, outCol: String = "rn"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // localCheckpoint freezes the sampled range bounds: withLrn and offs
    // join on pid, which is only consistent when both branches read the
    // SAME physical partitioning — without the materialization that
    // rests on ReuseExchange (AQE replanning / pruning divergence could
    // re-sample bounds per branch and misalign every offset). The
    // checkpointed frame is the minimal (id, k) pair — the bytes the
    // range exchange already writes — so this is one shuffle-equivalent
    // local write, not a second corpus pass.
    val tagged = df.select(col(idCol).as("id"), key.as("k"))
      .repartitionByRange(col("k"), col("id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val withLrn = tagged.withColumn("lrn",
      row_number().over(Window.partitionBy("pid").orderBy("k", "id")))
    val offs = withLrn.groupBy(col("pid")).agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(
        Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("pid"), col("off"))
    withLrn.join(broadcast(offs), "pid")
      .select(col("id").as(idCol), col("k"),
        (col("off") + col("lrn")).as(outCol))
  }

  def withRowIndex(df: DataFrame, orderCol: String,
      outCol: String = "row_idx"): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // the scan casts the key to long internally — a fractional type would
    // truncate and the join back on the original values would silently
    // DROP rows, so only integral keys are accepted
    val dt = df.schema(orderCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"withRowIndex: orderCol must be an integral type, got $dt")
    require(!df.columns.contains(outCol),
      s"withRowIndex: input already has a column named '$outCol'")
    // reserved internal name for the count column: withColumn("one", ...)
    // would OVERWRITE an orderCol literally named "one" (constant keys ->
    // tied prefix sums -> wrong ordinals + row multiplication on the join)
    require(orderCol != "__graft_one",
      "withRowIndex: orderCol '__graft_one' is reserved")
    val ids = df.select(org.apache.spark.sql.functions.col(orderCol))
      .withColumn("__graft_one", org.apache.spark.sql.functions.lit(1L))
    val idx = graft.text.packSequences(ids, orderCol, "__graft_one", Long.MaxValue)
      .select(org.apache.spark.sql.functions.col(orderCol),
        org.apache.spark.sql.functions.col("start_tok").as(outCol))
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
