package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Broadcasts, Partitions}

/** An edge list as every graph operator reads it: `edges` is (src, dst,
  * w), all long, no null endpoint, pinned (localCheckpoint) once by the
  * constructor that built it. What is known about the list travels with
  * it, the way a collection carries its own meta and divisions, so no
  * operator re-normalizes, re-pins or asks the caller to restate it:
  *
  *  - `symmetric`: every edge's mirror is present, each (src, dst) pair
  *    occurs once, and there are no self-loops (the [[coOccurrence]]
  *    contract). Operators read it for their fast paths: every node is a
  *    src, so no node dangles ([[PageRank]]); the canonical undirected set
  *    is `src < dst` ([[Triangles]]); the peel needs no canonicalization
  *    ([[KCore]]).
  *  - `nEdges`: the row count of `edges`, observed on the pinning job
  *    (no job of its own). A [[filter]]ed graph counts on first read.
  */
final class Graph private (val edges: DataFrame, val symmetric: Boolean,
    counted: () => Long) {

  lazy val nEdges: Long = counted()

  /** The edges where `cond` holds: a narrow filter over the pinned
    * blocks, not pinned again. The result makes no symmetry claim. */
  def filter(cond: Column): Graph = {
    val kept = edges.filter(cond)
    new Graph(kept, symmetric = false, () => kept.count())
  }

  /** The same edges weighted by `w`, an expression over the edge columns:
    * a narrow projection over the pinned blocks, not pinned again. Every
    * edge and its mirror are kept, so `nEdges` and `symmetric` carry over. */
  def reweight(w: Column): Graph =
    new Graph(edges.select(col("src"), col("dst"), w.cast("long").as("w")),
      symmetric, () => nEdges)
}

object Graph {

  /** Any (src, dst[, w]) edge list: endpoints and weight cast to long,
    * w = 1 when the input has no `w` column, rows with a null endpoint
    * dropped. Makes no symmetry claim. */
  def apply(df: DataFrame): Graph = {
    val w = if (df.columns.contains("w")) col("w").cast("long") else lit(1L)
    pinned(df.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), w.as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull),
      symmetric = false)
  }

  /** Directed co-occurrence edges from a fact table: one edge (src, dst,
    * w) per ordered pair of distinct `itemCol` values sharing a
    * `groupCol` value, w = number of co-occurrences. Expressed as a
    * self-equi-join on the group key (co-partitioned single shuffle per
    * side; the pair blowup is bounded by the per-group item count, ~4-7
    * for TPC-H orders). Symmetric by construction: every pair is listed
    * in both orders, once each, never with itself.
    *
    * `groupCap` is the dfCap discipline for the quadratic pair blowup:
    * the per-group cost is n², fine at TPC-H's 4-7 items but fatal on a
    * power-law corpus (one 10^5-item session/basket/domain contributes
    * 10^10 pairs and lands in ONE task). With `groupCap > 0`, groups
    * holding more than `groupCap` item ROWS (multiplicity included — the
    * blowup is row-driven) are DROPPED before the self-join, bounding
    * every group's cost at groupCap². Dropped, not truncated: truncating
    * would bias edge weights toward arbitrary row order, while a hub
    * group so large it exceeds the cap carries near-zero signal per pair
    * anyway (the standard stop-shingle argument). The dropped-group
    * count is reported without an extra action by the plan-native
    * `observe` metric `"co_occurrence_cap"` (fields `dropped_groups`,
    * `kept_groups`) on the pinning job — read it with a
    * QueryExecutionListener, or check `q_skewreport`/`q_joincard`
    * beforehand to PRICE the cap: both run the same group-size aggregate
    * this guard plans. With the default `groupCap = 0` the plan is
    * byte-identical to the uncapped build.
    */
  def coOccurrence(df: DataFrame, groupCol: String, itemCol: String,
      groupCap: Int = 0): Graph = {
    // under-parallel input guard (the d_ngram discipline): a small scan
    // (3 parquet splits at sf0.1) would run the pair blowup + partial
    // agg 3-wide while 29 cores idle — measured 2.3 s -> 0.4 s for that
    // stage. A no-op whenever the scan already yields >= shuffle
    // partitions splits (any real corpus, and the 100 TB case).
    val in = Partitions.ensureMinParallelism(df, col(groupCol))
    val base = in.select(col(groupCol).as("g"), col(itemCol).cast("long").as("item"))
    val src =
      if (groupCap <= 0) base
      else {
        // group sizes shuffle the same key as the self-join (map-side
        // combined, one long per group), and the kept-keys frame joins
        // back co-partitioned — no new shuffle key enters the plan
        val kept = base.groupBy(col("g")).agg(count(lit(1)).as("n_items"))
          .observe("co_occurrence_cap",
            sum(when(col("n_items") > groupCap, 1L).otherwise(0L))
              .as("dropped_groups"),
            sum(when(col("n_items") <= groupCap, 1L).otherwise(0L))
              .as("kept_groups"))
          .filter(col("n_items") <= groupCap)
          .select(col("g"))
        base.join(kept, Seq("g"), "left_semi")
      }
    val a = src.select(col("g"), col("item").as("src"))
    val b = src.select(col("g"), col("item").as("dst"))
    // shuffled-hash, not sort-merge (guide §3.1): both sides are the
    // SAME g-keyed exchange (ReuseExchange serves b from a's shuffle
    // files), so the only thing sort-merge adds is two per-task sorts
    // of the full input — pure overhead for a pair-generation join.
    // The per-partition hash build is one partition of (g, item) rows,
    // the same bytes the SMJ buffer would hold for its largest group.
    pinned(a.join(b.hint("shuffle_hash"), "g")
      .filter(col("src") =!= col("dst"))
      // explicit exchange of the RAW pairs before the weight aggregate:
      // the (src, dst) key is near-unique (w ≈ 1 for most pairs), so the
      // default map-side partial aggregate builds an edge-sized hash map
      // per task for essentially zero byte reduction — measured at
      // sf0.1: 26.7 core-s in that stage (run ≫ cpu: task-memory
      // contention from 32 concurrent ~1.7M-entry maps), vs the same
      // bytes shuffled raw and aggregated once post-exchange (steady
      // 1.20 → 0.94 s for the bare build; tools/CoocAb). The aggregate
      // still runs ONCE per group after the exchange; output
      // partitioning (hash(src, dst)) is unchanged.
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("src"), col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w")),
      symmetric = true)
  }

  private def pinned(df: DataFrame, symmetric: Boolean): Graph = {
    val (edges, n) = Broadcasts.pinCounted(df)
    new Graph(edges, symmetric, () => n)
  }
}
