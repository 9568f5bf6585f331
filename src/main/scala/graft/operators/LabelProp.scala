package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Broadcasts

/** Seed-clamped label propagation over a weighted directed edge list —
  * the weak-supervision primitive of corpus curation: spread a small set
  * of trusted labels (hand-audited quality tiers, known-domain tags,
  * license classes) across a similarity or co-occurrence graph so every
  * connected document inherits the majority judgment of its labeled
  * neighborhood. The reference has no graph operators
  * (`/root/reference/src/dask_awkward/__init__.py:1-108` is
  * array-structural); this is a Spark-native superset.
  *
  * Semantics (synchronized rounds, fully deterministic):
  *   - round 0: exactly the seed assignments; every other node unlabeled
  *   - each round, every NON-SEED node adopts the label with the largest
  *     incoming edge-weight sum from currently-labeled neighbors
  *     (src -> dst; a symmetric graph for undirected propagation, e.g.
  *     [[Graph.coOccurrence]]). Ties break to the SMALLEST
  *     label. A node whose labeled in-neighborhood is empty keeps its
  *     previous state (possibly unlabeled).
  *   - seeds are CLAMPED: a seed never changes, and dueling seeds
  *     simply partition the graph along weighted-majority frontiers.
  *
  * No floats anywhere — weight sums are int64 and the argmax is a
  * (sum DESC, label ASC) ordering — so the result is bit-identical
  * across partitionings and engines, and the whole run replays as
  * unrolled ANSI SQL rounds (the q_pagerank oracle convention).
  *
  * 100 TB posture: per round, ONE edge-sized shuffle (the contribution
  * join keyed on src) into a (dst, label)-keyed aggregate with map-side
  * partials, then a node-sized bounded-heap argmax
  * ([[graft.operators.GroupTopK]] shape via max_by ordering struct) —
  * no corpus-sized window, no driver action. The label frame is
  * localCheckpointed each round (the d_clusters flat-cost-per-round
  * discipline): the carry-forward coalesce references the previous
  * frame twice, which would otherwise double the lineage every round.
  */
object LabelProp {

  /** Propagate `seeds` (node, label) over `g` for `iterations`
    * synchronized rounds. Returns (node, label, is_seed) for every node
    * labeled after the final round; still-unlabeled nodes (unreachable
    * from any seed within `iterations` hops) are omitted.
    *
    * Every round is its own eager job (the per-round label checkpoint)
    * and reads the graph's pinned edge blocks, so no round re-runs the
    * edge build (for q_labelprop, the co-occurrence self-join +
    * aggregate) — ReuseExchange only shares within one job. */
  def propagate(g: Graph, seeds: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = g.edges
    val seed = seeds.select(col("node").cast("long").as("node"),
        col("label").cast("long").as("label"))
      .groupBy(col("node")).agg(min(col("label")).as("label"))
      .localCheckpoint()
    var labels = seed.select(col("node"), col("label"),
      lit(true).as("is_seed"))
    for (_ <- 1 to iterations) {
      // weighted-majority incoming label per node, ties to the smaller
      // label: one edge shuffle + (dst,label) partial agg + max_by over
      // an ordering struct (sum DESC via negation-free struct compare:
      // greatest (s, -label) == largest sum, then smallest label)
      val votes = e.join(labels.select(col("node").as("src"),
          col("label")), "src")
        .groupBy(col("dst"), col("label"))
        .agg(sum(col("w")).as("s"))
        .groupBy(col("dst"))
        .agg(max_by(col("label"),
          struct(col("s"), (-col("label")).as("nl"))).as("plabel"))
      // synchronized update: seeds clamp, non-seeds adopt the vote or
      // carry forward. The previous frame is referenced twice (vote
      // join + carry) — checkpoint keeps the plan flat per round.
      labels = labels.join(votes, labels("node") === votes("dst"), "full")
        .select(
          coalesce(col("node"), col("dst")).as("node"),
          when(coalesce(col("is_seed"), lit(false)), col("label"))
            .otherwise(coalesce(col("plabel"), col("label"))).as("label"),
          coalesce(col("is_seed"), lit(false)).as("is_seed"))
        .localCheckpoint()
    }
    labels.filter(col("label").isNotNull)
  }

  /** Newman modularity of a community assignment — the quality number
    * that tells you whether [[propagate]]'s communities are structure
    * or noise:  Q = Σ_c [ in_c/(2m) − (tot_c/(2m))² ]  (weighted,
    * Newman 2004). Restricted to the LABELED subgraph: edges with both
    * endpoints labeled; `g` is the directed-symmetric convention
    * ([[Graph.coOccurrence]] output), so Σw IS 2m and the
    * per-community directed sums are exactly the 2·in / tot terms.
    *
    * Determinism: in/tot/2m are exact int64 sums; each community's
    * contribution is ONE fixed double dag on those integers floored to
    * nano units (order-independent — the caller sums `contrib_nano`
    * for Q). The 2m scalar rides the plan as a 1-row broadcast cross
    * (the t_bm25 scalar-subquery shape). Everything after the two
    * edge-side aggregates is label-cardinality-sized.
    *
    * Returns one row per community:
    * (label, n_nodes, in_w, tot_w, contrib_nano). */
  def modularity(g: Graph, labels: DataFrame): DataFrame = {
    // the label frame is node-sized and consumed by BOTH endpoint
    // attaches: pin it once and gate the broadcast on its counted
    // byte-budget (the rank-family precedent) — above the gate the
    // label frame is the shuffled-hash build side, below it both
    // attaches are map-side and the edge frame is never shuffled here
    val (lab, attach) = Broadcasts.pinGated(
      labels.select(col("node"), col("label"))
        .filter(col("node").isNotNull && col("label").isNotNull))
    // ONE pass over the labeled edge set computes BOTH per-community
    // sums (in_w as a conditional sum inside the tot aggregate), and 2m
    // is the sum of tot_w over the label-sized aggregate — the old
    // spelling consumed e2 three times (m2, tot, inw), re-running the
    // two label joins per consumer (broadcast joins leave no exchange
    // for ReuseExchange to share). Same exact int64 sums, one
    // edge pass instead of three (guide §2.3/§2.4).
    val e2 = g.edges
      .join(attach(lab.select(col("node").as("src"), col("label").as("lsrc"))), "src")
      .join(attach(lab.select(col("node").as("dst"), col("label").as("ldst"))), "dst")
      .select(col("lsrc"), col("ldst"), col("w"))
    val sums = e2.groupBy(col("lsrc").as("label"))
      .agg(sum(col("w")).as("tot_w"),
        sum(when(col("lsrc") === col("ldst"), col("w")).otherwise(lit(0L)))
          .as("in_w"))
      .localCheckpoint() // label-sized; feeds m2 AND the report join
    val m2 = sums.agg(sum(col("tot_w")).cast("double").as("m2"))
    lab.groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
      .join(sums.select(col("label"), col("in_w")), Seq("label"), "left")
      .join(sums.select(col("label"), col("tot_w")), Seq("label"), "left")
      .crossJoin(broadcast(m2))
      .select(col("label"), col("n_nodes"),
        coalesce(col("in_w"), lit(0L)).as("in_w"),
        coalesce(col("tot_w"), lit(0L)).as("tot_w"),
        expr("CAST(floor((CAST(coalesce(in_w, 0) AS DOUBLE) / m2 - " +
          "(CAST(coalesce(tot_w, 0) AS DOUBLE) / m2) * " +
          "(CAST(coalesce(tot_w, 0) AS DOUBLE) / m2)) * 1000000000) AS BIGINT)")
          .as("contrib_nano"))
  }
}
