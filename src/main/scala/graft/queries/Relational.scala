package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Graph

/** Relational query wave: scans, filtered aggregation, joins (broadcast /
  * shuffle / semi / anti), window functions, rollup, distinct aggregation,
  * JSON extraction. These exceed reference parity (the reference has no
  * joins/group-by at all — SURVEY §2.6/§2.7) but are the Spark-native
  * backbone every other wave builds on, and the headline bench queries.
  *
  * Scale notes (100 TB design):
  *  - dimension tables (region/nation/supplier/customer/part) are broadcast
  *    explicitly — no shuffle of the fact table for those joins;
  *  - fact-fact joins (orders-lineitem) shuffle on the join key once; AQE
  *    handles skew at runtime;
  *  - every aggregate is a partial+final Catalyst aggregation (map-side
  *    combine), so the shuffle carries only group keys x partial states.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  /** Graded traversal depths, shared by each query and its oracle. Each
    * stays at most `Bfs.compactEvery`, so no graded traversal pays a
    * reached-set compaction (GraphSpec checks it). */
  private[graft] val bfsHops = 4
  private[graft] val harmonicHops = 3
  private[graft] val harmonicApproxHops = 3
  private[graft] val gradedHops = Seq(bfsHops, harmonicHops, harmonicApproxHops)

  private def ts(s: String) = lit(s).cast("timestamp")

  /** The part co-occurrence graph every graph query runs on: built and
    * pinned once per query. */
  private def partGraph(s: SparkSession, dir: String): Graph =
    Graph.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")

  val queries: Map[String, Q] = Map(
    "q1_agg" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= ts("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          Oracles.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          Oracles.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    "q6_filter" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= ts("1996-01-01") &&
          col("l_shipdate") < ts("1997-01-01") &&
          col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(Oracles.moneySum(col("l_extendedprice") * col("l_discount")).as("revenue"))
    },

    "q3_topk" -> { (s, dir) =>
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir).filter(col("o_orderdate") < ts("1998-03-15"))
      val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > ts("1998-03-15"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(Oracles.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },

    "q5_join" -> { (s, dir) =>
      val asia = broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA"))
      val n = broadcast(Tables.nation(s, dir))
      val sup = broadcast(Tables.supplier(s, dir))
      val cust = broadcast(Tables.customer(s, dir))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).filter(
          col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(asia, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(Oracles.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
    },

    "q4_semijoin" -> { (s, dir) =>
      val big = Tables.lineitem(s, dir).filter(col("l_quantity") >= 48)
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
    },

    "q_antijoin" -> { (s, dir) =>
      val recent = Tables.orders(s, dir).filter(col("o_orderdate") >= ts("2001-01-01"))
      Tables.customer(s, dir)
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
    },

    "q_window" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price"))
    },

    "q_rollup" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
    },

    // window-function breadth on one key-partitioned sort: lag/lead, rank,
    // a running-total frame, and ntile — all share a single exchange+sort
    // (ordering is unique per partition, so every function is deterministic)
    "q_window_frames" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir).select(
        col("o_custkey"), col("o_orderkey"),
        round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
        round(lead(col("o_totalprice"), 1).over(w), 2).as("next_price"),
        rank().over(w).as("rk"),
        round(sum(col("o_totalprice")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("run_total"),
        ntile(4).over(w).as("quartile"))
    },

    // unpivot/melt (wide -> long): three measure columns become (metric,
    // value) rows map-side (a Generate, no shuffle), then one aggregate —
    // Spark-native superset op (reference has no relational reshaping)
    "q_unpivot" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_quantity").cast("double").as("quantity"),
          col("l_extendedprice").cast("double").as("extendedprice"),
          col("l_discount").cast("double").as("discount"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("quantity"), col("extendedprice"), col("discount")),
          "metric", "value")
        .groupBy(col("l_returnflag"), col("metric"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    },

    "q_distinct" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supp"))
    },

    // CUBE: all 2^k grouping-set combinations in one pass (Catalyst
    // expands to a single Expand + aggregate — k shuffles avoided)
    "q_cube" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
    },

    // PIVOT: per-returnflag quantity totals fanned into one column per
    // linestatus value (explicit value list => no extra distinct pass)
    "q_pivot" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum(col("l_quantity")), 2))
        .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
    },

    // set intersection (§2.9): suppliers that ship both low- and high-
    // quantity lines. Dataset.intersect = Catalyst LeftSemi over distinct
    // inputs — one shuffle per side on the full row as key, partial
    // distinct map-side; no row explosion at scale.
    "q_intersect" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      li.filter(col("l_quantity") <= 5).select(col("l_suppkey"))
        .intersect(li.filter(col("l_quantity") >= 45).select(col("l_suppkey")))
        .agg(count(lit(1)).as("n_supp"), sum(col("l_suppkey")).as("sum_supp"))
    },

    // set difference (§2.9): suppliers with low-quantity lines but no
    // high-quantity ones. Dataset.except = LeftAnti over distinct inputs.
    "q_except" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      li.filter(col("l_quantity") <= 5).select(col("l_suppkey"))
        .except(li.filter(col("l_quantity") >= 45).select(col("l_suppkey")))
        .agg(count(lit(1)).as("n_supp"), sum(col("l_suppkey")).as("sum_supp"))
    },

    // salted ragged build under extreme key skew (graft.core.Skew): 3
    // returnflag keys over the whole table would each funnel ~N/3 shuffle
    // records into one reducer; the two-phase salted build spreads phase 1
    // over 32 cells per key and merges pre-packed arrays. The position-
    // weighted checksum is order-sensitive, so it verifies the merged
    // array is bit-identical to the unsalted sort order.
    "q_skew_build" -> { (s, dir) =>
      val built = graft.core.Skew.saltedCollectSortedList(
        Tables.lineitem(s, dir), "l_returnflag",
        struct(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("qty")),
        "items", 32, Seq(col("l_orderkey"), col("l_linenumber")))
      built.select(col("l_returnflag"),
          posexplode(col("items")).as(Seq("pos", "it")))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum((col("pos") + 1) * col("it.qty")).as("ord_chk"),
          sum(col("it.qty")).as("sum_qty"))
    },

    "ev_json" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(round(sum(col("value")), 2).as("sum_value"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
    },

    // Bloom-pruned anti join (graft.operators.BloomAntiJoin): parts never
    // shipped at quantity >= 49. Exact NOT EXISTS semantics — the Bloom
    // filter only prunes the shuffle, so this carries a full oracle.
    "q_bloom_anti" -> { (s, dir) =>
      val big = Tables.lineitem(s, dir).filter(col("l_quantity") >= 49)
      // size the filter to the filtered right side (~4% of lineitem keys),
      // not the default 1M: partial filters are OR-merged across
      // partitions, so bytes scale the build cost directly
      graft.operators.BloomAntiJoin.bloomAntiJoin(
          Tables.part(s, dir), big, "p_partkey", "l_partkey",
          expectedItems = 1 << 17)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"))
    },

    // q_window's exact result through the bounded top-k AGGREGATE
    // (graft.operators.GroupTopK): the shuffle carries <=3 rows per
    // (partition, suppkey) instead of every lineitem row — same oracle as
    // q_window, different physical contract
    "q_topk_group" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey"))
        .agg(graft.operators.GroupTopK.smallestK(
          struct(negate(col("l_extendedprice")).as("np"),
            col("l_orderkey"), col("l_linenumber")), 3).as("top"))
        .select(col("l_suppkey"), posexplode(col("top")))
        .select(col("l_suppkey"), (col("pos") + 1).as("rn"),
          col("col.l_orderkey"), col("col.l_linenumber"),
          round(negate(col("col.np")), 2).as("price"))
    },

    // mergeable-sketch aggregates, FULLY oracled (r11 verdict Next #4):
    // the engine's own deterministic xxhash64 sketch states — HLL
    // registers (Sketches.hllRegisters, 512/group) and a bottom-k KMV
    // value sample (Sketches.bottomKSample, 1024/group) — built by
    // bounded partial+final aggregates, dumped as aux_hll_regs /
    // aux_qsketch_samp, with the ESTIMATE ARITHMETIC (harmonic-sum
    // integer estimator, lower-median pick) replayed by DuckDB over the
    // dumps (the aux_tri_edges precedent: the hash is not
    // SQL-replayable, the arithmetic on the dumped state is).
    // Estimator ACCURACY vs exact answers stays pinned in
    // RangeJoinSketchSpec; the binary Datasketches faces remain for
    // cross-run union (io_incragg exercises merge).
    "q_sketch" -> { (s, dir) =>
      import graft.sketches.Sketches
      val li = Tables.lineitem(s, dir)
      val grp = col("l_returnflag")
      val ests = Sketches.hllEstimateFromRegisters(
        Sketches.hllRegisters(li, grp, col("l_partkey"), "parts")
          .unionByName(
            Sketches.hllRegisters(li, grp, col("l_orderkey"), "orders")))
      val med = Sketches.sampleLowerMedian(Sketches.bottomKSample(
        li, grp, Seq(col("l_orderkey"), col("l_linenumber")),
        expr("CAST(round(l_quantity * 100) AS BIGINT)"), 1024))
      li.groupBy(grp).agg(count(lit(1)).as("n"))
        .join(ests.filter(col("field") === "parts")
          .select(col("grp").as("l_returnflag"), col("est").as("approx_parts")),
          "l_returnflag")
        .join(ests.filter(col("field") === "orders")
          .select(col("grp").as("l_returnflag"), col("est").as("approx_orders")),
          "l_returnflag")
        .join(med.select(col("grp").as("l_returnflag"),
          col("median_v").as("median_q100")), "l_returnflag")
        .select(col("l_returnflag"), col("approx_parts"),
          col("approx_orders"), col("median_q100"), col("n"))
    },

    // PageRank over the part co-purchase graph (parts sharing an order,
    // graft.operators.PageRank): 6 power iterations as ONE lazy plan —
    // the edges subtree is byte-identical in every round, so its
    // Exchange is planned once and ReuseExchange serves rounds 2..6
    // from the first shuffle's files. Fixed-point int64 arithmetic
    // makes the result bit-identical across engines and partitionings
    // (the oracle replays all 6 rounds in DuckDB with // division).
    // join-key skew diagnostic (graft.inspect.Inspect.skewReport): the
    // pre-salting report — top-10 heavy keys with ppm share and the
    // ratio to the median key (x100, integer-exact via med_x2)
    "q_skewreport" -> { (s, dir) =>
      graft.inspect.Inspect.skewReport(
        Tables.lineitem(s, dir), "l_suppkey", k = 10)
    },
    // join-explosion pre-check (Inspect.joinCardinality): the EXACT row
    // count of the lineitem self-join on l_partkey predicted from
    // per-key cardinalities alone — never running the join the report
    // exists to warn about
    "q_joincard" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      graft.inspect.Inspect.joinCardinality(li, li, "l_partkey", "l_partkey")
    },
    "q_pagerank" -> { (s, dir) =>
      import graft.operators.PageRank
      // co-occurrence graphs are symmetric => dangling-free, so the
      // 6-round lineage stays LINEAR (one rank reference per round) —
      // same fixpoint, and the oracle's dsum term is 0
      PageRank.pageRank(partGraph(s, dir), iterations = 6)
    },
    // the CONVERGENCE-CHECKED pageRank face (tolUnits = 0): eager rounds
    // with the exact integer fixpoint test, stopping early once
    // max|r'-r| = 0. Gradeable against the SAME fixed-round replay by
    // construction: if the run converges at round k < 6 the remaining
    // rounds are provably identity (a fixed vector stays fixed), and if
    // it never converges it runs all 6 — either way the output is
    // bit-identical to the 6-round oracle.
    "q_pagerank_conv" -> { (s, dir) =>
      import graft.operators.PageRank
      PageRank.pageRank(partGraph(s, dir), iterations = 6, tolUnits = 0L)
    },
    // per-node triangle counts over the same part co-occurrence graph —
    // degree-ordered wedge closure, so the O(m^1.5) bound (not hub-key
    // quadratics) governs the self-join even under skew
    "q_triangles" -> { (s, dir) =>
      graft.operators.Triangles.triangleCounts(partGraph(s, dir))
    },
    // per-node local clustering coefficient over the same graph, in
    // exact micro units (int64 floor division — the q_pagerank
    // fixed-point convention); deg >= 2 nodes only, zero-triangle
    // nodes report cc_q = 0
    "q_clustcoef" -> { (s, dir) =>
      graft.operators.Triangles.clusteringCoefficient(partGraph(s, dir))
    },
    // seed-clamped label propagation (graft.operators.LabelProp): every
    // 20th part seeds its partkey-mod-5 class; three synchronized
    // weighted-majority rounds spread the labels over the co-occurrence
    // graph. Integer weight sums + (sum DESC, label ASC) argmax — the
    // whole run replays as unrolled SQL rounds
    "q_labelprop" -> { (s, dir) =>
      import graft.operators.LabelProp
      val seeds = Tables.lineitem(s, dir).select(col("l_partkey").as("node"))
        .distinct()
        .filter(col("node") % 20 === 0)
        // (node DIV 20) % 5: node % 5 would be 0 for EVERY %20 seed —
        // a single-label (vacuous) propagation, caught by q_modularity
        .withColumn("label", expr("(node DIV 20) % 5"))
      LabelProp.propagate(partGraph(s, dir), seeds, 3)
        .select(col("node"), col("label"),
          col("is_seed").cast("int").as("is_seed"))
    },
    // Newman modularity of the label-prop communities
    // (graft.operators.LabelProp.modularity): per-community exact
    // in/tot weights over the labeled subgraph + a nano-floored
    // contribution from one fixed double dag — is the assignment
    // structure or noise, graded end to end on top of the same
    // 3-round propagation replay
    "q_modularity" -> { (s, dir) =>
      import graft.operators.LabelProp
      val g = partGraph(s, dir) // feeds both propagation and scoring
      val seeds = Tables.lineitem(s, dir).select(col("l_partkey").as("node"))
        .distinct()
        .filter(col("node") % 20 === 0)
        .withColumn("label", expr("(node DIV 20) % 5"))
      LabelProp.modularity(g, LabelProp.propagate(g, seeds, 3))
    },
    // k-core (graft.operators.KCore): peel the part co-occurrence graph
    // to its 80-core — k sits inside the degree distribution, so the
    // peel CASCADES (6 rounds measured at sf0.01 AND sf0.1, non-trivial
    // survivor set both). The k-core is unique regardless of removal
    // order and peeling is idempotent at the fixpoint, so the oracle's
    // fixed 10-round unroll is exact for any convergence depth <= 10
    "q_kcore" -> { (s, dir) =>
      graft.operators.KCore.kCore(partGraph(s, dir), 80)
    },
    // link prediction over the same co-occurrence graph
    // (graft.operators.LinkPredict.topForQueries): per-query top-5
    // partner candidates by neighborhood Jaccard, with the resource-
    // allocation index alongside — both integer-exact (ppm / 1e-9
    // fixed point). The QUERY-SET face is the graded one: candidate
    // work is bounded by the query adjacency, where the all-pairs face
    // is Σ deg² (298M wedges at sf0.1 — measured, see scaladoc). A graph
    // under the table gate (the graded scales) is collected once into a
    // broadcast CSR table and each distinct query ranks in one compiled
    // kernel: only the query set shuffles. Above it, the pinned query
    // adjacency broadcasts into the edge list keyed by the far endpoint,
    // so the (u, v) pair aggregate runs without an exchange and only the
    // bounded-heap top-5 partials per query shuffle; above both gates, a
    // center-keyed wedge join feeds the same ranking
    "q_linkpred" -> { (s, dir) =>
      val g = partGraph(s, dir)
      val queries = g.edges.select(col("src").as("node"))
        .distinct().filter(col("node") % 199 === 0)
      graft.operators.LinkPredict.topForQueries(g, queries, kPerQuery = 5)
    },
    // link-prediction QUALITY gate (the q_labelprop lesson: a replay
    // oracle validates the computation, not the configuration): hold out
    // a deterministic 1/13 of undirected co-occurrence edges, predict
    // top-10 neighbors for the query nodes on the REMAINING graph, and
    // grade precision@10 against the held-out truth — a vacuous seed or
    // scoring regression drops prec_ppm even while values stay
    // oracle-exact. The ppm floor is pinned in GraphSpec against the
    // random-pair baseline. SCALE NOTE: the query set here is the
    // held-out nodes — corpus-proportional BY DESIGN for the graded
    // scales (sf0.01/sf1 hash-exact); a precision audit at 100 TB
    // samples a FIXED query budget instead (the wedge probe is ~1/7 of
    // the all-pairs cost with this set — ~2e9 wedge rows at sf5,
    // measured-and-refused; see SCALE_SOAK "round-10 sf5 sweep"). The
    // wedges never become rows while the train graph fits the table
    // gate (topForQueries scaladoc): one kernel over the broadcast CSR
    // table ranks each held-out query node in place. Above it the wedge
    // stream still never shuffles while the held-out nodes' adjacency
    // fits the broadcast byte gate: the pairs aggregate in the far
    // endpoint's task and per-query bounded heaps rank them
    "q_linkpred_prec" -> { (s, dir) =>
      val all = partGraph(s, dir)
      val hold = expr("pmod(least(src, dst) * 31 + greatest(src, dst), 13) = 0")
      val train = all.filter(!hold)
      val test = all.edges.filter(hold && col("src") < col("dst"))
        .select(col("src").as("hu"), col("dst").as("hv"))
      val queries = test.select(col("hu").as("node")).distinct()
        .filter(col("node") % 7 === 0)
      val preds = graft.operators.LinkPredict.topForQueries(train, queries,
          kPerQuery = 10)
        .select(col("u"), col("v"),
          least(col("u"), col("v")).as("hu"),
          greatest(col("u"), col("v")).as("hv"))
      preds.join(test.withColumn("hit", lit(1L)), Seq("hu", "hv"), "left")
        .agg(count_distinct(col("u")).as("n_queries"),
          count(lit(1)).as("n_preds"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("n_queries"), col("n_preds"), col("n_hits"),
          expr("n_hits * 1000000 DIV n_preds").as("prec_ppm"))
    },
    // multi-source BFS (graft.operators.Bfs): exact hop distance from
    // the node%97==0 seed set within 4 hops, frontier-delta rounds.
    // BFS distance is a fixpoint (min over paths), so the oracle's
    // fixed 4-round min-unroll is exact whether or not the frontier
    // empties early
    "q_bfs" -> { (s, dir) =>
      val g = partGraph(s, dir)
      val seeds = g.edges.select(col("src").as("node"))
        .distinct().filter(col("node") % 97 === 0)
      graft.operators.Bfs.distances(g, seeds, maxHops = bfsHops)
    },
    // harmonic centrality of a sampled root set via per-source BFS
    // (graft.operators.Bfs.harmonicCentrality): 3-hop neighborhoods,
    // per-root 1/d sums in exact ppm. State is linear per root (the
    // seed-set contract); the replay is the q_bfs min-unroll carrying
    // the root key
    "q_harmonic" -> { (s, dir) =>
      val g = partGraph(s, dir)
      val seeds = g.edges.select(col("src").as("node"))
        .distinct().filter(col("node") % 997 === 0)
      graft.operators.Bfs.harmonicCentrality(g, seeds, maxHops = harmonicHops)
    },
    // pivot-sampled harmonic estimate for EVERY node (the approximate
    // face for the all-nodes question exact per-root BFS cannot answer
    // at scale): k = node%499 pivots, Ĥ(v) = (N−1)/k · Σ_p 1/d(p,v) in
    // exact ppm integers — the replay is the q_harmonic min-unroll
    // grouped by NODE plus the integer scale-up; the accuracy of the
    // ESTIMATE (not the arithmetic) is pinned in GraphSpec against the
    // exact all-roots answer
    "q_harmonic_approx" -> { (s, dir) =>
      val g = partGraph(s, dir)
      val pivots = g.edges.select(col("src").as("node"))
        .distinct().filter(col("node") % 499 === 0)
      graft.operators.Bfs.harmonicEstimate(g, pivots,
        maxHops = harmonicApproxHops)
    },
    // DOULION edge-sampled triangle estimate (p = 0.2 via deterministic
    // xxhash64 on the canonical pair): exact tri count on the sampled
    // graph + the 1/p³ integer scale-up. The oracle replays the
    // degree-ordered closure over the Spark-dumped sample
    // (aux_tri_edges — the aux_minhash_sigs precedent); estimator
    // accuracy vs the exact count is pinned in GraphSpec
    "q_triangles_approx" -> { (s, dir) =>
      graft.operators.Triangles.triangleCountApprox(partGraph(s, dir),
        pPpm = 200000L)
    },
    // personalized PageRank (random walk with restart): teleport mass
    // restricted to the node%101==0 seed set, 6 fixed-point rounds,
    // full unrolled DuckDB replay like q_pagerank. Ranks measure
    // proximity to the seeds — the recommendation face
    "q_ppr" -> { (s, dir) =>
      val g = partGraph(s, dir)
      val seeds = g.edges.select(col("src").as("node"))
        .distinct().filter(col("node") % 101 === 0)
      graft.operators.PageRank.personalizedPageRank(g, seeds, iterations = 6)
    },
    // PPR QUALITY gate: personalization must CONCENTRATE rank mass on
    // the seed set far beyond what uniform PageRank gives the same
    // nodes — one row of seed-share ppm for both, all integer (share =
    // seed_mass DIV (total DIV 1e6): overflow-free at any node count).
    // n_seeds rides along so an accidentally-empty seed config is a
    // visible hash mismatch, not a silently-degenerate-but-exact replay
    // (the q_labelprop lesson). The concentration floor is pinned in
    // GraphSpec.
    "q_ppr_quality" -> { (s, dir) =>
      import graft.operators.PageRank
      val g = partGraph(s, dir)
      val seeds = g.edges.select(col("src").as("node"))
        .distinct().filter(col("node") % 101 === 0)
      def seedShare(ranks: org.apache.spark.sql.DataFrame, out: String) =
        ranks.join(seeds.withColumn("is_seed", lit(1)), Seq("node"), "left")
          .agg(sum(col("pr")).as("tot"),
            sum(when(col("is_seed").isNotNull, col("pr")).otherwise(lit(0L)))
              .as("sm"),
            sum(when(col("is_seed").isNotNull, 1L).otherwise(0L)).as("ns"))
          .select(col("ns"), expr("sm DIV (tot DIV 1000000)").as(out))
      // ONE rank-statics build feeds both runs (r12 verdict #4): the
      // out-weight aggregate, the gate count and the edge-sized
      // out-weight attach are identical for PPR and uniform PR — the
      // query used to pay each twice.
      val statics = Some(PageRank.rankStatics(g))
      val ppr = seedShare(
        PageRank.personalizedPageRank(g, seeds, iterations = 6,
          statics = statics),
        "ppr_seed_ppm")
      val pr = seedShare(
        PageRank.pageRank(g, iterations = 6, statics = statics),
        "pr_seed_ppm")
      ppr.select(col("ns").as("n_seeds"), col("ppr_seed_ppm"))
        .crossJoin(pr.select(col("pr_seed_ppm")))
    },
    // bounded Bellman-Ford shortest paths over affinity costs
    // (1e6 DIV co-occurrence weight — heavier co-purchase = cheaper
    // hop): exact min-plus distances over paths of <= 3 edges from the
    // node%97==0 seed set; integer costs replay as a 3-round min-unroll
    "q_sssp" -> { (s, dir) =>
      val g = partGraph(s, dir).reweight(expr("1000000 DIV w"))
      val seeds = g.edges.select(col("src").as("node"))
        .distinct().filter(col("node") % 97 === 0)
      graft.operators.Bfs.relaxDistances(g, seeds, rounds = 3)
    })

  /** Auxiliary dumps grounding structural replays (Verify writes them
    * next to the graded queries; not graded rows themselves):
    *  - aux_tri_edges: the deterministic xxhash64-sampled canonical edge
    *    set q_triangles_approx counts over (the sampler is not
    *    SQL-replayable; the closure replay reads this dump).
    *  - aux_ppr_ranks / aux_prw_ranks: the two final 6-round rank
    *    vectors q_ppr_quality aggregates — its oracle replays the
    *    seed-share reduction over these instead of recomputing 12 rank
    *    CTEs in one query (the sf5 replay spilled past 78 GB; the rank
    *    chains themselves stay fully oracle-proven via q_ppr and
    *    q_pagerank).
    *  - aux_hll_regs / aux_qsketch_samp: q_sketch's deterministic HLL
    *    register frame and bottom-k KMV quantity sample — the estimate
    *    arithmetic replays over these (r11 verdict Next #4). */
  val aux: Map[String, Q] = Map(
    // q_sketch's deterministic sketch states (must stay expression-
    // identical to the builders inside q_sketch — the
    // sampledCanonicalEdges discipline): the merged HLL register frame
    // for both fields and the exploded bottom-k quantity sample
    "aux_hll_regs" -> { (s, dir) =>
      import graft.sketches.Sketches
      val li = Tables.lineitem(s, dir)
      Sketches.hllRegisters(li, col("l_returnflag"), col("l_partkey"), "parts")
        .unionByName(
          Sketches.hllRegisters(li, col("l_returnflag"), col("l_orderkey"), "orders"))
    },
    "aux_qsketch_samp" -> { (s, dir) =>
      import graft.sketches.Sketches
      Sketches.bottomKSample(Tables.lineitem(s, dir), col("l_returnflag"),
        Seq(col("l_orderkey"), col("l_linenumber")),
        expr("CAST(round(l_quantity * 100) AS BIGINT)"), 1024)
    },
    "aux_tri_edges" -> { (s, dir) =>
      graft.operators.Triangles.sampledCanonicalEdges(partGraph(s, dir),
        pPpm = 200000L)
    },
    "aux_ppr_ranks" -> { (s, dir) =>
      val g = partGraph(s, dir)
      val seeds = g.edges.select(col("src").as("node"))
        .distinct().filter(col("node") % 101 === 0)
      graft.operators.PageRank.personalizedPageRank(g, seeds, iterations = 6)
    },
    "aux_prw_ranks" -> { (s, dir) =>
      graft.operators.PageRank.pageRank(partGraph(s, dir), iterations = 6)
    })

  private def pagerankOracle(iters: Int): String = {
    val base =
      """e0 AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey GROUP BY 1, 2), nodes AS MATERIALIZED (SELECT src AS node FROM e0 UNION SELECT dst FROM e0), outw AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM e0 GROUP BY 1), nn AS (SELECT count(*) AS n FROM nodes), r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS pr FROM nodes)"""
    val rounds = (1 to iters).map { i =>
      val p = i - 1
      s"c$i AS (SELECT e.dst, CAST(sum((r.pr // o.out_w) * e.w) AS BIGINT) AS c FROM e0 e JOIN outw o ON e.src = o.src JOIN r$p r ON r.node = e.src GROUP BY 1), " +
        s"d$i AS (SELECT CAST(coalesce(sum(pr), 0) AS BIGINT) AS dsum FROM r$p r WHERE NOT EXISTS (SELECT 1 FROM outw o WHERE o.src = r.node)), " +
        s"r$i AS (SELECT n.node, 150000000 + 85 * (coalesce(c.c, 0) + (SELECT dsum FROM d$i) // (SELECT n FROM nn)) // 100 AS pr FROM nodes n LEFT JOIN c$i c ON c.dst = n.node)"
    }.mkString(", ")
    s"WITH $base, $rounds SELECT node, CAST(pr AS BIGINT) AS pr FROM r$iters"
  }

  val oracle: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty, round(sum(l_extendedprice),2) AS sum_base_price, CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_disc_price, CAST(round(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_charge, round(avg(l_quantity),4) AS avg_qty, round(avg(l_extendedprice),4) AS avg_price, round(avg(l_discount),6) AS avg_disc, count(*) AS count_order FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' GROUP BY l_returnflag, l_linestatus""",
    "q6_filter" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice*l_discount AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""",
    "q3_topk" ->
      """SELECT o_orderkey, o_orderdate, CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue FROM customer, orders, lineitem WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15' GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q5_join" ->
      """SELECT n_name, CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue FROM customer, orders, lineitem, supplier, nation, region WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey AND r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' GROUP BY n_name""",
    "q4_semijoin" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders o WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48) GROUP BY o_orderpriority""",
    "q_antijoin" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '2001-01-01') GROUP BY c_mktsegment""",
    "q_window" ->
      """SELECT l_suppkey, CAST(rn AS INT) AS rn, l_orderkey, l_linenumber, round(l_extendedprice,2) AS price FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, row_number() OVER (PARTITION BY l_suppkey ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn FROM lineitem) t WHERE rn <= 3""",
    "q_topk_group" ->
      """SELECT l_suppkey, CAST(rn AS INT) AS rn, l_orderkey, l_linenumber, round(l_extendedprice,2) AS price FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, row_number() OVER (PARTITION BY l_suppkey ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn FROM lineitem) t WHERE rn <= 3""",
    // sketch replay (r11 verdict Next #4): the estimate arithmetic over
    // the dumped deterministic states — HLL harmonic-sum integer
    // estimator (HUGEINT here, DECIMAL(38,0) on the Spark side;
    // two-step // == single // for positive integers) and the KMV
    // lower-median pick; the exact n replays straight from lineitem
    "q_sketch" ->
      """WITH regs AS (SELECT * FROM '__OUTDIR__/aux_hll_regs/*.parquet'), ss AS (SELECT grp, field, CAST(sum(CAST(power(2, 48 - r) AS BIGINT)) + (512 - count(*)) * 281474976710656 AS BIGINT) AS ssum FROM regs GROUP BY 1, 2), est AS (SELECT grp, field, CAST(CAST(719783 AS HUGEINT) * 262144 * 281474976710656 // ssum // 1000000 AS BIGINT) AS est FROM ss), samp AS (SELECT * FROM '__OUTDIR__/aux_qsketch_samp/*.parquet'), med AS (SELECT grp, v AS median_q100 FROM (SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY v) AS rn, count(*) OVER (PARTITION BY grp) AS cnt FROM samp) t WHERE rn = (cnt + 1) // 2), nn AS (SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1) SELECT nn.l_returnflag, p.est AS approx_parts, su.est AS approx_orders, med.median_q100, nn.n FROM nn JOIN est p ON p.grp = nn.l_returnflag AND p.field = 'parts' JOIN est su ON su.grp = nn.l_returnflag AND su.field = 'orders' JOIN med ON med.grp = nn.l_returnflag""",
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty, count(*) AS n FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    "q_window_frames" ->
      """SELECT o_custkey, o_orderkey, round(lag(o_totalprice, 1) OVER w, 2) AS prev_price, round(lead(o_totalprice, 1) OVER w, 2) AS next_price, CAST(rank() OVER w AS INT) AS rk, round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_total, CAST(ntile(4) OVER w AS INT) AS quartile FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
    "q_unpivot" ->
      """WITH u AS (SELECT l_returnflag, 'quantity' AS metric, CAST(l_quantity AS DOUBLE) AS value FROM lineitem UNION ALL SELECT l_returnflag, 'extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem UNION ALL SELECT l_returnflag, 'discount', CAST(l_discount AS DOUBLE) FROM lineitem) SELECT l_returnflag, metric, count(*) AS n, round(sum(value), 2) AS total FROM u GROUP BY 1, 2""",
    "q_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supp FROM lineitem GROUP BY l_returnflag""",
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty, count(*) AS n FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "q_pivot" ->
      """SELECT l_returnflag, round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS qty_f, round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS qty_o FROM lineitem GROUP BY l_returnflag""",
    "ev_json" ->
      """SELECT event_type, round(sum(value),2) AS sum_value, CAST(sum(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k FROM events GROUP BY event_type""",
    "q_bloom_anti" ->
      """SELECT p_brand, count(*) AS n FROM part p WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 49) GROUP BY p_brand""",
    "q_intersect" ->
      """SELECT count(*) AS n_supp, CAST(sum(l_suppkey) AS BIGINT) AS sum_supp FROM (SELECT l_suppkey FROM lineitem WHERE l_quantity <= 5 INTERSECT SELECT l_suppkey FROM lineitem WHERE l_quantity >= 45) t""",
    "q_except" ->
      """SELECT count(*) AS n_supp, CAST(sum(l_suppkey) AS BIGINT) AS sum_supp FROM (SELECT l_suppkey FROM lineitem WHERE l_quantity <= 5 EXCEPT SELECT l_suppkey FROM lineitem WHERE l_quantity >= 45) t""",
    "q_skew_build" ->
      """WITH r AS (SELECT l_returnflag, row_number() OVER (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT)) AS rn, CAST(l_quantity AS BIGINT) AS qty FROM lineitem) SELECT l_returnflag, count(*) AS n, CAST(sum(rn * qty) AS BIGINT) AS ord_chk, CAST(sum(qty) AS BIGINT) AS sum_qty FROM r GROUP BY l_returnflag""",
    // per-key counts, exact contrib sums; max-contrib key ties resolve
    // to the larger key (Spark's max_by over (contrib, k) structs)
    "q_joincard" ->
      """WITH c AS (SELECT l_partkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1), agg AS (SELECT CAST(sum(cnt * cnt) AS BIGINT) AS jr, CAST(count(*) AS BIGINT) AS nb, CAST(max(cnt * cnt) AS BIGINT) AS mx FROM c) SELECT jr AS join_rows, nb AS n_keys_both, CAST(0 AS BIGINT) AS n_keys_left_only, CAST(0 AS BIGINT) AS n_keys_right_only, mx AS max_key_contrib, CAST((SELECT k FROM c ORDER BY cnt * cnt DESC, k DESC LIMIT 1) AS VARCHAR) AS top_key FROM agg""",
    // same counts, exact half-integer median x2, rank ties by key
    "q_skewreport" ->
      """WITH c AS (SELECT l_suppkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1), s AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, CAST(median(cnt) * 2 AS BIGINT) AS med_x2, count(*) AS n_keys FROM c), t AS (SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rank FROM c) SELECT CAST(rank AS INT) AS rank, CAST(key AS VARCHAR) AS key, cnt, cnt * 1000000 // total AS share_ppm, CASE WHEN med_x2 > 0 THEN (cnt * 200) // med_x2 END AS ratio_to_median_x100, n_keys FROM t, s WHERE rank <= 10""",
    // full 6-round fixed-point power-iteration replay; // is integer
    // division on BIGINT, matching Spark's DIV (all quantities positive)
    "q_pagerank" -> pagerankOracle(6),
    // the convergence-checked face must land on the same 6-round values:
    // early exit only fires at an exact fixpoint, where further rounds
    // are identity
    "q_pagerank_conv" -> pagerankOracle(6),
    "q_triangles" ->
      """WITH e0 AS MATERIALIZED (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a, greatest(a.l_partkey, b.l_partkey) AS b FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
           deg AS MATERIALIZED (SELECT node, count(*) AS deg FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
           o AS MATERIALIZED (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b) THEN e0.a ELSE e0.b END AS u, CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b) THEN e0.b ELSE e0.a END AS v, CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b) THEN db.deg ELSE da.deg END AS dv FROM e0 JOIN deg da ON da.node = e0.a JOIN deg db ON db.node = e0.b),
           tri AS MATERIALIZED (SELECT o1.u, o1.v AS x, o2.v AS y FROM o o1 JOIN o o2 ON o1.u = o2.u AND (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v)) JOIN o oe ON oe.u = o1.v AND oe.v = o2.v)
         SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (SELECT u AS node FROM tri UNION ALL SELECT x FROM tri UNION ALL SELECT y FROM tri) GROUP BY 1""",
    "q_clustcoef" ->
      """WITH e0 AS MATERIALIZED (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a, greatest(a.l_partkey, b.l_partkey) AS b FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
           deg AS MATERIALIZED (SELECT node, count(*) AS deg FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
           o AS MATERIALIZED (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b) THEN e0.a ELSE e0.b END AS u, CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b) THEN e0.b ELSE e0.a END AS v, CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b) THEN db.deg ELSE da.deg END AS dv FROM e0 JOIN deg da ON da.node = e0.a JOIN deg db ON db.node = e0.b),
           tri AS MATERIALIZED (SELECT o1.u, o1.v AS x, o2.v AS y FROM o o1 JOIN o o2 ON o1.u = o2.u AND (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v)) JOIN o oe ON oe.u = o1.v AND oe.v = o2.v),
           cnt AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (SELECT u AS node FROM tri UNION ALL SELECT x FROM tri UNION ALL SELECT y FROM tri) GROUP BY 1)
         SELECT d.node, CAST(d.deg AS BIGINT) AS deg, coalesce(c.triangles, 0) AS triangles, (2000000 * coalesce(c.triangles, 0)) // (d.deg * (d.deg - 1)) AS cc_q FROM deg d LEFT JOIN cnt c ON c.node = d.node WHERE d.deg >= 2""",
    "q_labelprop" -> labelpropOracle(3),
    // the same 3-round propagation replay, then exact in/tot sums over
    // the labeled subgraph + the identical nano-floored double dag
    "q_modularity" -> modularityOracle(3),
    "q_kcore" -> kcoreOracle(80, 10),
    // wedge-join replay over the query set: common-neighbor counts + RA
    // over the DISTINCT directed edge list (Graph.coOccurrence is
    // grouped-distinct, weight ignored); // is BIGINT floor division =
    // Spark's DIV on positives; per-query rank replays the window
    "q_linkpred" ->
      """WITH e0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
           deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM e0 GROUP BY 1),
           tag AS MATERIALIZED (SELECT e.src, e.dst, d.deg AS cdeg FROM e0 e JOIN deg d ON d.node = e.dst),
           q AS (SELECT node FROM deg WHERE node % 199 = 0),
           cn AS (SELECT a.src AS u, b.src AS v, count(*) AS inter, CAST(sum(1000000000 // a.cdeg) AS BIGINT) AS ra_1e9 FROM tag a JOIN q ON a.src = q.node JOIN tag b ON a.dst = b.dst AND a.src <> b.src GROUP BY 1, 2),
           sc AS (SELECT u, v, inter, du.deg + dv.deg - inter AS uni, inter * 1000000 // (du.deg + dv.deg - inter) AS jac_ppm, ra_1e9 FROM cn JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v)
         SELECT u, CAST(rank AS INT) AS rank, v, CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni, CAST(jac_ppm AS BIGINT) AS jac_ppm, ra_1e9 FROM (SELECT *, row_number() OVER (PARTITION BY u ORDER BY jac_ppm DESC, v) AS rank FROM sc) WHERE rank <= 5""",
    // precision@10 replay: identical hold-out split, train-graph wedge
    // scoring, rank cut, and hit join — one integer row
    "q_linkpred_prec" ->
      """WITH e0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
           tr AS MATERIALIZED (SELECT src, dst FROM e0 WHERE (least(src, dst) * 31 + greatest(src, dst)) % 13 <> 0),
           te AS MATERIALIZED (SELECT src AS hu, dst AS hv FROM e0 WHERE (least(src, dst) * 31 + greatest(src, dst)) % 13 = 0 AND src < dst),
           deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM tr GROUP BY 1),
           tag AS MATERIALIZED (SELECT e.src, e.dst, d.deg AS cdeg FROM tr e JOIN deg d ON d.node = e.dst),
           q AS (SELECT DISTINCT hu AS node FROM te WHERE hu % 7 = 0),
           cn AS (SELECT a.src AS u, b.src AS v, count(*) AS inter FROM tag a JOIN q ON a.src = q.node JOIN tag b ON a.dst = b.dst AND a.src <> b.src GROUP BY 1, 2),
           sc AS (SELECT u, v, inter * 1000000 // (du.deg + dv.deg - inter) AS jac_ppm FROM cn JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
           pred AS (SELECT u, v FROM (SELECT *, row_number() OVER (PARTITION BY u ORDER BY jac_ppm DESC, v) AS rank FROM sc) WHERE rank <= 10),
           h AS (SELECT pred.u, CASE WHEN te.hu IS NOT NULL THEN 1 ELSE 0 END AS hit FROM pred LEFT JOIN te ON te.hu = least(pred.u, pred.v) AND te.hv = greatest(pred.u, pred.v))
         SELECT count(DISTINCT u) AS n_queries, count(*) AS n_preds, CAST(sum(hit) AS BIGINT) AS n_hits, CAST(sum(hit) AS BIGINT) * 1000000 // count(*) AS prec_ppm FROM h""",
    // seed-share concentration replay over the DUMPED final rank
    // vectors (aux_ppr_ranks / aux_prw_ranks): the seed set and both
    // seed-share reductions replay independently in SQL; the rank
    // chains themselves are fully oracle-proven by q_ppr and
    // q_pagerank. The previous all-in-one 12-CTE recompute spilled past
    // 78 GB at sf5 — this replay runs at any graded scale.
    "q_ppr_quality" -> pprQualityDumpOracle,
    // fixed 4-round min-unroll: dist(v) = min over rounds of first
    // reach — exact for any early frontier exhaustion (min is a
    // fixpoint, extra rounds are identity)
    "q_bfs" -> bfsOracle(bfsHops),
    // per-source min-unroll with the root key carried; 1/d terms as
    // exact ppm integer division
    "q_harmonic" -> harmonicOracle(harmonicHops),
    // the same min-unroll from the %499 pivot set, grouped by NODE, plus
    // the exact integer (N−1)//k scale-up — the landmark-estimate replay
    "q_harmonic_approx" -> harmonicEstOracle(harmonicApproxHops),
    // degree-ordered closure over the Spark-dumped sampled edge set
    // (aux_tri_edges; xxhash64 sampling is not SQL-replayable) + the
    // pre-sample edge count recomputed from lineitem + the 1/p³ DIV chain
    "q_triangles_approx" -> trianglesApproxOracle(200000L),
    // 6-round personalized power-iteration replay: teleport vector on
    // the seed set only, same fixed-point DIV arithmetic as q_pagerank
    "q_ppr" -> pprOracle(6),
    // 3-round min-plus unroll over integer affinity costs; min is a
    // fixpoint so the replay is exact under Spark's early settle-exit
    "q_sssp" -> ssspOracle(3))

  private def pprOracle(iters: Int): String = {
    val base =
      """e0 AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey GROUP BY 1, 2), nodes AS MATERIALIZED (SELECT src AS node FROM e0 UNION SELECT dst FROM e0), outw AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM e0 GROUP BY 1), nn AS (SELECT count(*) AS n FROM nodes), s0 AS (SELECT node FROM nodes WHERE node % 101 = 0), ns AS (SELECT count(*) AS c FROM s0), tele AS MATERIALIZED (SELECT n.node, CASE WHEN s.node IS NOT NULL THEN 150000000 * (SELECT n FROM nn) // (SELECT c FROM ns) ELSE 0 END AS tele FROM nodes n LEFT JOIN s0 s ON n.node = s.node), r0 AS (SELECT node, tele AS pr FROM tele)"""
    val rounds = (1 to iters).map { i =>
      val p = i - 1
      s"c$i AS (SELECT e.dst, CAST(sum((r.pr // o.out_w) * e.w) AS BIGINT) AS c FROM e0 e JOIN outw o ON e.src = o.src JOIN r$p r ON r.node = e.src GROUP BY 1), " +
        s"r$i AS (SELECT t.node, t.tele + 85 * coalesce(c.c, 0) // 100 AS pr FROM tele t LEFT JOIN c$i c ON c.dst = t.node)"
    }.mkString(", ")
    s"WITH $base, $rounds SELECT node, CAST(pr AS BIGINT) AS pr FROM r$iters"
  }

  /** The q_ppr_quality replay: seed set derived independently from
    * lineitem, both seed-share ppm reductions
    * (share = seed_mass // (total // 1e6), overflow-free) computed over
    * the Spark-dumped final rank vectors. The rank chains are proven by
    * the q_ppr / q_pagerank full-recompute oracles; recomputing both
    * 6-round chains inside this one query (12 rank CTEs) spilled past
    * 78 GB at sf5, which is exactly what the dump replay removes. */
  private def pprQualityDumpOracle: String =
    """WITH pa AS (SELECT node, pr FROM '__OUTDIR__/aux_ppr_ranks/*.parquet'),
       pb AS (SELECT node, pr FROM '__OUTDIR__/aux_prw_ranks/*.parquet'),
       s0 AS (SELECT DISTINCT a.l_partkey AS node FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey WHERE a.l_partkey % 101 = 0),
       ns AS (SELECT count(*) AS c FROM s0)
     SELECT (SELECT c FROM ns) AS n_seeds,
       (SELECT CAST(sum(CASE WHEN s.node IS NOT NULL THEN r.pr ELSE 0 END) // (sum(r.pr) // 1000000) AS BIGINT) FROM pa r LEFT JOIN s0 s ON r.node = s.node) AS ppr_seed_ppm,
       (SELECT CAST(sum(CASE WHEN s.node IS NOT NULL THEN r.pr ELSE 0 END) // (sum(r.pr) // 1000000) AS BIGINT) FROM pb r LEFT JOIN s0 s ON r.node = s.node) AS pr_seed_ppm"""

  private def ssspOracle(rounds: Int): String = {
    val base =
      """e0 AS MATERIALIZED (SELECT src, dst, 1000000 // w AS w FROM (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey GROUP BY 1, 2)), m0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS d FROM e0 WHERE src % 97 = 0)"""
    val iter = (1 to rounds).map { i =>
      val p = i - 1
      s"a$i AS (SELECT e.dst AS node, m.d + e.w AS d FROM e0 e JOIN m$p m ON e.src = m.node), " +
        s"m$i AS (SELECT node, min(d) AS d FROM (SELECT * FROM m$p UNION ALL SELECT * FROM a$i) GROUP BY node)"
    }.mkString(", ")
    s"WITH $base, $iter SELECT node, CAST(d AS BIGINT) AS dist FROM m$rounds"
  }

  /** Unrolled multi-source BFS: m_i holds min hop distance within i
    * hops; round i expands ALL reached nodes (the replay does not need
    * the frontier optimization — min() collapses re-reached nodes). */
  private def harmonicOracle(hops: Int): String = {
    val base =
      """e0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey), m0 AS (SELECT DISTINCT src AS root, src AS node, 0 AS d FROM e0 WHERE src % 997 = 0)"""
    val rounds = (1 to hops).map { i =>
      val p = i - 1
      s"a$i AS (SELECT DISTINCT m.root, e.dst AS node, $i AS d FROM e0 e JOIN m$p m ON e.src = m.node), " +
        s"m$i AS (SELECT root, node, min(d) AS d FROM (SELECT * FROM m$p UNION ALL SELECT * FROM a$i) GROUP BY root, node)"
    }.mkString(", ")
    s"WITH $base, $rounds SELECT root, count(*) FILTER (WHERE d > 0) AS n_reached, CAST(sum(1000000 // d) FILTER (WHERE d > 0) AS BIGINT) AS harm_ppm FROM m$hops GROUP BY root"
  }

  /** The q_harmonic_approx replay: harmonicOracle's min-unroll from the
    * %499 pivot set, grouped by NODE (the estimate's target), with the
    * exact integer (N−1)//k scale-up. N = distinct src over the
    * symmetric edge list (matches Spark's count), k = pivot count. */
  private def harmonicEstOracle(hops: Int): String = {
    val base =
      """e0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey), m0 AS (SELECT DISTINCT src AS root, src AS node, 0 AS d FROM e0 WHERE src % 499 = 0), nn AS (SELECT count(DISTINCT src) AS n FROM e0), kk AS (SELECT count(DISTINCT root) AS k FROM m0)"""
    val rounds = (1 to hops).map { i =>
      val p = i - 1
      s"a$i AS (SELECT DISTINCT m.root, e.dst AS node, $i AS d FROM e0 e JOIN m$p m ON e.src = m.node), " +
        s"m$i AS (SELECT root, node, min(d) AS d FROM (SELECT * FROM m$p UNION ALL SELECT * FROM a$i) GROUP BY root, node)"
    }.mkString(", ")
    s"WITH $base, $rounds SELECT node, count(*) AS n_pivots, CAST(sum(1000000 // d) AS BIGINT) AS harm_sum_ppm, CAST(sum(1000000 // d) * ((SELECT n FROM nn) - 1) // (SELECT k FROM kk) AS BIGINT) AS est_ppm FROM m$hops WHERE d > 0 GROUP BY node"
  }

  /** The q_triangles_approx replay: the q_triangles degree-ordered
    * closure, but over the DUMPED sampled canonical edges (aux_tri_edges
    * — Spark's xxhash64 sampler is not SQL-replayable, so the dump
    * grounds the replay; the closure arithmetic and the exact
    * floor(tri·10¹⁸/p³) scale-up are replayed in full — HUGEINT here,
    * DECIMAL(38,0) on the Spark side, identical values wherever the
    * estimate fits int64). n_edges (pre-sample) recomputes from
    * lineitem. */
  private def trianglesApproxOracle(pPpm: Long): String =
    s"""WITH s AS (SELECT a, b FROM '__OUTDIR__/aux_tri_edges/*.parquet'),
        e0 AS (SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a, greatest(x.l_partkey, y.l_partkey) AS b FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey),
        deg AS MATERIALIZED (SELECT node, count(*) AS deg FROM (SELECT a AS node FROM s UNION ALL SELECT b FROM s) GROUP BY 1),
        o AS MATERIALIZED (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND s.a < s.b) THEN s.a ELSE s.b END AS u, CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND s.a < s.b) THEN s.b ELSE s.a END AS v, CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND s.a < s.b) THEN db.deg ELSE da.deg END AS dv FROM s JOIN deg da ON da.node = s.a JOIN deg db ON db.node = s.b),
        tri AS (SELECT count(*) AS t FROM o o1 JOIN o o2 ON o1.u = o2.u AND (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v)) JOIN o oe ON oe.u = o1.v AND oe.v = o2.v)
      SELECT (SELECT count(*) FROM e0) AS n_edges, (SELECT count(*) FROM s) AS n_edges_sampled, (SELECT t FROM tri) AS tri_sampled, CAST(CAST((SELECT t FROM tri) AS HUGEINT) * 1000000000000000000 // ${pPpm * pPpm * pPpm} AS BIGINT) AS est_triangles"""

  private def bfsOracle(hops: Int): String = {
    val base =
      """e0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey), m0 AS (SELECT DISTINCT src AS node, 0 AS d FROM e0 WHERE src % 97 = 0)"""
    val rounds = (1 to hops).map { i =>
      val p = i - 1
      s"a$i AS (SELECT DISTINCT e.dst AS node, $i AS d FROM e0 e JOIN m$p m ON e.src = m.node), " +
        s"m$i AS (SELECT node, min(d) AS d FROM (SELECT * FROM m$p UNION ALL SELECT * FROM a$i) GROUP BY node)"
    }.mkString(", ")
    s"WITH $base, $rounds SELECT node, CAST(d AS INT) AS dist FROM m$hops"
  }

  /** Unrolled peel: round i keeps nodes whose CURRENT degree >= k and
    * the edges between them. Monotone + idempotent at the fixpoint, so
    * rounds beyond convergence are no-ops and the unroll count only
    * needs to be >= the measured peel depth (6 at sf0.01 and sf0.1). */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val base =
      """e0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey)"""
    val peel = (1 to rounds).map { i =>
      val p = i - 1
      s"k$i AS (SELECT src AS node FROM e$p GROUP BY src HAVING count(*) >= $k), " +
        s"e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e$p e JOIN k$i a ON e.src = a.node JOIN k$i b ON e.dst = b.node)"
    }.mkString(", ")
    s"WITH $base, $peel SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM e$rounds GROUP BY src"
  }

  private def modularityOracle(iters: Int): String = {
    val rounds = labelpropRounds(iters)
    s"""WITH $rounds, lab AS (SELECT node, label FROM l$iters WHERE label IS NOT NULL), e2 AS (SELECT e.w, a.label AS lsrc, b.label AS ldst FROM e0 e JOIN lab a ON a.node = e.src JOIN lab b ON b.node = e.dst), m2 AS (SELECT CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) AS m2 FROM e2), tot AS (SELECT lsrc AS label, CAST(sum(w) AS BIGINT) AS tot_w FROM e2 GROUP BY 1), inw AS (SELECT lsrc AS label, CAST(sum(w) AS BIGINT) AS in_w FROM e2 WHERE lsrc = ldst GROUP BY 1), nn AS (SELECT label, count(*) AS n_nodes FROM lab GROUP BY 1) SELECT nn.label, nn.n_nodes, coalesce(inw.in_w, 0) AS in_w, coalesce(tot.tot_w, 0) AS tot_w, CAST(floor((CAST(coalesce(inw.in_w, 0) AS DOUBLE) / m2.m2 - (CAST(coalesce(tot.tot_w, 0) AS DOUBLE) / m2.m2) * (CAST(coalesce(tot.tot_w, 0) AS DOUBLE) / m2.m2)) * 1000000000) AS BIGINT) AS contrib_nano FROM nn LEFT JOIN inw ON inw.label = nn.label LEFT JOIN tot ON tot.label = nn.label CROSS JOIN m2"""
  }

  /** The shared label-propagation CTE chain (e0 edges, l0 seeds, l1..lN
    * rounds) — the base both the q_labelprop grading and the modularity
    * scoring replay from. */
  private def labelpropRounds(iters: Int): String = {
    val base =
      """e0 AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey GROUP BY 1, 2), l0 AS MATERIALIZED (SELECT DISTINCT l_partkey AS node, l_partkey // 20 % 5 AS label, TRUE AS is_seed FROM lineitem WHERE l_partkey % 20 = 0)"""
    val rounds = (1 to iters).map { i =>
      val p = i - 1
      s"v$i AS (SELECT e.dst, l.label, CAST(sum(e.w) AS BIGINT) AS s FROM e0 e JOIN l$p l ON l.node = e.src GROUP BY 1, 2), " +
        s"p$i AS (SELECT dst, label AS plabel FROM (SELECT dst, label, row_number() OVER (PARTITION BY dst ORDER BY s DESC, label) AS rn FROM v$i) WHERE rn = 1), " +
        s"l$i AS MATERIALIZED (SELECT coalesce(l.node, p.dst) AS node, CASE WHEN coalesce(l.is_seed, FALSE) THEN l.label ELSE coalesce(p.plabel, l.label) END AS label, coalesce(l.is_seed, FALSE) AS is_seed FROM l$p l FULL JOIN p$i p ON l.node = p.dst)"
    }.mkString(", ")
    s"$base, $rounds"
  }

  private def labelpropOracle(iters: Int): String =
    s"WITH ${labelpropRounds(iters)} SELECT node, label, CAST(is_seed AS INT) AS is_seed FROM l$iters WHERE label IS NOT NULL"
}
