package graft.tools

import java.nio.file.{Files, Paths}

/** Regenerates docs/PLANS.md: the formatted physical plans of a curated set
  * of queries, with the scale-relevant plan properties called out. Run via
  * `sbt "runMain graft.tools.PlanGallery"` after plan-affecting changes
  * (PlanQualitySpec asserts the properties; this file makes them legible).
  */
object PlanGallery {

  private val curated: Seq[(String, String)] = Seq(
    "q1_agg" -> ("Partial+final hash aggregation: the shuffle carries one " +
      "partial state per (partition, group), never raw rows; scan reads " +
      "only the referenced lineitem columns with the date filter pushed."),
    "q5_join" -> ("Fact-fact join shuffles once on the join key; every " +
      "dimension table arrives as a BroadcastExchange — the 600k-row " +
      "lineitem stream is never re-partitioned for them."),
    "q_topk_group" -> ("Ranking WITHOUT a window sort: partial_collecttopk " +
      "keeps a bounded k-entry heap map-side, so the exchange moves <=k " +
      "rows per (partition, suppkey)."),
    "ev_asof_native" -> ("The custom AsofJoinExec planner operator: both " +
      "children hash-cluster on user_id and sort on (user_id, ts) once; " +
      "the exec is a single streaming merge per partition."),
    "ev_range" -> ("A pure-inequality (range) join planned as a sort-merge " +
      "join: the bucket equi-key manufactured by RangeJoin turns what " +
      "would be a nested loop into an ordinary shuffled join."),
    "d_minhash_lsh" -> ("MinHash-LSH near-dup pairs: codegen'd signature " +
      "expression, band explosion repartitioned to full parallelism, and " +
      "the band self-join running as a hash join on 64-bit keys."),
    "sim_pq" -> ("Product-quantization ANN: the corpus scan carries " +
      "16-byte code arrays (pqencode), each query ships one ADC lookup " +
      "table through a broadcast, candidates cost m table lookups " +
      "(pqadcscore), and only the bounded shortlist joins back full-width " +
      "vectors for the exact cosine re-rank."),
    "t_bm25" -> ("BM25 retrieval as one lazy plan: the corpus-derived " +
      "query set (global top-6 + 6-row rank window) and the scoring join " +
      "hang off the SAME (id, dl, tok) aggregate — a single ReusedExchange " +
      "tokenize+shuffle — the 1-row corpus-stats aggregate and the query " +
      "set enter as broadcasts, and the per-query top-k is the bounded " +
      "heap, k rows per (query, partition) on the wire."),
    "q_skew_build" -> ("Two-phase salted ragged build under extreme key " +
      "skew (3 keys over the whole table): phase 1 aggregates on " +
      "(key, salt) so the hot key's rows pre-pack into arrays across 32 " +
      "cells in parallel; phase 2's shuffle then carries 32 packed records " +
      "per key instead of N/3 row-records into one reducer."),
    "t_pack" -> ("Sequence packing as a two-level prefix scan: the " +
      "corpus-sized Window keeps its id-range bucket partition key (runs " +
      "in parallel), the only unpartitioned Window runs on the " +
      "one-row-per-bucket totals, and the offsets come back via a " +
      "BroadcastExchange — no corpus-wide single-task stage anywhere."),
    "d_spanrm" -> ("Exact substring-span removal as relational ops: " +
      "posexploded windows -> occurrence count -> duplicated spans join " +
      "back -> covered positions explode+distinct -> anti-join -> sorted " +
      "collect_list rebuild. Every join is an equi hash join; nothing " +
      "quadratic, nothing driver-side."),
    "ev_asof_bcast" -> ("Broadcast as-of join: the dimension-sized right " +
      "side resolves per-row by binary search inside mapPartitions — the " +
      "fact scan runs straight into the final aggregate with ZERO " +
      "Exchange nodes before it; neither the union+window form nor the " +
      "native merge operator can avoid shuffling the fact side."),
    "d_simhash_pairs" -> ("Banded (Manku pigeonhole) simhash near-dup " +
      "index: signatures explode into maxHamming+1 band keys, candidates " +
      "come from an equi hash join on (band, bits, lang), and only " +
      "candidate pairs pay the hamming verification — no join keyed on " +
      "the language block alone, so one billions-row language at web " +
      "scale never becomes a |block|-quadratic self-join."),
    "d_semdedup" -> ("SemDeDup semantic dedup: k-means training and cell " +
      "assignment broadcast-cross the corpus with the k-row centroid " +
      "table (the IVF pattern), the within-cell near-dup pairs hash-join " +
      "on cid — learned-cluster blocking holds the pair term at ~N^1.5 " +
      "with sqrt(N) cells."),
    "t_chunk" -> ("Overlapping token-window chunking: one shuffle-free " +
      "Generate (explode of a per-row bounded sequence) + slice/" +
      "array_join inside the scan's codegen span — RAG chunking at " +
      "scan speed, output bounded at size/stride times the input."),
    "t_dsir" -> ("DSIR importance scoring: two bucket-count shuffles " +
      "(bounded at nBuckets rows each), totals as window sums over the " +
      "bounded weight table itself, and the weight table broadcast onto " +
      "the feature stream — exactly 3 corpus scans, pinned."),
    "t_bpe_seg" -> ("BPE segmentation with learned merges: the 12-rule " +
      "replace chain folds into ONE codegen'd projection over the scan " +
      "(training collected its bounded rule table beforehand) — zero " +
      "exchanges, zero joins; corpus-wide token costing at scan speed."),
    "ev_seqsim" -> ("Behavior-sequence similarity top-k: ONE ragged-build " +
      "shuffle (ordered collect_list) shared by every consumer — the " +
      "(uid, nsh, g) frame's distinct() makes all three columns grouping " +
      "keys pruning cannot remove, so the df-cap branch and both " +
      "self-join sides are ReusedExchange; pair aggregate carries nsh as " +
      "a grouping key, per-entity bounded heap, never all-pairs."),
    "ev_seqsim_banded" -> ("The LSH face of sequence similarity: minhash " +
      "signatures over the shared gram frame, band-bucket equi-join " +
      "candidates (r=4 rows/band — the measured sf5 geometry), exact " +
      "set-intersect verification only on survivors."),
    "sim_sq8" -> ("SQ8 scalar-quantization ANN: per-dimension ranges as " +
      "a 1-row broadcast, half-up 8-bit codes, float64 queries against " +
      "the dequantized corpus through the shared bounded-heap tail."),
    "t_nbayes" -> ("Naive Bayes classification: tok-keyed likelihood " +
      "table shared with its totals branch by ReuseExchange, priors and " +
      "vocab size as broadcast 1-row aggregates, integer-quantized " +
      "log terms so the argmax is reduction-order-free."),
    "ev_funnel" -> ("Windowed conversion funnel: ONE corpus scan into " +
      "one ragged-build shuffle (ordered collect_list), the stage " +
      "matching as a row-local codegen'd fold carrying (depth, " +
      "matched-ts) state, and every later aggregate/window over the " +
      "bounded #stages-row frame — the k-self-join spelling would pay " +
      "k corpus scans."),
    "ev_retention" -> ("Cohort retention: min-cohort and distinct active " +
      "periods computed in the SAME per-entity aggregate (one corpus " +
      "shuffle, pinned single-scan), explode + second aggregate bounded " +
      "by periods^2 cells, retained-share window over that bounded " +
      "frame."),
    "ev_transitions" -> ("Markov transition matrix: one window lead pass " +
      "partitioned per entity (parallel across users), aggregate over " +
      "the bounded #types^2 pair domain, per-src normalization windows " +
      "over that same bounded frame."),
    "ev_sessionize" -> ("Gap sessionization as a per-event primitive: " +
      "lag + running cumsum in ONE per-entity window pass (both run in " +
      "the same sort, no second exchange), session-level aggregate on " +
      "the already-clustered frame."),
    "t_gopher" -> ("The full Gopher Appendix-A quality filter: all " +
      "seven rules evaluate as integer cross-multiplications inside " +
      "one map-only projection over the scan — zero exchanges, " +
      "corpus-wide filtering at scan speed."),
    "d_containment" -> ("Asymmetric containment pairs: the d_ngram " +
      "inverted-index join produces UNORDERED pairs once; both " +
      "orientations and their per-direction thresholds derive from the " +
      "tiny surviving pair frame — the corpus never pays twice."),
    "q_pagerank" -> ("Six PageRank power iterations as ONE lazy plan: " +
      "the dangling-free path references the previous rank frame once " +
      "per round (linear lineage — the dangling-aware form doubles it " +
      "per round), and the byte-identical edges join subtree is planned " +
      "once with ReusedExchange serving rounds 2-6; integer fixed-point " +
      "ranks make the result partitioning-independent."),
    "q_triangles" -> ("Degree-ordered triangle closure with an adaptive " +
      "plan: the canonical edge set is checkpointed once (its count is " +
      "the free plan-pick probe); below the edge threshold each " +
      "oriented edge intersects two broadcast adjacency lists " +
      "row-locally, so the sum(outdeg^2) wedge stream never exists as " +
      "rows — above it, shuffled-hash wedge joins keep the O(m^1.5) " +
      "bound partition-parallel."),
    "q_labelprop" -> ("Three synchronized label-propagation rounds: " +
      "each round is one edge-sized src-keyed join + a (dst,label) " +
      "map-side-partial aggregate + a node-sized max_by argmax; the " +
      "label frame re-checkpoints per round so the carry-forward " +
      "full-join cannot double the lineage."),
    "sim_rrf" -> ("Hybrid retrieval fusion: the dense leg broadcast-" +
      "crosses the 10-query set (bruteForceTopK's bounded-heap top-k), " +
      "the lexical leg probes the corpus postings with broadcast query " +
      "postings; fusion unions two #queries x k frames and aggregates — " +
      "the heavy work never leaves the legs."),
    "io_incragg" -> ("Materialized-view refresh: history state comes " +
      "from a parquet scan of stored partial aggregates, only the " +
      "delta batch is re-aggregated, and the merge shuffles state rows " +
      "(group-cardinality), not the corpus."),
    "ev_anomaly" -> ("Robust daily anomaly detection: one corpus scan " +
      "into the map-side-combined (entity, day) count shuffle, then " +
      "median AND MAD as two whole-partition Window aggregates sharing " +
      "ONE entity exchange — the join-based median/MAD spelling would " +
      "re-run the day-count aggregate per consumer."),
    "ev_ewma" -> ("Per-entity EWMA: row_number, per-entity count, and " +
      "the ordered running sum all ride ONE exchange + one sort; the " +
      "closed-form decay terms stay inside the projection's codegen — " +
      "no recursion, no per-row UDF, one pass."),
    "ev_markov" -> ("Markov attribution: journey truncation and both " +
      "transition feeds (steps + DROP ends) share the same per-entity " +
      "window sort; the only other shuffle is the bounded " +
      "(types+1)^2 transition aggregate — the chain solve never " +
      "touches the corpus."),
    "t_wsample" -> ("Sequential Poisson weighted sampling: priorities " +
      "computed inside the scan's codegen span, then " +
      "TakeOrderedAndProject — per-partition k-heaps and one k-row " +
      "merge; the corpus is never globally sorted or shuffled."),
    "mm_neardup_c" -> ("Clone-safe perceptual near-dup: decode + dHash " +
      "map-only, identical hashes collapse to representatives in one " +
      "groupBy, and the banded Hamming join runs over representatives " +
      "— output linear in distinct hashes under any duplication."),
    "str_linkage" -> ("Fuzzy record linkage: brand-blocked equi hash " +
      "join (never all-pairs across blocks) with the Jaro-Winkler " +
      "kernel evaluated inside whole-stage codegen on each candidate " +
      "pair."),
    "q_kcore" -> ("k-core peel (the printed plan is the FINAL degree " +
      "aggregate over the converged edge frame — each preceding round " +
      "was one edge-sized map-side-partial degree aggregate + two " +
      "node-sized semi-joins, re-checkpointed so lineage stays flat " +
      "per round; convergence check reads the checkpointed blocks, " +
      "never recomputes)."),
    "r_quantiles" -> ("Exact quantiles WITHOUT a global sort: the plan " +
      "is one filtered scan per bisection round (<= 7 total) into a " +
      "(prob, bucket) map-side-partial count aggregate — the only " +
      "exchange carries <= probs*2^13 count rows, the corpus is never " +
      "shuffled, and each round's BETWEEN refilter is parquet-" +
      "prunable."),
    "str_nfc" -> ("Unicode NFC normalization: one codegen'd map-only " +
      "projection over the scan (UnicodeNormalize static-call pattern, " +
      "isNormalized fast path) — zero exchanges; normalize-before-hash " +
      "at scan speed."),
    "t_prcurve" -> ("Precision/recall threshold sweep: one corpus-" +
      "sized map-side-combined aggregate collapses to the distinct-" +
      "score frame; the descending cumulative is a two-level scan " +
      "(range-partition + local window + broadcast offsets) — the " +
      "only unpartitioned window runs on one row per range " +
      "partition."),
    "r_quantiles_grp" -> ("Per-group exact quantile_disc through the " +
      "two-level rank: range-partition by (group, value) so a hot " +
      "group SPANS partitions, partition-local row_number, and the " +
      "per-(partition, group) offset cumulative runs partitioned BY " +
      "GROUP over <= #partitions rows — no single-task group, no " +
      "per-group value buffering."))

  def main(args: Array[String]): Unit = {
    val spark = graft.core.SessionConfigs.local(4)
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = new StringBuilder
    out ++= "# Plan gallery\n\n"
    out ++= "Formatted physical plans of the headline queries at sf0.001 "
    out ++= "(regenerate: `sbt \"runMain graft.tools.PlanGallery\"`). "
    out ++= "PlanQualitySpec asserts these shapes; this file shows them.\n"
    curated.foreach { case (name, note) =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      out ++= s"\n## $name\n\n$note\n\n```\n"
      out ++= df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      out ++= "```\n"
    }
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PLANS.md"), out.toString)
    println(s"wrote docs/PLANS.md (${curated.size} plans)")
    spark.stop()
  }
}
