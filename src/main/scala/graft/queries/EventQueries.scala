package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Event-time wave over `events`: tumbling/hopping windows, gap-based
  * sessionization, typed JSON extraction. These run here as batch queries
  * (oracle-checkable); `graft.streaming` runs the same logic as a real
  * Structured Streaming job (ScalaTest, memory sink) — the reference has no
  * streaming at all (SURVEY §2.11), so this is a Spark-native extension.
  */
object EventQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // behavior-sequence similarity search (graft.similarity
    // .sequenceJaccardTopK): top-3 most similar users by transition-
    // bigram Jaccard over their time-ordered action sequences — inverted
    // n-gram index + bounded heap, never all-pairs. Token granularity is
    // the operator's documented contract made concrete: the bare 5-type
    // alphabet saturates every posting list (0 rows at sf1's 1,500
    // users), per-unit value buckets are too discriminative for random
    // sequences (0 rows at 150 users); event_type + a capped value
    // decade (~50 tokens, bigram space 2.5k) yields full coverage with
    // discriminative scores (450 rows, avg jac 0.13 at sf0.01).
    // (event_id breaks timestamp ties deterministically; the raw
    // inter/union double ranks identically in both engines.)
    "ev_seqsim" -> { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("tok",
        concat(col("event_type"), lit(":"),
          least(floor(col("value") / 25), lit(9.0)).cast("long")))
      graft.similarity.sequenceJaccardTopK(ev,
          "user_id", "ts", "tok", "event_id", n = 2, k = 3)
        .select(col("user_id"), col("rank"), col("nid"),
          round(col("jac"), 4).as("jac"))
    },
    // the LSH-banded face of the same search (graft.similarity
    // .sequenceJaccardTopKBanded): MinHash the bigram sets (8 polyHash
    // lanes — the replayable d_minhash convention), band 4x4, candidate
    // pairs from band-bucket collisions, EXACT Jaccard verify on
    // survivors. Deterministic end to end, so the full pipeline —
    // signatures, band keys, candidate join, set-intersect verify,
    // bounded-heap top-k — replays in DuckDB (rows+schema+hash graded,
    // not recall-bounded). Band geometry is r=4 rows/band, MEASURED at
    // sf5 (SCALE_SOAK round 8): r=2 band keys collide at the corpus's
    // ~0.2 background jaccard (s^2 = 4% per band) and generate 127M
    // candidate pairs from 75k users — the verify join spills to death —
    // while r=4 at 16 lanes / 4 bands yields 15.5M with a 350-row max
    // bucket (and 8/2 r=4 keeps only 2 rows at the graded sf0.01 —
    // 4 bands restores usable recall at the same per-band selectivity).
    // The exact-vs-banded differential and the dense-posting crossover
    // live in DedupSimilaritySpec.
    "ev_seqsim_banded" -> { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("tok",
        concat(col("event_type"), lit(":"),
          least(floor(col("value") / 25), lit(9.0)).cast("long")))
      graft.similarity.sequenceJaccardTopKBanded(ev,
          "user_id", "ts", "tok", "event_id", n = 2, k = 3,
          numHashes = 16, bands = 4, poly = true)
        .select(col("user_id"), col("rank"), col("nid"),
          round(col("jac"), 4).as("jac"))
    },
    // ordered funnel analysis (graft.operators.Funnel): per-user depth
    // through view -> click -> purchase in strict event-time order with
    // a 6-hour conversion window between consecutive stages (one ragged
    // build + a row-local greedy fold carrying (depth, matched-ts)
    // state), rolled up to the per-depth report with cumulative reached
    // counts and integer-quantized conversion shares
    "ev_funnel" -> { (s, dir) =>
      graft.operators.Funnel.funnelReport(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"),
        windowUs = Some(6L * 3600 * 1000000))
    },
    // daily cohort retention over purchase activity
    // (graft.operators.Retention): cohort = day of first purchase; per
    // (cohort, day offset) active counts + integer-quantized retained
    // share. Two shuffles; the share window runs over the bounded
    // days^2 frame
    "ev_retention" -> { (s, dir) =>
      graft.operators.Retention.cohortRetention(
        Tables.events(s, dir).filter(col("event_type") === "purchase"),
        "user_id", "ts", grain = "day")
    },
    // first-order Markov transition matrix over per-user event-type
    // sequences ((ts, event_id)-ordered lead, one window pass + one
    // bounded #types^2 aggregate), probabilities integer-quantized
    "ev_transitions" -> { (s, dir) =>
      graft.operators.Retention.transitionMatrix(
        Tables.events(s, dir), "user_id", "ts", "event_id", "event_type")
    },
    // top-10 3-step user journeys: per-user ordered leads, bounded
    // #types^3 path aggregate, path-string tiebreak top-k
    "ev_paths" -> { (s, dir) =>
      graft.operators.Retention.topPaths(
        Tables.events(s, dir), "user_id", "ts", "event_id", "event_type")
    },
    // time-to-convert report (Funnel.funnelStageTimes): per stage
    // transition, how many entities converted and the integer-quantized
    // avg/min/max seconds between the matched events — the other half
    // of a funnel UI. Same windowed fold, state = matched-times array
    "ev_funnel_times" -> { (s, dir) =>
      val times = graft.operators.Funnel.funnelStageTimes(
        Tables.events(s, dir), "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"),
        windowUs = Some(6L * 3600 * 1000000))
      val pairs = Seq(("view>click", "s1_us", "s2_us"),
        ("click>purchase", "s2_us", "s3_us"))
      pairs.map { case (tag, a, b) =>
        times.filter(col(b).isNotNull)
          .select(lit(tag).as("step"), (col(b) - col(a)).as("gap"))
      }.reduce(_ unionByName _)
        .groupBy(col("step"))
        .agg(count(lit(1)).as("n_conv"),
          expr("sum(gap) DIV (count(1) * 1000000)").as("avg_gap_sec"),
          expr("min(gap) DIV 1000000").as("min_gap_sec"),
          expr("max(gap) DIV 1000000").as("max_gap_sec"))
    },
    // the composition the sessionize PRIMITIVE exists for: the same
    // funnel report, evaluated per (user, 6h-gap session) via a
    // composite entity id — no new operator code, just sessionize |>
    // funnelReport
    "ev_funnel_sessions" -> { (s, dir) =>
      val sess = graft.operators.Retention.sessionize(
          Tables.events(s, dir), "user_id", "ts", "event_id",
          gapUs = 6L * 3600 * 1000000)
        .withColumn("sid", col("user_id") * 1000000L + col("session_id"))
      graft.operators.Funnel.funnelReport(sess, "sid", "ts", "event_id",
        "event_type", Seq("view", "click", "purchase"))
    },
    // experiment analysis (graft.operators.Experiment.abTestMetrics):
    // three conversion metrics (any purchase / any click / any
    // high-value event) z-tested across a deterministic user_id%2 arm
    // split in ONE corpus scan — per-entity flags fold map-side, the
    // arm rollup is 1 row, the unpivot emits one report row per metric
    "ev_abtest" -> { (s, dir) =>
      graft.operators.Experiment.abTestMetrics(Tables.events(s, dir),
        "user_id", col("user_id"),
        Seq("purchase" -> (col("event_type") === "purchase"),
          "click" -> (col("event_type") === "click"),
          "highval" -> (col("value") > 90)))
    },
    // Markov-chain multi-touch attribution (Attribution
    // .markovRemovalEffects): transition matrix from per-user journeys
    // truncated at first purchase, then each channel's removal effect on
    // the START->conversion fixed point. All fixed-point ppb integers —
    // the oracle replays the journeys, the matrix, and all 15 unrolled
    // power rounds per knockout variant (the q_pagerank discipline)
    "ev_markov" -> { (s, dir) =>
      graft.operators.Attribution.markovRemovalEffects(
        Tables.events(s, dir), "user_id", "ts", "event_id", "event_type",
        convType = "purchase", iters = 15)
    },
    // RFM segmentation (graft.operators.Rfm.rfmSegments): per-user
    // recency/frequency/monetary quintiles packed into the classic
    // three-digit code. Quintiles come from the two-level global rank
    // over the ENTITY frame — never the textbook single-task
    // ntile-over-everything window; monetary is exact integer micros
    "ev_rfm" -> { (s, dir) =>
      graft.operators.Rfm.rfmSegments(Tables.events(s, dir),
        "user_id", "ts", col("value"))
    },
    // robust per-user daily anomaly detection (Timeseries.dailyAnomalies):
    // median/MAD z-score over daily event counts — flags burst/dropout
    // days without letting the burst inflate its own yardstick. z=1.2
    // because the synthetic corpus is near-uniform (MAD ~0.5 day-to-day);
    // a real corpus runs the conventional 3.5. The threshold test is
    // integer×integer (medians of integer counts are exact halves/
    // quarters, scaled ×2/×4) — no double division anywhere.
    "ev_anomaly" -> { (s, dir) =>
      graft.operators.Timeseries.dailyAnomalies(
          Tables.events(s, dir), "user_id", "ts", z = 1.2)
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd")
          .as("day"), col("cnt"), col("med_x2"), col("mad_x4"),
          col("dev_sign"))
    },
    // per-user EWMA of event value over event order (Timeseries.ewma,
    // α=1/8): the closed-form weighted sum folded in ONE ordered running-
    // sum frame — the addition sequence is identical cross-engine, and
    // pow(0.875, n) is bit-exact Java-vs-libm (pinned in TimeseriesSpec),
    // so the double EWMA replays hash-exact even before the micro floor
    "ev_ewma" -> { (s, dir) =>
      graft.operators.Timeseries.ewma(Tables.events(s, dir),
        "user_id", "ts", "event_id", "value", alpha = 0.125)
    },
    // one-sided CUSUM changepoint detection per user
    // (graft.operators.Timeseries.cusum): drift 60.00, threshold 500.00
    // in centi-units (14/150 users alarm at sf0.01 — discriminative,
    // not vacuous). The recursion runs as prefix-sum + running-min
    // windows, integer-exact
    "ev_cusum" -> { (s, dir) =>
      graft.operators.Timeseries.cusum(Tables.events(s, dir),
        "user_id", "ts", "event_id", "value",
        driftCenti = 6000L, thresholdCenti = 50000L)
    },
    // gaps-and-islands interval merge (graft.operators.Timeseries
    // .mergeIntervals): each event opens a 4-hour interval; per-user
    // overlapping/touching intervals coalesce via the running-max-of-
    // ends window closed form. Island-level report, epoch-seconds exact
    "ev_islands" -> { (s, dir) =>
      graft.operators.Timeseries.mergeIntervals(Tables.events(s, dir),
        "user_id", "ts", "event_id", spanUs = 4L * 3600 * 1000000)
    },
    // classical additive seasonal decomposition of the hourly corpus
    // count series (graft.operators.Timeseries.seasonalDecompose):
    // 2x24 centered-MA trend, per-hour-of-day seasonal mean, residual —
    // all in exact scaled integers (48ths / micro-48ths)
    "ev_decompose" -> { (s, dir) =>
      graft.operators.Timeseries.seasonalDecompose(
        Tables.events(s, dir), "ts", period = 24)
    },
    // seasonal-naive MASE backtest (graft.operators.Timeseries
    // .seasonalNaiveBacktest): last-week holdout, integer |err| sums,
    // one IEEE division for the ratio
    "ev_mase" -> { (s, dir) =>
      graft.operators.Timeseries.seasonalNaiveBacktest(
        Tables.events(s, dir), "ts", period = 24, holdout = 168)
    },
    // per-user daily ML feature frame (graft.operators.Timeseries
    // .activityFeatures): calendar-exact lag, trailing-7-day RANGE
    // sums, recency — all exact integers
    "ev_features" -> { (s, dir) =>
      graft.operators.Timeseries.activityFeatures(
        Tables.events(s, dir), "user_id", "ts", "value")
    },
    // position-based (U-shaped) multi-touch attribution
    // (graft.operators.Attribution.positionBasedAttribution): 40/20/40
    // credit in exact integer micros over purchase-delimited segments
    "ev_position" -> { (s, dir) =>
      graft.operators.Attribution.positionBasedAttribution(
        Tables.events(s, dir), "user_id", "ts", "event_id",
        "event_type", "purchase")
    },
    // per-day KS drift of the centi-quantized value distribution vs the
    // whole corpus (graft.operators.Experiment.ksDriftByPeriod): sup
    // over the exact (periods x support) grid, integer numerators
    "ev_drift" -> { (s, dir) =>
      graft.operators.Experiment.ksDriftByPeriod(
        Tables.events(s, dir), "ts",
        floor(col("value").cast("double") * 100))
    },
    // chi-square independence: event mix vs the user_id%2 assignment arm
    // (graft.operators.Experiment.chiSquare) — bounded cell domain,
    // per-cell micro contributions floor-quantized before any sum
    "ev_chisq" -> { (s, dir) =>
      graft.operators.Experiment.chiSquare(
        Tables.events(s, dir).filter(col("user_id").isNotNull),
        col("event_type"), pmod(col("user_id"), lit(2L)))
    },
    // gap-based sessionization primitive (30-minute gap): the graded
    // output is session-level — per (user, session) event count and
    // whole-second duration — proving the per-event assignment exactly
    "ev_sessionize" -> { (s, dir) =>
      graft.operators.Retention.sessionize(
          Tables.events(s, dir), "user_id", "ts", "event_id",
          gapUs = 30L * 60 * 1000000)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          expr("(unix_micros(max(ts)) - unix_micros(min(ts))) DIV 1000000")
            .as("dur_sec"))
    },

    // 5-minute tumbling window aggregation (the Structured Streaming
    // groupBy(window(...)) shape, executed on a batch frame)
    "st_tumbling" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("ws"), col("event_type"),
          col("n"), col("sum_value"))
    },

    // 10-minute windows sliding every 5 minutes (each event in 2 windows)
    "st_hopping" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("w.start")).as("ws"), col("n"))
    },

    // gap-based sessionization via the native session_window operator
    "st_sessions" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          max(col("n_events")).as("max_session"))
    },

    // as-of join: each event annotated with the user's most recent
    // purchase value at-or-before its timestamp (graft.operators.AsofJoin;
    // DuckDB mirrors with native ASOF JOIN)
    "ev_asof" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      // unique (user, ts) on the right side => deterministic in any engine
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsofJoin.asofJoinLast(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          purchases, "user_id", "ts", Seq("pval"))
        .groupBy(col("user_id"))
        .agg(count(when(col("asof_pval").isNotNull, 1)).as("n_matched"),
          round(sum(col("asof_pval")), 2).as("sum_asof"))
    },
    // as-of with a 6-hour match tolerance (the pandas merge_asof
    // tolerance= knob): matches further back than the tolerance null
    // out, same single-shuffle union+window plan
    "ev_asof_tol" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsofJoin.asofJoinTolerance(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          purchases, "user_id", "ts", Seq("pval"),
          toleranceUs = 6L * 3600 * 1000000)
        .groupBy(col("user_id"))
        .agg(count(when(col("asof_pval").isNotNull, 1)).as("n_matched"),
          round(sum(col("asof_pval")), 2).as("sum_asof"))
    },

    // salted as-of: same semantics/oracle as ev_asof through the skew-safe
    // (key, time-bucket) two-phase form — the graded face of the variant
    // that fans a hot key's timeline across tasks (5x over the plain form
    // at 20M rows 90%-one-key, docs/SCALE_SOAK.md)
    "ev_asof_salted" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsofJoin.asofJoinSalted(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          purchases, "user_id", "ts", Seq("pval"))
        .groupBy(col("user_id"))
        .agg(count(when(col("asof_pval").isNotNull, 1)).as("n_matched"),
          round(sum(col("asof_pval")), 2).as("sum_asof"))
    },

    // scalar as-of lookup: same semantics/oracle as ev_asof through the
    // AsofLookup kernel — the batch face of the stream-static enrichment
    // (streamingAsofEnrich); zero shuffle before the aggregate
    "ev_asof_lookup" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.streaming.Streaming.streamingAsofEnrich(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          purchases, "user_id", "ts", "pval")
        .groupBy(col("user_id"))
        .agg(count(when(col("asof_pval").isNotNull, 1)).as("n_matched"),
          round(sum(col("asof_pval")), 2).as("sum_asof"))
    },

    // broadcast as-of: same semantics/oracle as ev_asof, through the same
    // AsofLookup table and kernel as ev_asof_lookup — the fact side is
    // never shuffled (plan asserted Exchange-free in OperatorsSpec, one
    // projection with no RDD in PlanQualitySpec)
    "ev_asof_bcast" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsofJoin.asofJoinBroadcast(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          purchases, "user_id", "ts", Seq("pval"))
        .groupBy(col("user_id"))
        .agg(count(when(col("asof_pval").isNotNull, 1)).as("n_matched"),
          round(sum(col("asof_pval")), 2).as("sum_asof"))
    },

    // forward as-of: the user's NEXT purchase at-or-after each event
    // (direction="forward"; DuckDB mirrors with ASOF ... ON l.ts <= p.ts)
    "ev_asof_fwd" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsofJoin.asofJoin(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          purchases, "user_id", "ts", Seq("pval"), "forward")
        .groupBy(col("user_id"))
        .agg(count(when(col("asof_pval").isNotNull, 1)).as("n_matched"),
          round(sum(col("asof_pval")), 2).as("sum_asof"))
    },

    // nearest as-of: whichever purchase is closer in time, ties backward
    // (pandas merge_asof convention; oracle composes DuckDB's two ASOF
    // directions and picks per-row)
    "ev_asof_near" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsofJoin.asofJoin(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          purchases, "user_id", "ts", Seq("pval"), "nearest")
        .groupBy(col("user_id"))
        .agg(count(when(col("asof_pval").isNotNull, 1)).as("n_matched"),
          round(sum(col("asof_pval")), 2).as("sum_asof"))
    },

    // same as-of semantics through the NATIVE planner operator
    // (graft.plans.AsofJoinPlan -> AsofJoinExec: hash-clustered children,
    // one streaming merge per partition) — same oracle as ev_asof
    "ev_asof_native" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsofJoin.asofJoinNative(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          purchases, "user_id", "ts", Seq("pval"))
        .groupBy(col("user_id"))
        .agg(count(when(col("asof_pval").isNotNull, 1)).as("n_matched"),
          round(sum(col("asof_pval")), 2).as("sum_asof"))
    },

    // batch face of keyed streaming dedup (Streaming.dedupedByKey /
    // dropDuplicatesWithinWatermark): per dedup key, the duplicate count
    // and the first occurrence — "first" decided by (ts, event_id)
    // lexicographic min, so the answer is arrival-order-independent even
    // though a streaming run's *kept row* is first-arrival. One shuffle;
    // min(struct) keeps the agg a single bounded map-side combine.
    "st_dedup" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n_dupes"),
          min(struct(col("ts"), col("event_id"))).as("f"))
        .select(col("user_id"), col("event_type"), col("n_dupes"),
          unix_timestamp(col("f.ts")).as("first_ts"),
          col("f.event_id").as("first_eid"))
    },

    // late-data audit (Streaming.lateDataAudit): replay of the watermark
    // drop rule — watermark = max event time of completed batches - 10
    // min; per 5-minute event-time window the kept aggregate streaming
    // would emit PLUS the late-drop counts it never shows. The one
    // streaming behavior that previously had no graded batch-parity face.
    // Arrival order is event_id DISPLACED by a deterministic +-500-slot
    // shard jitter before batching by 1000: the events table is generated
    // in time order, so undisplaced arrival has zero late rows (verified)
    // and the audit would grade vacuously — the jitter models multi-shard
    // ingestion where a slow shard delivers old events after fast shards
    // advanced the watermark. Integer-only and clamped at 0 so Spark's
    // DIV (toward zero) and DuckDB's // (floor) agree.
    "st_late" -> { (s, dir) =>
      graft.streaming.Streaming.lateDataAudit(Tables.events(s, dir),
        expr("greatest(event_id + (((event_id % 97) * 37) % 21 - 10) * 50, 0) DIV 1000"),
        col("ts"), col("value"))
    },

    // batch face of Streaming.valueAlerts (flatMapGroupsWithState
    // threshold alerting) — the last streaming behavior without a graded
    // face: with the canonical (ts, event_id) processing order, the
    // state machine's emissions are exactly the rows where the per-user
    // cumulative value crosses a multiple of the step. Replayed in exact
    // centi-int64 (a running DOUBLE sum would hash-diverge: DuckDB's
    // segment-tree window re-associates additions); the floor-division
    // is spelled sign-safely via pmod so Spark's truncating DIV matches
    // DuckDB's flooring // on any value domain. Streaming parity (same
    // emissions under in-order arrival) is pinned in ModulesSpec.
    "st_alerts" -> { (s, dir) =>
      graft.streaming.Streaming.thresholdAlertsReplay(Tables.events(s, dir))
    },

    // stream-stream interval-join audit (Streaming.intervalJoinAudit):
    // exact micro-batch replay of purchaseAttribution under the st_late
    // displaced-arrival model — per purchase, the matches the streaming
    // join emits AND the ones it misses to the late-input drop (the
    // min-of-sides watermark contract pinned against real MemoryStream
    // runs in ModulesSpec/IjoinProbeSpec, equality-drops included)
    "st_ijoin" -> { (s, dir) =>
      graft.streaming.Streaming.intervalJoinAudit(Tables.events(s, dir),
        expr("greatest(event_id + (((event_id % 97) * 37) % 21 - 10) * 50, 0) DIV 1000"))
    },

    // LEFT-OUTER face of the stream-stream interval join
    // (Streaming.intervalJoinOuterAudit): same displaced-arrival model
    // as st_ijoin, plus the eviction-emission contract measured in
    // IjoinProbeSpec — outer_null says whether the streaming run ever
    // emits the "no clicks" null row for this purchase (strict p < W on
    // the FINAL min-of-sides watermark; never while a side is absent).
    // n_ideal > 0 with outer_null = 1 is the poisoned case the audit
    // surfaces: the stream actively reports "no attributable click" for
    // a purchase that ideally had some.
    "st_ijoin_outer" -> { (s, dir) =>
      graft.streaming.Streaming.intervalJoinOuterAudit(Tables.events(s, dir),
        expr("greatest(event_id + (((event_id % 97) * 37) % 21 - 10) * 50, 0) DIV 1000"))
    },

    // CANONICAL-ORDER face of the stateful simhash near-dup filter
    // (Streaming.nearDupFilterCanonical, r11 verdict Next #5): the same
    // per-block greedy state machine as streamingNearDupFilter, run
    // under the DEFINED ascending-id arrival order — per-doc rows, full
    // DuckDB oracle (recursive state-machine replay over the dumped
    // aux_neardup_sigs signatures). Streaming parity (real
    // flatMapGroupsWithState run, one doc per micro-batch in id order,
    // identical rows) is pinned in ModulesSpec; arrival-order-dependence
    // is thereby confined to the live stream, never the graded surface.
    "st_neardup" -> { (s, dir) =>
      graft.streaming.Streaming.nearDupFilterCanonical(
          Tables.documents(s, dir), "doc_id", "text")
        .toDF("id", "dup_of", "dist")
    },

    // interval-join attribution (the batch face of
    // graft.streaming.Streaming.purchaseAttribution): each purchase joined
    // to the same user's clicks in the preceding 10 minutes — the
    // stream-stream join whose time bound keeps state finite
    "st_attrib" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("cts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      purchases.join(clicks,
          col("user_id") === col("cu") && col("cts") <= col("ts") &&
            col("cts") >= col("ts") - expr("INTERVAL 10 MINUTES"), "left")
        .groupBy(col("user_id"))
        .agg(countDistinct(col("event_id")).as("n_purchases"),
          count(col("cu")).as("n_clicks_attributed"))
    },

    // point-in-interval range join (graft.operators.RangeJoin): every event
    // within ±5 minutes of a high-value purchase. A bare BETWEEN join would
    // plan as a nested loop; RangeJoinRewrite's bucket equi-key keeps it a
    // hash join.
    "ev_range" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val intervals = ev
        .filter(col("event_type") === "purchase" && col("value") > 200)
        .select(col("event_id").as("pid"),
          (col("ts") - expr("INTERVAL 5 MINUTES")).as("istart"),
          (col("ts") + expr("INTERVAL 5 MINUTES")).as("iend"))
      graft.operators.RangeJoin.pointInInterval(
          ev.select(col("event_id"), col("event_type"), col("ts")),
          intervals, "ts", "istart", "iend", bucketWidth = 300L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("event_id")).as("n_events"))
    },

    // interval-overlap join (RangeJoin.intervalOverlap): which high-value
    // purchase windows overlap an error burst window — RangeJoinRewrite
    // explodes both sides to buckets and keeps exactly one copy per
    // overlapping pair (no distinct pass)
    "ev_overlap" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev
        .filter(col("event_type") === "purchase" && col("value") > 200)
        .select(col("event_id").as("pid"),
          (col("ts") - expr("INTERVAL 5 MINUTES")).as("pstart"),
          (col("ts") + expr("INTERVAL 5 MINUTES")).as("pend"))
      val errors = ev
        .filter(col("event_type") === "error" && col("value") > 150)
        .select(col("event_id").as("eid"),
          (col("ts") - expr("INTERVAL 3 MINUTES")).as("estart"),
          (col("ts") + expr("INTERVAL 3 MINUTES")).as("eend"))
      graft.operators.RangeJoin.intervalOverlap(
          purchases, errors, "pstart", "pend", "estart", "eend",
          bucketWidth = 300L)
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("pid")).as("n_purchases"),
          countDistinct(col("eid")).as("n_errors"))
    },

    // typed JSON field extraction with from_json (schema'd parse, not just
    // path extraction as in ev_json)
    "st_json_typed" -> { (s, dir) =>
      val schema = "k INT"
      Tables.events(s, dir)
        .select(col("user_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL(schema))
            .getField("k").as("k"))
        .groupBy(col("user_id"))
        .agg(sum(col("k")).cast("long").as("sum_k"),
          count(when(col("k").isNull, 1)).as("n_null"))
    })

  // same polyHash / coefficient literals as DedupQueries' minhash oracles
  // (HashExprs.minHashCoefficients is the single source of truth)
  private val POLY = """list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(string_split_regex(w, ''), c -> CAST(ascii(c) AS BIGINT))), (a, b) -> (a * 131 + b) % 1000000007)"""

  /** ev_markov replay: journeys -> integer-ppb transition matrix -> K
    * unrolled fixed-point power rounds per knockout variant (base + one
    * per channel), exactly mirroring Attribution.markovRemovalEffects'
    * per-term (p·w) DIV 1e9 arithmetic. Channel list is the corpus's
    * stable event alphabet minus the conversion type. */
  private def markovOracle(iters: Int, channels: Seq[String]): String = {
    val base =
      """ev AS (SELECT user_id AS ent, ts, event_id AS tie, event_type AS t FROM events WHERE user_id IS NOT NULL), w1 AS (SELECT ent, t, row_number() OVER (PARTITION BY ent ORDER BY ts, tie) AS pos FROM ev), w2 AS (SELECT ent, t, pos, min(CASE WHEN t = 'purchase' THEN pos END) OVER (PARTITION BY ent) AS cpos FROM w1), f AS MATERIALIZED (SELECT ent, t, pos, cpos FROM w2 WHERE cpos IS NULL OR pos <= cpos), j AS (SELECT ent, t, pos, cpos, max(pos) OVER (PARTITION BY ent) AS mpos FROM f), steps AS (SELECT coalesce(lag(t) OVER (PARTITION BY ent ORDER BY pos), 'START') AS src, t AS dst FROM f), ends AS (SELECT t AS src, 'DROP' AS dst FROM j WHERE cpos IS NULL AND pos = mpos), c AS (SELECT src, dst, count(*) AS n FROM (SELECT * FROM steps UNION ALL SELECT * FROM ends) u GROUP BY 1, 2), rs AS (SELECT src, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1), p AS MATERIALIZED (SELECT c.src, c.dst, (c.n * 1000000000) // rs.tot AS pr FROM c JOIN rs ON rs.src = c.src), st AS MATERIALIZED (SELECT DISTINCT src AS state FROM p)"""
    def rounds(tag: String, removed: Option[String]): String = {
      val init = s"v0_$tag AS (SELECT state, CAST(0 AS BIGINT) AS v FROM st)"
      val steps = (1 to iters).map { i =>
        val remDst = removed.map(r =>
          s"WHEN p.dst = '$r' THEN 0 ").getOrElse("")
        val body = s"coalesce((" +
          s"SELECT CAST(sum((p.pr * (CASE WHEN p.dst = 'purchase' THEN 1000000000 ${remDst}ELSE coalesce(vp.v, 0) END)) // 1000000000) AS BIGINT) " +
          s"FROM p LEFT JOIN v${i - 1}_$tag vp ON vp.state = p.dst WHERE p.src = s.state), 0)"
        val v = removed match {
          case Some(r) =>
            s"CASE WHEN s.state = '$r' THEN CAST(0 AS BIGINT) ELSE $body END"
          case None => body
        }
        s"v${i}_$tag AS (SELECT s.state, $v AS v FROM st s)"
      }
      (init +: steps).mkString(", ")
    }
    val allRounds = rounds("base", None) + ", " +
      channels.map(c => rounds(c, Some(c))).mkString(", ")
    val fin = channels.map(c =>
      s"SELECT '$c' AS channel, (SELECT v FROM v${iters}_$c WHERE state = 'START') AS rem")
      .mkString(" UNION ALL ")
    s"WITH $base, $allRounds, bb AS (SELECT v FROM v${iters}_base WHERE state = 'START'), fin AS ($fin) " +
      "SELECT channel, (SELECT v FROM bb) AS conv_ppb, rem AS conv_removed_ppb, " +
      "CASE WHEN (SELECT v FROM bb) = 0 THEN 0 ELSE ((SELECT v FROM bb) - rem) * 1000000 // (SELECT v FROM bb) END AS removal_ppm FROM fin"
  }
  private val (mhA, mhB) = graft.functions.HashExprs.minHashCoefficients(16, 42L)

  val oracle: Map[String, String] = Map(
    // full structural replay of the banded pipeline: ordered token list,
    // distinct bigrams (empty sets dropped — all-sentinel signatures
    // would band-collide with every other empty set), 8 polyHash minhash
    // lanes, 2x4 band keys (one flattened 4-term polynomial per band —
    // mod distributes; 131^3 = 2248091, 131^2 = 17161), candidate pairs
    // from band-bucket equi-joins (both orientations, distinct), exact
    // list-intersect Jaccard verify, and the rank window standing in for
    // the bounded heap
    "ev_seqsim_banded" ->
      s"""WITH s AS (SELECT user_id AS uid, list(event_type || ':' || CAST(least(floor(value / 25), 9) AS BIGINT) ORDER BY ts, event_id) AS toks FROM events WHERE user_id IS NOT NULL GROUP BY user_id), g AS (SELECT uid, gs FROM (SELECT uid, list_distinct(list_transform(range(1, len(toks)), i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1])) AS gs FROM s) x WHERE len(gs) > 0), hs AS (SELECT uid, gs, list_transform(gs, w -> $POLY) AS hl FROM g), sig AS (SELECT uid, gs, [${(0 until 16).map(j => s"coalesce(list_min(list_transform(hl, h -> (h * ${mhA(j)} + ${mhB(j)}) % 2147483647)), 2147483647)").mkString(", ")}] AS sg FROM hs), bk AS (SELECT uid, CAST(b AS INT) AS b, (sg[CAST(b * 4 + 1 AS INT)] * 2248091 + sg[CAST(b * 4 + 2 AS INT)] * 17161 + sg[CAST(b * 4 + 3 AS INT)] * 131 + sg[CAST(b * 4 + 4 AS INT)]) % 1000000007 AS key FROM sig, range(0, 4) r(b)), cand AS (SELECT a.uid AS uid, b.uid AS nid FROM bk a JOIN bk b ON a.b = b.b AND a.key = b.key AND a.uid <> b.uid GROUP BY 1, 2), v AS (SELECT c.uid, c.nid, len(list_intersect(ga.gs, gb.gs)) AS inter, len(ga.gs) + len(gb.gs) AS s2 FROM cand c JOIN g ga ON c.uid = ga.uid JOIN g gb ON c.nid = gb.uid), r AS (SELECT uid, nid, CAST(inter AS DOUBLE) / (s2 - inter) AS jac, row_number() OVER (PARTITION BY uid ORDER BY CAST(inter AS DOUBLE) / (s2 - inter) DESC, nid) AS rank FROM v) SELECT uid AS user_id, CAST(rank AS INT) AS rank, nid, round(jac, 4) AS jac FROM r WHERE rank <= 3""",
    // sequence similarity: per-user ordered event-type list (ts, then
    // event_id tiebreak), distinct trigrams, inverted-index pair counts
    // with the dfCap>1000 posting filter (no-op on this corpus but
    // mirrored for shape), ranking by the raw inter/union double with
    // nid tiebreak — row_number mirrors the bounded heap exactly
    "ev_seqsim" ->
      """WITH s AS (SELECT user_id AS uid, list(event_type || ':' || CAST(least(floor(value / 25), 9) AS BIGINT) ORDER BY ts, event_id) AS toks FROM events GROUP BY user_id), g AS (SELECT uid, list_distinct(list_transform(range(1, len(toks)), i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1])) AS gs FROM s), inv AS (SELECT uid, len(gs) AS nsh, unnest(gs) AS g FROM g), hot AS (SELECT g FROM (SELECT g, count(*) AS c FROM inv GROUP BY g) WHERE c > 1000), invf AS (SELECT inv.* FROM inv WHERE g NOT IN (SELECT g FROM hot)), p AS (SELECT a.uid AS uid, b.uid AS nid, count(*) AS inter, a.nsh + b.nsh - count(*) AS uni FROM invf a JOIN invf b ON a.g = b.g AND a.uid <> b.uid GROUP BY a.uid, b.uid, a.nsh, b.nsh), r AS (SELECT uid, nid, CAST(inter AS DOUBLE) / uni AS jac, row_number() OVER (PARTITION BY uid ORDER BY CAST(inter AS DOUBLE) / uni DESC, nid) AS rank FROM p) SELECT uid AS user_id, CAST(rank AS INT) AS rank, nid, round(jac, 4) AS jac FROM r WHERE rank <= 3""",
    // funnel replay via the min-tuple chain (equivalent to the greedy
    // fold: first view = min (ts,tie) view event, first in-window click
    // after it = min (ts,tie) click beyond that tuple with ts within
    // 6 h, ...); DuckDB struct comparison is lexicographic, matching
    // the plan's sort_array ordering on (ts, tie)
    "ev_funnel" ->
      """WITH e AS (SELECT user_id AS uid, event_type AS t, ts, event_id AS tie FROM events WHERE user_id IS NOT NULL), u AS (SELECT DISTINCT uid FROM e), s1 AS (SELECT uid, min({'ts': ts, 'tie': tie}) AS m FROM e WHERE t = 'view' GROUP BY uid), s2 AS (SELECT e.uid, min({'ts': e.ts, 'tie': e.tie}) AS m FROM e JOIN s1 ON e.uid = s1.uid AND {'ts': e.ts, 'tie': e.tie} > s1.m AND e.ts <= s1.m.ts + INTERVAL 6 HOUR WHERE e.t = 'click' GROUP BY e.uid), s3 AS (SELECT e.uid, min({'ts': e.ts, 'tie': e.tie}) AS m FROM e JOIN s2 ON e.uid = s2.uid AND {'ts': e.ts, 'tie': e.tie} > s2.m AND e.ts <= s2.m.ts + INTERVAL 6 HOUR WHERE e.t = 'purchase' GROUP BY e.uid), d AS (SELECT u.uid, CASE WHEN s3.uid IS NOT NULL THEN 3 WHEN s2.uid IS NOT NULL THEN 2 WHEN s1.uid IS NOT NULL THEN 1 ELSE 0 END AS depth FROM u LEFT JOIN s1 ON u.uid = s1.uid LEFT JOIN s2 ON u.uid = s2.uid LEFT JOIN s3 ON u.uid = s3.uid), g AS (SELECT depth, count(*) AS n FROM d GROUP BY depth), c AS (SELECT depth, n, CAST(sum(n) OVER (ORDER BY depth DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_reached, CAST(sum(n) OVER () AS BIGINT) AS total FROM g) SELECT depth, n, n_reached, CAST((n_reached * 1000000) // total AS DOUBLE) / 10000.0 AS pct_of_entered FROM c""",
    // retention replay: DuckDB's date_trunc matches Spark's (both
    // Monday-based at week grain); `//` everywhere to avoid DuckDB's
    // round-half-up CAST
    "ev_retention" ->
      """WITH a AS (SELECT user_id AS uid, date_trunc('day', ts) AS wk FROM events WHERE user_id IS NOT NULL AND event_type = 'purchase' GROUP BY 1, 2), c AS (SELECT uid, min(wk) AS cwk FROM a GROUP BY uid), cell AS (SELECT CAST(c.cwk AS DATE) AS cohort, CAST(date_diff('day', CAST(c.cwk AS DATE), CAST(a.wk AS DATE)) AS INT) AS "offset", count(*) AS n_active FROM a JOIN c USING (uid) GROUP BY 1, 2), w AS (SELECT cohort, "offset", n_active, max(CASE WHEN "offset" = 0 THEN n_active END) OVER (PARTITION BY cohort) AS cohort_n FROM cell) SELECT strftime(cohort, '%Y-%m-%d') AS cohort, "offset", n_active, CAST((n_active * 1000000) // cohort_n AS DOUBLE) / 10000.0 AS pct_retained FROM w""",
    // time-to-convert replay: the same windowed min-tuple chain gives
    // the matched tuples; gaps quantize via integer DIV on micros
    "ev_funnel_times" ->
      """WITH e AS (SELECT user_id AS uid, event_type AS t, ts, event_id AS tie FROM events WHERE user_id IS NOT NULL), s1 AS (SELECT uid, min({'ts': ts, 'tie': tie}) AS m FROM e WHERE t = 'view' GROUP BY uid), s2 AS (SELECT e.uid, min({'ts': e.ts, 'tie': e.tie}) AS m FROM e JOIN s1 ON e.uid = s1.uid AND {'ts': e.ts, 'tie': e.tie} > s1.m AND e.ts <= s1.m.ts + INTERVAL 6 HOUR WHERE e.t = 'click' GROUP BY e.uid), s3 AS (SELECT e.uid, min({'ts': e.ts, 'tie': e.tie}) AS m FROM e JOIN s2 ON e.uid = s2.uid AND {'ts': e.ts, 'tie': e.tie} > s2.m AND e.ts <= s2.m.ts + INTERVAL 6 HOUR WHERE e.t = 'purchase' GROUP BY e.uid), g AS (SELECT 'view>click' AS step, epoch_us(s2.m.ts) - epoch_us(s1.m.ts) AS gap FROM s1 JOIN s2 ON s1.uid = s2.uid UNION ALL SELECT 'click>purchase', epoch_us(s3.m.ts) - epoch_us(s2.m.ts) FROM s2 JOIN s3 ON s2.uid = s3.uid) SELECT step, count(*) AS n_conv, CAST(sum(gap) // (count(*) * 1000000) AS BIGINT) AS avg_gap_sec, CAST(min(gap) // 1000000 AS BIGINT) AS min_gap_sec, CAST(max(gap) // 1000000 AS BIGINT) AS max_gap_sec FROM g GROUP BY step""",
    // the composed replay: sessionize CTEs feed the same min-tuple
    // chain as ev_funnel, keyed by the composite (uid, session) id
    "ev_funnel_sessions" ->
      """WITH e0 AS (SELECT user_id AS uid, ts, event_id AS tie, event_type AS t, epoch_us(ts) AS us FROM events WHERE user_id IS NOT NULL), f AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 21600000000 THEN 1 ELSE 0 END AS flag FROM e0 WINDOW w AS (PARTITION BY uid ORDER BY ts, tie)), e AS (SELECT uid * 1000000 + CAST(sum(flag) OVER (PARTITION BY uid ORDER BY ts, tie ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid, ts, tie, t FROM f), u AS (SELECT DISTINCT sid FROM e), s1 AS (SELECT sid, min({'ts': ts, 'tie': tie}) AS m FROM e WHERE t = 'view' GROUP BY sid), s2 AS (SELECT e.sid, min({'ts': e.ts, 'tie': e.tie}) AS m FROM e JOIN s1 ON e.sid = s1.sid AND {'ts': e.ts, 'tie': e.tie} > s1.m WHERE e.t = 'click' GROUP BY e.sid), s3 AS (SELECT e.sid, min({'ts': e.ts, 'tie': e.tie}) AS m FROM e JOIN s2 ON e.sid = s2.sid AND {'ts': e.ts, 'tie': e.tie} > s2.m WHERE e.t = 'purchase' GROUP BY e.sid), d AS (SELECT u.sid, CASE WHEN s3.sid IS NOT NULL THEN 3 WHEN s2.sid IS NOT NULL THEN 2 WHEN s1.sid IS NOT NULL THEN 1 ELSE 0 END AS depth FROM u LEFT JOIN s1 ON u.sid = s1.sid LEFT JOIN s2 ON u.sid = s2.sid LEFT JOIN s3 ON u.sid = s3.sid), g AS (SELECT depth, count(*) AS n FROM d GROUP BY depth), c AS (SELECT depth, n, CAST(sum(n) OVER (ORDER BY depth DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_reached, CAST(sum(n) OVER () AS BIGINT) AS total FROM g) SELECT depth, n, n_reached, CAST((n_reached * 1000000) // total AS DOUBLE) / 10000.0 AS pct_of_entered FROM c""",
    // A/B replay: per-entity max-flag per metric, one-row arm rollup,
    // UNION ALL unpivot, then the identical double-typed z pipeline
    // (every literal cast to DOUBLE — DuckDB's 1.0 is DECIMAL and its
    // decimal division would diverge from Spark's IEEE doubles)
    "ev_abtest" ->
      """WITH pe AS (SELECT user_id AS ent, user_id % 2 AS arm, max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c_purchase, max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c_click, max(coalesce(CAST(value > 90 AS INT), 0)) AS c_highval FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2), w AS (SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b, CAST(sum(CASE WHEN arm = 0 THEN c_purchase ELSE 0 END) AS BIGINT) AS ca_purchase, CAST(sum(CASE WHEN arm = 1 THEN c_purchase ELSE 0 END) AS BIGINT) AS cb_purchase, CAST(sum(CASE WHEN arm = 0 THEN c_click ELSE 0 END) AS BIGINT) AS ca_click, CAST(sum(CASE WHEN arm = 1 THEN c_click ELSE 0 END) AS BIGINT) AS cb_click, CAST(sum(CASE WHEN arm = 0 THEN c_highval ELSE 0 END) AS BIGINT) AS ca_highval, CAST(sum(CASE WHEN arm = 1 THEN c_highval ELSE 0 END) AS BIGINT) AS cb_highval FROM pe), s AS (SELECT 'purchase' AS metric, n_a, ca_purchase AS conv_a, n_b, cb_purchase AS conv_b FROM w UNION ALL SELECT 'click', n_a, ca_click, n_b, cb_click FROM w UNION ALL SELECT 'highval', n_a, ca_highval, n_b, cb_highval FROM w), z AS (SELECT *, CASE WHEN n_a = 0 THEN NULL ELSE CAST(conv_a AS DOUBLE) / n_a END AS pa, CASE WHEN n_b = 0 THEN NULL ELSE CAST(conv_b AS DOUBLE) / n_b END AS pb, CASE WHEN n_a + n_b = 0 THEN NULL ELSE CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) END AS pp FROM s), z2 AS (SELECT *, pp * (1 - pp) * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b) AS pv FROM z) SELECT metric, n_a, conv_a, n_b, conv_b, CASE WHEN n_a = 0 THEN NULL ELSE CAST((conv_a * 10000) // n_a AS BIGINT) END AS rate_a_bp, CASE WHEN n_b = 0 THEN NULL ELSE CAST((conv_b * 10000) // n_b AS BIGINT) END AS rate_b_bp, CASE WHEN pv IS NULL OR pv <= 0 THEN NULL ELSE CAST(floor((pa - pb) / sqrt(pv) * 1000000) AS BIGINT) END AS z_micro FROM z2""",
    // same entity aggregate (trunc() mirrors Spark's toward-zero long
    // cast — DuckDB's bare CAST rounds), same (key, ent) rank order,
    // same integer quintile formula
    "ev_rfm" ->
      """WITH pe AS (SELECT user_id AS ent, max(epoch_us(ts)) AS last_us, count(*) AS freq, CAST(sum(CAST(trunc(value * 1000000) AS BIGINT)) AS BIGINT) AS mon_micro FROM events WHERE user_id IS NOT NULL GROUP BY 1), nr AS (SELECT max(last_us) AS now_us, count(*) AS n FROM pe), b AS (SELECT ent, (SELECT now_us FROM nr) - last_us AS rec_us, freq, mon_micro FROM pe), rq AS (SELECT ent, CAST((row_number() OVER (ORDER BY -rec_us, ent) - 1) * 5 // (SELECT n FROM nr) + 1 AS INT) AS r_q FROM b), fq AS (SELECT ent, CAST((row_number() OVER (ORDER BY freq, ent) - 1) * 5 // (SELECT n FROM nr) + 1 AS INT) AS f_q FROM b), mq AS (SELECT ent, CAST((row_number() OVER (ORDER BY mon_micro, ent) - 1) * 5 // (SELECT n FROM nr) + 1 AS INT) AS m_q FROM b) SELECT b.ent AS user_id, b.rec_us, b.freq, b.mon_micro, rq.r_q, fq.f_q, mq.m_q, CAST(rq.r_q AS VARCHAR) || CAST(fq.f_q AS VARCHAR) || CAST(mq.m_q AS VARCHAR) AS rfm FROM b JOIN rq USING (ent) JOIN fq USING (ent) JOIN mq USING (ent)""",
    // full journey -> matrix -> unrolled-knockout replay (generator above)
    "ev_markov" ->
      markovOracle(15, Seq("click", "error", "signup", "view")),
    // robust-anomaly replay: DuckDB's median is quantile_cont(0.5) —
    // the same midpoint interpolation as Spark's exact percentile, so
    // med/MAD are identical exact multiples of 1/2 and 1/4; the flag
    // test is the identical integer×integer compare (z=1.2 -> 12000)
    "ev_anomaly" ->
      """WITH d AS (SELECT user_id AS ent, CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS cnt FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2), m AS (SELECT ent, median(cnt) AS med FROM d GROUP BY ent), dv AS (SELECT d.ent, d.day, d.cnt, m.med, abs(d.cnt - m.med) AS adev FROM d JOIN m USING (ent)), md AS (SELECT ent, median(adev) AS mad FROM dv GROUP BY ent) SELECT dv.ent AS user_id, strftime(dv.day, '%Y-%m-%d') AS day, dv.cnt, CAST(dv.med * 2 AS BIGINT) AS med_x2, CAST(md.mad * 4 AS BIGINT) AS mad_x4, CASE WHEN dv.cnt > dv.med THEN 1 ELSE -1 END AS dev_sign FROM dv JOIN md USING (ent) WHERE CAST(dv.adev * 4 AS BIGINT) * 10000 * 10000 > CAST(md.mad * 4 AS BIGINT) * 14826 * 12000""",
    // EWMA replay: the same closed-form terms (pow agrees bit-for-bit
    // between Java and DuckDB's libm on base 0.875) folded by the same
    // ordered ROWS-UNBOUNDED-PRECEDING frame — identical addition
    // sequence, so the raw double matches even before the micro floor
    "ev_ewma" ->
      """WITH e AS (SELECT user_id AS ent, ts, event_id AS tie, CAST(value AS DOUBLE) AS v FROM events WHERE user_id IS NOT NULL), w AS (SELECT ent, v, row_number() OVER (PARTITION BY ent ORDER BY ts, tie) AS rn, count(*) OVER (PARTITION BY ent) AS k FROM e), t AS (SELECT ent, v, rn, k, v * (CASE WHEN rn = 1 THEN pow(0.875, k - 1) ELSE 0.125 * pow(0.875, k - rn) END) AS term FROM w), a AS (SELECT ent, v, rn, k, sum(term) OVER (PARTITION BY ent ORDER BY rn ROWS UNBOUNDED PRECEDING) AS acc FROM t) SELECT ent AS user_id, k AS n_events, v AS last_val, CAST(floor(acc * 1000000) AS BIGINT) AS ewma_micro FROM a WHERE rn = k""",
    // CUSUM replay: the same prefix-sum/running-min closed form,
    // centi-quantized BIGINTs throughout; row_number cast to INT to
    // match Spark's IntegerType rank
    "ev_cusum" ->
      """WITH e AS (SELECT user_id, ts, event_id, CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) AS xq FROM events WHERE user_id IS NOT NULL), w AS (SELECT user_id, CAST(row_number() OVER win AS INT) AS rn, sum(xq - 6000) OVER (win ROWS UNBOUNDED PRECEDING) AS p FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)), s AS (SELECT user_id, rn, p - least(min(p) OVER (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING), 0) AS sv FROM w) SELECT user_id, count(*) AS n_events, count(*) FILTER (WHERE sv > 50000) AS n_alarms, CAST(max(sv) AS BIGINT) AS max_s, CAST(min(rn) FILTER (WHERE sv > 50000) AS INT) AS first_alarm_rn FROM s GROUP BY user_id""",
    // islands replay: the same running-max-of-preceding-ends flag +
    // running-sum id assignment; all epoch-micros BIGINTs are
    // non-negative so // == Spark's DIV
    "ev_islands" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS s_us, epoch_us(ts) + 14400000000 AS e_us FROM events WHERE user_id IS NOT NULL), f AS (SELECT user_id, event_id, s_us, e_us, CASE WHEN max(e_us) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL OR s_us > max(e_us) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 1 ELSE 0 END AS flag FROM e WINDOW win AS (PARTITION BY user_id ORDER BY s_us, event_id)), i AS (SELECT user_id, s_us, e_us, sum(flag) OVER (win ROWS UNBOUNDED PRECEDING) AS island_id FROM f WINDOW win AS (PARTITION BY user_id ORDER BY s_us, event_id)) SELECT user_id, CAST(island_id AS BIGINT) AS island_id, count(*) AS n_events, min(s_us) // 1000000 AS start_sec, max(e_us) // 1000000 AS end_sec, (max(e_us) - min(s_us)) // 1000000 AS dur_sec FROM i GROUP BY user_id, island_id""",
    // decomposition replay: identical RANGE frames over the bucket
    // domain (absent hours are implicit zeros in both engines), and the
    // same explicit pmod floor-division (DuckDB // floors, Spark DIV
    // truncates — the subtraction makes the division exact so both agree)
    "ev_decompose" ->
      """WITH b AS (SELECT epoch_us(ts) // 3600000000 AS bucket, count(*) AS cnt FROM events GROUP BY 1), t AS (SELECT bucket, cnt, CASE WHEN bucket - min(bucket) OVER () >= 12 AND max(bucket) OVER () - bucket >= 12 THEN sum(cnt) OVER (win RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING) + sum(cnt) OVER (win RANGE BETWEEN 11 PRECEDING AND 11 FOLLOWING) END AS trend48 FROM b WINDOW win AS (ORDER BY bucket)), d AS (SELECT bucket, cnt, trend48, 48 * cnt - trend48 AS detr48, bucket % 24 AS h FROM t), s AS (SELECT bucket, cnt, trend48, detr48, CAST(sum(detr48) OVER (PARTITION BY h) AS BIGINT) AS seas_sum, count(detr48) OVER (PARTITION BY h) AS n_h FROM d), m AS (SELECT bucket, cnt, trend48, detr48, CASE WHEN detr48 IS NOT NULL THEN (seas_sum * 1000000 - ((seas_sum * 1000000 % n_h) + n_h) % n_h) // n_h END AS seas_micro48 FROM s) SELECT CAST(bucket AS BIGINT) AS bucket, cnt, CAST(trend48 AS BIGINT) AS trend48, CAST(seas_micro48 AS BIGINT) AS seas_micro48, CAST(detr48 * 1000000 - seas_micro48 AS BIGINT) AS resid_micro48 FROM m""",
    // MASE replay: the same 24-back RANGE-pinned seasonal lag, integer
    // |err| sums, the identical int-product-then-divide double dag
    "ev_mase" ->
      """WITH b AS (SELECT epoch_us(ts) // 3600000000 AS bucket, count(*) AS cnt FROM events GROUP BY 1), w AS (SELECT bucket, cnt, max(cnt) OVER (ORDER BY bucket RANGE BETWEEN 24 PRECEDING AND 24 PRECEDING) AS prev, bucket > max(bucket) OVER () - 168 AS is_test FROM b), a AS (SELECT abs(cnt - prev) AS ae, is_test FROM w) SELECT count(ae) FILTER (WHERE NOT is_test) AS n_train, count(ae) FILTER (WHERE is_test) AS n_test, coalesce(CAST(sum(ae) FILTER (WHERE NOT is_test) AS BIGINT), 0) AS sae_train, coalesce(CAST(sum(ae) FILTER (WHERE is_test) AS BIGINT), 0) AS sae_test, CASE WHEN count(ae) FILTER (WHERE NOT is_test) = 0 OR count(ae) FILTER (WHERE is_test) = 0 OR coalesce(CAST(sum(ae) FILTER (WHERE NOT is_test) AS BIGINT), 0) = 0 THEN NULL ELSE CAST(coalesce(CAST(sum(ae) FILTER (WHERE is_test) AS BIGINT), 0) * count(ae) FILTER (WHERE NOT is_test) AS DOUBLE) / (CAST(coalesce(CAST(sum(ae) FILTER (WHERE NOT is_test) AS BIGINT), 0) AS DOUBLE) * count(ae) FILTER (WHERE is_test)) END AS mase FROM a""",
    // feature-frame replay: identical RANGE/ROWS window split — the
    // calendar lag is RANGE [-1,-1] (null across gaps), the recency lag
    // is a ROWS lag (the gap is the feature)
    "ev_features" ->
      """WITH g AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day, count(*) AS cnt, CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT)) AS BIGINT) AS vsum_centi FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2) SELECT user_id, CAST(day AS BIGINT) AS day, cnt, vsum_centi, CAST(max(cnt) OVER (win RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS BIGINT) AS lag1_cnt, CAST(sum(cnt) OVER (win RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS cnt_7d, CAST(count(*) OVER (win RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS days_active_7d, CAST(sum(vsum_centi) OVER (win RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS vsum_7d_centi, CAST(day - lag(day) OVER (win) AS BIGINT) AS days_since_prev FROM g WINDOW win AS (PARTITION BY user_id ORDER BY day)""",
    // position attribution replay: the same running conversion-count
    // segmentation and within-segment ranks; integer micro credits
    "ev_position" ->
      """WITH e AS (SELECT user_id AS ent, ts, event_id AS tie, event_type AS ch, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isconv FROM events WHERE user_id IS NOT NULL), w AS (SELECT ent, ts, tie, ch, isconv, sum(isconv) OVER (PARTITION BY ent ORDER BY ts, tie ROWS UNBOUNDED PRECEDING) AS seg, sum(isconv) OVER (PARTITION BY ent) AS nconv FROM e), t AS (SELECT ent, seg, ch, ts, tie FROM w WHERE isconv = 0 AND seg < nconv), r AS (SELECT ent, seg, ch, CAST(row_number() OVER (PARTITION BY ent, seg ORDER BY ts, tie) AS BIGINT) AS rn, count(*) OVER (PARTITION BY ent, seg) AS m FROM t), c AS (SELECT ch, CASE WHEN m = 1 THEN 1000000 WHEN m = 2 THEN 500000 WHEN rn = 1 OR rn = m THEN 400000 ELSE 200000 // (m - 2) END AS credit FROM r) SELECT ch AS channel, count(*) AS n_touches, CAST(sum(credit) AS BIGINT) AS credit_micro FROM c GROUP BY 1""",
    // drift replay: the identical (day x support) grid with a 0-filled
    // left join holding each day's CDF flat at non-observed scores
    "ev_drift" ->
      """WITH g AS (SELECT epoch_us(ts) // 86400000000 AS day, CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) AS s, count(*) AS cnt FROM events WHERE value IS NOT NULL GROUP BY 1, 2), gs AS (SELECT s, CAST(sum(cnt) AS BIGINT) AS gn FROM g GROUP BY 1), gc AS (SELECT s, CAST(sum(gn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumg, CAST(sum(gn) OVER () AS BIGINT) AS ng FROM gs), d AS (SELECT day, CAST(sum(cnt) AS BIGINT) AS nd FROM g GROUP BY 1), dc AS (SELECT d.day, d.nd, gc.s, gc.cumg, gc.ng, CAST(sum(coalesce(g.cnt, 0)) OVER (PARTITION BY d.day ORDER BY gc.s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumd FROM d CROSS JOIN gc LEFT JOIN g ON g.day = d.day AND g.s = gc.s) SELECT day, max(nd) AS n_day, CAST(max(abs(cumd * ng - cumg * nd)) AS BIGINT) AS d_num, CASE WHEN max(nd) = 0 OR max(ng) = 0 THEN NULL ELSE CAST(max(abs(cumd * ng - cumg * nd)) AS DOUBLE) / (CAST(max(nd) AS DOUBLE) * max(ng)) END AS ks FROM dc GROUP BY day""",
    // chi-square replay: identical cell/margin windows over the bounded
    // domain and the identical per-cell double dag, floored to micro
    // BEFORE any cross-cell aggregation (order-independent)
    "ev_chisq" ->
      """WITH c AS (SELECT event_type AS a, user_id % 2 AS b, count(*) AS o FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2), w AS (SELECT a, b, o, CAST(sum(o) OVER (PARTITION BY a) AS BIGINT) AS rt, CAST(sum(o) OVER (PARTITION BY b) AS BIGINT) AS ct, CAST(sum(o) OVER () AS BIGINT) AS n FROM c), e AS (SELECT a, b, o, CAST(rt AS DOUBLE) * ct / n AS e FROM w) SELECT a, b, o, CAST(floor(e * 1000000) AS BIGINT) AS e_micro, CAST(floor((o - e) * (o - e) / e * 1000000) AS BIGINT) AS contrib_micro FROM e""",
    // sessionize replay: lag-gap flag + running sum assigns the same
    // 1-based ids; epoch-micros integer division floors durations
    // identically
    "ev_sessionize" ->
      """WITH e AS (SELECT user_id, ts, event_id, epoch_us(ts) AS us FROM events WHERE user_id IS NOT NULL), f AS (SELECT user_id, ts, event_id, us, CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS flag FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), s AS (SELECT user_id, us, sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM f) SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events, (max(us) - min(us)) // 1000000 AS dur_sec FROM s GROUP BY user_id, session_id""",
    // path-mining replay: two leads in one window, path-string
    // tiebreak makes the top-10 deterministic under count ties
    "ev_paths" ->
      """WITH s AS (SELECT event_type AS t0, lead(event_type, 1) OVER w AS t1, lead(event_type, 2) OVER w AS t2 FROM events WHERE user_id IS NOT NULL WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), p AS (SELECT t0 || ' > ' || t1 || ' > ' || t2 AS path, count(*) AS n FROM s WHERE t1 IS NOT NULL AND t2 IS NOT NULL GROUP BY 1) SELECT path, n FROM p ORDER BY n DESC, path LIMIT 10""",
    // transition-matrix replay: identical lead-over-(ts, event_id)
    // ordering; per-src normalization over the bounded pair domain
    "ev_transitions" ->
      """WITH s AS (SELECT event_type AS src, lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM events WHERE user_id IS NOT NULL), p AS (SELECT src, dst, count(*) AS n FROM s WHERE dst IS NOT NULL GROUP BY 1, 2) SELECT src, dst, n, CAST((n * 1000000) // sum(n) OVER (PARTITION BY src) AS DOUBLE) / 1000000.0 AS prob FROM p""",
    "ev_asof" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS pval FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), j AS (SELECT l.user_id, p.pval FROM events l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts >= p.ts) SELECT user_id, count(pval) AS n_matched, round(sum(pval), 2) AS sum_asof FROM j GROUP BY user_id""",
    // tolerance replay: DuckDB ASOF finds the backward match; matches
    // beyond the tolerance null out before the aggregate
    "ev_asof_tol" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS pval FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), j AS (SELECT l.user_id, CASE WHEN l.ts - p.ts <= INTERVAL 6 HOUR THEN p.pval END AS pval FROM events l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts >= p.ts) SELECT user_id, count(pval) AS n_matched, round(sum(pval), 2) AS sum_asof FROM j GROUP BY user_id""",
    "ev_asof_salted" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS pval FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), j AS (SELECT l.user_id, p.pval FROM events l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts >= p.ts) SELECT user_id, count(pval) AS n_matched, round(sum(pval), 2) AS sum_asof FROM j GROUP BY user_id""",
    "ev_asof_lookup" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS pval FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), j AS (SELECT l.user_id, p.pval FROM events l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts >= p.ts) SELECT user_id, count(pval) AS n_matched, round(sum(pval), 2) AS sum_asof FROM j GROUP BY user_id""",
    "ev_asof_bcast" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS pval FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), j AS (SELECT l.user_id, p.pval FROM events l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts >= p.ts) SELECT user_id, count(pval) AS n_matched, round(sum(pval), 2) AS sum_asof FROM j GROUP BY user_id""",
    "ev_asof_native" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS pval FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), j AS (SELECT l.user_id, p.pval FROM events l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts >= p.ts) SELECT user_id, count(pval) AS n_matched, round(sum(pval), 2) AS sum_asof FROM j GROUP BY user_id""",
    "ev_asof_fwd" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS pval FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), j AS (SELECT l.user_id, p.pval FROM events l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts <= p.ts) SELECT user_id, count(pval) AS n_matched, round(sum(pval), 2) AS sum_asof FROM j GROUP BY user_id""",
    "ev_asof_near" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS pval FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), b AS (SELECT l.event_id, l.user_id, l.ts, p.ts AS bt, p.pval AS bv FROM events l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts >= p.ts), f AS (SELECT l.event_id, p.ts AS ft, p.pval AS fv FROM events l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts <= p.ts), j AS (SELECT b.user_id, CASE WHEN bt IS NULL THEN fv WHEN ft IS NULL THEN bv WHEN epoch_us(b.ts) - epoch_us(bt) <= epoch_us(ft) - epoch_us(b.ts) THEN bv ELSE fv END AS pv FROM b JOIN f USING (event_id)) SELECT user_id, count(pv) AS n_matched, round(sum(pv), 2) AS sum_asof FROM j GROUP BY user_id""",
    "st_tumbling" ->
      """SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS ws, event_type, count(*) AS n, round(sum(value),2) AS sum_value FROM events GROUP BY 1, 2""",
    "st_hopping" ->
      """SELECT ws, count(*) AS n FROM (SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS ws FROM events UNION ALL SELECT CAST(floor(epoch(ts)/300)*300 - 300 AS BIGINT) AS ws FROM events) t GROUP BY 1""",
    "st_sessions" ->
      """WITH o AS (SELECT user_id, ts, event_id, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800 THEN 1 ELSE 0 END AS new_sess FROM events), s AS (SELECT user_id, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_id FROM o) SELECT user_id, CAST(count(DISTINCT sess_id) AS BIGINT) AS n_sessions, CAST(sum(cnt) AS BIGINT) AS n_events, CAST(max(cnt) AS BIGINT) AS max_session FROM (SELECT user_id, sess_id, count(*) AS cnt FROM s GROUP BY 1, 2) g GROUP BY user_id""",
    "st_dedup" ->
      """WITH g AS (SELECT user_id, event_type, count(*) AS n_dupes, min(ts) AS mt FROM events GROUP BY 1, 2), f AS (SELECT g.user_id, g.event_type, g.n_dupes, g.mt, min(e.event_id) AS first_eid FROM g JOIN events e ON e.user_id = g.user_id AND e.event_type = g.event_type AND e.ts = g.mt GROUP BY 1, 2, 3, 4) SELECT user_id, event_type, n_dupes, CAST(floor(epoch(mt)) AS BIGINT) AS first_ts, first_eid FROM f""",
    "st_late" ->
      """WITH e AS (SELECT greatest(event_id + (((event_id % 97) * 37) % 21 - 10) * 50, 0) // 1000 AS b, epoch_us(ts) // 1000000 AS sec, value FROM events), bm AS (SELECT b, max(sec) AS bmax FROM e GROUP BY b), w AS (SELECT b, max(bmax) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 600 AS wm FROM bm), j AS (SELECT (e.sec // 300) * 300 AS ws, e.value, (w.wm IS NOT NULL AND (e.sec // 300) * 300 + 300 <= w.wm) AS late FROM e JOIN w USING (b)) SELECT ws, count(*) FILTER (WHERE NOT late) AS n_kept, round(sum(value) FILTER (WHERE NOT late), 2) AS sum_value, count(*) FILTER (WHERE late) AS n_late FROM j GROUP BY ws""",
    // threshold-alert replay: canonical-order centi-exact cumulative,
    // floor-div crossings (// floors natively here)
    "st_alerts" ->
      """WITH c AS (SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS n_events, CAST(sum(CAST(round(coalesce(value, 0) * 100, 0) AS BIGINT)) OVER w AS BIGINT) AS cum, CAST(round(coalesce(value, 0) * 100, 0) AS BIGINT) AS vc FROM events WHERE user_id IS NOT NULL WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) SELECT user_id, n_events, cum AS total_centi FROM c WHERE cum // 10000 > (cum - vc) // 10000""",
    // interval-join audit replay: identical batch assignment, per-side
    // running-max watermarks (min-of-sides), equality-drops late rule,
    // pure-batch ideal join as the miss baseline
    "st_ijoin" ->
      """WITH e AS (SELECT event_id, user_id, event_type, greatest(event_id + (((event_id % 97) * 37) % 21 - 10) * 50, 0) // 1000 AS b, epoch_us(ts) // 1000000 AS sec FROM events WHERE event_type IN ('click', 'purchase')), bm AS (SELECT b, max(CASE WHEN event_type = 'click' THEN sec END) AS cmax, max(CASE WHEN event_type = 'purchase' THEN sec END) AS pmax FROM e GROUP BY b), w AS (SELECT b, CASE WHEN max(cmax) OVER pw IS NOT NULL AND max(pmax) OVER pw IS NOT NULL THEN least(max(cmax) OVER pw, max(pmax) OVER pw) - 600 END AS wm FROM bm WINDOW pw AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), t AS (SELECT e.*, (w.wm IS NOT NULL AND e.sec <= w.wm) AS late FROM e JOIN w USING (b)), c AS (SELECT user_id AS cu, sec AS csec, late AS clate FROM t WHERE event_type = 'click'), p AS (SELECT user_id AS pu, sec AS psec, late AS plate, event_id FROM t WHERE event_type = 'purchase') SELECT p.event_id, count(c.cu) AS n_ideal, count(*) FILTER (WHERE c.cu IS NOT NULL AND NOT c.clate AND NOT p.plate) AS n_stream, count(c.cu) - count(*) FILTER (WHERE c.cu IS NOT NULL AND NOT c.clate AND NOT p.plate) AS n_missed FROM p LEFT JOIN c ON p.pu = c.cu AND c.csec >= p.psec - 600 AND c.csec <= p.psec GROUP BY p.event_id""",
    // outer interval-join audit: the st_ijoin replay plus the final
    // min-of-sides watermark (ALL batches — the flush-eviction no-data
    // batch runs with it) and the strict p < W eviction rule measured in
    // IjoinProbeSpec
    "st_ijoin_outer" ->
      """WITH e AS (SELECT event_id, user_id, event_type, greatest(event_id + (((event_id % 97) * 37) % 21 - 10) * 50, 0) // 1000 AS b, epoch_us(ts) // 1000000 AS sec FROM events WHERE event_type IN ('click', 'purchase')), bm AS (SELECT b, max(CASE WHEN event_type = 'click' THEN sec END) AS cmax, max(CASE WHEN event_type = 'purchase' THEN sec END) AS pmax FROM e GROUP BY b), w AS (SELECT b, CASE WHEN max(cmax) OVER pw IS NOT NULL AND max(pmax) OVER pw IS NOT NULL THEN least(max(cmax) OVER pw, max(pmax) OVER pw) - 600 END AS wm FROM bm WINDOW pw AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), wf AS (SELECT CASE WHEN max(CASE WHEN event_type = 'click' THEN sec END) IS NOT NULL AND max(CASE WHEN event_type = 'purchase' THEN sec END) IS NOT NULL THEN least(max(CASE WHEN event_type = 'click' THEN sec END), max(CASE WHEN event_type = 'purchase' THEN sec END)) - 600 END AS w FROM e), t AS (SELECT e.*, (w.wm IS NOT NULL AND e.sec <= w.wm) AS late FROM e JOIN w USING (b)), c AS (SELECT user_id AS cu, sec AS csec, late AS clate FROM t WHERE event_type = 'click'), p AS (SELECT user_id AS pu, sec AS psec, late AS plate, event_id FROM t WHERE event_type = 'purchase'), g AS (SELECT p.event_id, p.psec, p.plate, count(c.cu) AS n_ideal, count(*) FILTER (WHERE c.cu IS NOT NULL AND NOT c.clate AND NOT p.plate) AS n_stream FROM p LEFT JOIN c ON p.pu = c.cu AND c.csec >= p.psec - 600 AND c.csec <= p.psec GROUP BY 1, 2, 3) SELECT event_id, n_ideal, n_stream, n_ideal - n_stream AS n_missed, CAST(CASE WHEN NOT plate AND n_stream = 0 AND (SELECT w FROM wf) IS NOT NULL AND psec < (SELECT w FROM wf) THEN 1 ELSE 0 END AS BIGINT) AS outer_null FROM g""",
    "st_json_typed" ->
      """SELECT user_id, CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k, count(*) FILTER (WHERE json_extract_string(props, '$.k') IS NULL) AS n_null FROM events GROUP BY 1""",
    "ev_range" ->
      """WITH i AS (SELECT event_id AS pid, ts - INTERVAL 5 MINUTE AS istart, ts + INTERVAL 5 MINUTE AS iend FROM events WHERE event_type = 'purchase' AND value > 200) SELECT e.event_type, count(*) AS n_pairs, count(DISTINCT e.event_id) AS n_events FROM events e JOIN i ON e.ts BETWEEN i.istart AND i.iend GROUP BY e.event_type""",
    "ev_overlap" ->
      """WITH p AS (SELECT event_id AS pid, ts - INTERVAL 5 MINUTE AS pstart, ts + INTERVAL 5 MINUTE AS pend FROM events WHERE event_type = 'purchase' AND value > 200), e AS (SELECT event_id AS eid, ts - INTERVAL 3 MINUTE AS estart, ts + INTERVAL 3 MINUTE AS eend FROM events WHERE event_type = 'error' AND value > 150) SELECT count(*) AS n_pairs, count(DISTINCT pid) AS n_purchases, count(DISTINCT eid) AS n_errors FROM p JOIN e ON p.pstart <= e.eend AND e.estart <= p.pend""",
    "st_attrib" ->
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'), p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') SELECT p.user_id, count(DISTINCT p.event_id) AS n_purchases, count(c.ts) AS n_clicks_attributed FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 10 MINUTE GROUP BY p.user_id""",

    // the canonical near-dup replay (r11 verdict Next #5): the per-block
    // greedy state machine walked by a recursive accumulator over the
    // dumped signatures — keepers carried as a struct list, match = min
    // Hamming <= 6 tie-broken to the LATEST keeper (max id: the
    // streaming `seen` list is prepend-ordered), state append gated at
    // 4096. blk = sh >>> 32 (top 16 of 48 bits); xor/bit_count replay
    // the codegen'd kernel exactly on the dumped 48-bit values.
    "st_neardup" ->
      """WITH RECURSIVE sigs AS (SELECT id, sh, sh // 4294967296 AS blk FROM '__OUTDIR__/aux_neardup_sigs/*.parquet'), seq AS (SELECT blk, id, sh, row_number() OVER (PARTITION BY blk ORDER BY id) AS rn FROM sigs), acc AS (SELECT blk, CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS dup_of, CAST(NULL AS INT) AS dist, CAST([] AS STRUCT(kid BIGINT, ksh BIGINT)[]) AS keepers FROM (SELECT DISTINCT blk FROM seq) UNION ALL SELECT blk, rn, id, CASE WHEN dmin IS NULL THEN -1 ELSE list_max(list_transform(list_filter(keepers, k -> bit_count(xor(k.ksh, sh)) = dmin), k -> k.kid)) END AS dup_of, CAST(coalesce(dmin, -1) AS INT) AS dist, CASE WHEN dmin IS NULL AND len(keepers) < 4096 THEN list_append(keepers, {'kid': id, 'ksh': sh}) ELSE keepers END AS keepers FROM (SELECT s.blk, s.rn, s.id, s.sh, a.keepers, list_min(list_transform(list_filter(a.keepers, k -> bit_count(xor(k.ksh, s.sh)) <= 6), k -> bit_count(xor(k.ksh, s.sh)))) AS dmin FROM acc a JOIN seq s ON s.blk = a.blk AND s.rn = a.rn + 1) t) SELECT id, dup_of, dist FROM acc WHERE rn > 0""")

  /** Auxiliary dump grounding st_neardup's structural replay: the
    * (id, simhash48) signature frame — expression-identical to the
    * frame nearDupFilterCanonical builds (the aux_minhash_sigs
    * precedent: the hash is not SQL-replayable, the state machine over
    * the dumped values is). */
  val aux: Map[String, Q] = Map(
    "aux_neardup_sigs" -> { (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id").cast("long").as("id"),
        graft.dedup.simHash48(col("text")).as("sh"))
    })
}
