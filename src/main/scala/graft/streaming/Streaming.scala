package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Structured Streaming layer. The reference is batch-only (SURVEY §2.11);
  * this extends the engine with the standard streaming shapes, all native:
  * readStream sources, watermarked event-time windows, gap sessions,
  * streaming dedup, and stateful custom aggregation.
  *
  * Every transform here is the same logical plan the batch `EventQueries`
  * run — Structured Streaming's incrementalization is exactly the "free"
  * upgrade Spark gives over the reference's partition-lazy model.
  */
object Streaming {

  val eventsSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING")

  /** File-source stream over a directory of parquet events. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventsSchema).parquet(dir)

  /** Watermarked 5-minute tumbling counts per event type. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"),
        col("sum_value"))

  /** Watermarked gap-based sessions per user (native session_window). */
  def userSessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Batch replay of Structured Streaming's LATE-DATA rule — the one
    * streaming behavior with no other batch-parity face: with watermark
    * delay D, an event arriving in micro-batch b is DROPPED from a
    * windowed aggregation iff its window has already closed,
    * `window_end(ts) <= wm(b)`, where `wm(b) = max(event time over
    * batches < b) - D` (Spark advances the watermark at micro-batch
    * boundaries from the max event time of completed batches).
    *
    * The replay takes the arrival order as data: `batchCol` assigns each
    * row its micro-batch (any deterministic expression — the graded query
    * replays arrival-by-event_id, `event_id DIV 1000`). Per event-time
    * window of `windowSec` seconds it returns
    * `(ws, n_kept, sum_value, n_late)` — the aggregate the streaming
    * query would have emitted plus the late-drop audit streaming itself
    * never shows you. One conditional aggregation, no kept/late join.
    *
    * Scale shape: one shuffle for the per-batch max (map-side combined,
    * one long per batch), one window over the BATCH-sized frame (rows =
    * number of micro-batches, not events — a day of 1-second triggers is
    * 86,400 rows on one task, fine), the watermark table broadcast back,
    * then one aggregation by window. The corpus is scanned once.
    * Exactness: all arithmetic on integer epoch seconds with DIV —
    * bit-stable across engines (the DuckDB oracle replays it verbatim). */
  def lateDataAudit(events: DataFrame, batchCol: org.apache.spark.sql.Column,
      tsCol: org.apache.spark.sql.Column,
      valueCol: org.apache.spark.sql.Column,
      delaySec: Long = 600L, windowSec: Long = 300L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events
      .select(batchCol.as("b"), tsCol.as("ts0"), valueCol.as("v"))
      .select(col("b"), expr("unix_micros(ts0) DIV 1000000").as("sec"),
        col("v"))
    val perBatchMax = e.groupBy(col("b")).agg(max(col("sec")).as("bmax"))
    // watermark at batch START = running max over STRICTLY EARLIER batches
    // minus the delay; null for the first batch (nothing completed yet)
    val wmW = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wm = perBatchMax.select(col("b"),
      (max(col("bmax")).over(wmW) - delaySec).as("wm"))
    val ws = expr(s"(sec DIV $windowSec) * $windowSec")
    e.join(broadcast(wm), "b")
      .select(ws.as("ws"), col("v"),
        (col("wm").isNotNull && ws + windowSec <= col("wm")).as("late"))
      .groupBy(col("ws"))
      .agg(count(when(!col("late"), 1)).as("n_kept"),
        round(sum(when(!col("late"), col("v"))), 2).as("sum_value"),
        count(when(col("late"), 1)).as("n_late"))
  }

  /** Streaming exact dedup on event_id within the watermark horizon —
    * the streaming face of `graft.dedup.exactDedup`. */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Keyed streaming dedup: first arrival per (user_id, event_type) within
    * the watermark horizon survives, later duplicates are dropped from
    * state-bounded RocksDB/HDFS state. The batch face is the graded
    * `st_dedup` query (first occurrence decided order-independently by
    * (ts, event_id) min); streaming keeps whichever row ARRIVES first, so
    * only the emitted key set — not the kept row — is order-stable, and
    * that is what the ModulesSpec test asserts. `delay` is the dedup
    * horizon: duplicates farther apart in event time than the watermark
    * delay are correctly re-emitted (their state has been evicted) — size
    * it to the product contract, not to memory. */
  def dedupedByKey(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Stream-stream interval join (attribution shape): each purchase joins
    * the same user's clicks from the preceding 10 minutes. Both sides are
    * watermarked so state for expired intervals is dropped — the join
    * condition's time bound is what makes unbounded two-stream state
    * finite. */
  def purchaseAttribution(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") <= col("p_ts"))
  }

  /** LEFT-OUTER face of [[purchaseAttribution]]: every purchase emits,
    * matched or not — but in streaming the null-joined row for an
    * unmatched purchase is emitted only when the purchase's STATE is
    * evicted (no future click can legally match it anymore), so emission
    * time depends on the watermark even when the match set does not.
    * That eviction-emission boundary is what IjoinProbeSpec pins and
    * [[intervalJoinOuterAudit]] replays. */
  def purchaseAttributionOuter(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") <= col("p_ts"),
      "left_outer")
  }

  /** Exact micro-batch replay of [[purchaseAttribution]]'s stream-stream
    * interval join — the batch face that grades the one streaming
    * behavior a streaming run cannot show: which (purchase, click)
    * matches the join MISSES because late input was dropped or
    * watermark-expired state was already evicted.
    *
    * Replay contract — pinned against REAL MemoryStream runs in
    * ModulesSpec (IjoinProbe scenarios), including the boundary cases:
    *   - each SIDE carries its own watermark (the filter runs before
    *     withWatermark), and the operator sees their MIN (Spark's
    *     default multipleWatermarkPolicy): W(k) = min(max click-second,
    *     max purchase-second over STRICTLY earlier batches) − delaySec,
    *     null until BOTH sides have appeared (an absent side holds the
    *     watermark at −inf — measured: wm stays epoch 0).
    *   - late-input drop, both sides: a row of batch k with
    *     sec <= W(k) never enters the join (EQUALITY DROPS — measured:
    *     a purchase exactly AT the watermark is counted in
    *     numRowsDroppedByWatermark).
    *   - state eviction needs NO term of its own: Spark derives each
    *     side's state watermark FROM the join condition (clicks evicted
    *     only once c_sec + rangeSec < W, purchases once p_sec < W), so
    *     an in-state row is evicted only when every purchase/click that
    *     could still match it would itself be dropped as late input —
    *     measured: a click with c <= W < c+range stayed in state and
    *     matched an on-time purchase. For the INNER join the observable
    *     contract is exactly: emitted ⟺ the range condition holds and
    *     NEITHER row was late on arrival.
    *
    * Scale shape: ONE corpus scan splits into the two sides; the pair
    * probe is an equi-join on the user key (time bounds as residuals —
    * per-user candidate groups are bounded by the join's own range
    * premise); the watermark table is micro-batch-count-sized and
    * broadcast. All arithmetic on integer epoch seconds — the DuckDB
    * oracle replays it verbatim (sub-second watermark effects are
    * outside the integer-seconds contract by construction). Returns one
    * row per purchase: (event_id, n_ideal, n_stream, n_missed) where
    * n_ideal is the PURE batch interval join over every row — so a
    * match streaming lost to a late arrival is a visible miss, the
    * number a streaming run can never report about itself. */
  def intervalJoinAudit(events: DataFrame,
      batchCol: org.apache.spark.sql.Column,
      delaySec: Long = 600L, rangeSec: Long = 600L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(batchCol.as("b"), col("user_id"), col("event_type"),
        col("event_id"), expr("unix_micros(ts) DIV 1000000").as("sec"))
    val wmW = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // per-batch per-side maxima -> per-side running max over earlier
    // batches -> min-of-sides watermark; micro-batch-count-sized frame
    val wm = e.groupBy(col("b"))
      .agg(max(when(col("event_type") === "click", col("sec"))).as("cmax"),
        max(when(col("event_type") === "purchase", col("sec"))).as("pmax"))
      .withColumn("wm",
        when(max(col("cmax")).over(wmW).isNotNull &&
             max(col("pmax")).over(wmW).isNotNull,
          least(max(col("cmax")).over(wmW), max(col("pmax")).over(wmW))
            - delaySec))
      .select(col("b"), col("wm"))
    // late flag, NOT a filter: n_ideal is the PURE batch join over every
    // row, so a match lost to the late-input drop is a visible miss
    val tagged = e.join(broadcast(wm), "b")
      .withColumn("late", col("wm").isNotNull && col("sec") <= col("wm"))
    val clicks = tagged.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("sec").as("csec"),
        col("late").as("clate"))
    val purchases = tagged.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("sec").as("psec"),
        col("late").as("plate"), col("event_id"))
    val pairs = purchases.join(clicks,
      col("pu") === col("cu") &&
        col("csec") >= col("psec") - rangeSec && col("csec") <= col("psec"),
      "left")
    pairs.groupBy(col("event_id"))
      .agg(count(col("cu")).as("n_ideal"),
        count(when(!col("clate") && !col("plate"), 1)).as("n_stream"))
      .select(col("event_id"), col("n_ideal"), col("n_stream"),
        (col("n_ideal") - col("n_stream")).as("n_missed"))
  }

  /** Exact micro-batch replay of [[purchaseAttributionOuter]] — the
    * LEFT-OUTER stream-stream interval join, where streaming semantics
    * genuinely bite: the null-joined row for an unmatched purchase is
    * emitted only at STATE EVICTION, so whether it is ever emitted
    * depends on the watermark even when the match set does not.
    *
    * Replay contract, measured against REAL MemoryStream runs
    * (IjoinProbeSpec outer scenarios + tools/OuterIjoinProbe):
    *   - matches: identical to [[intervalJoinAudit]]'s inner contract
    *     (min-of-sides watermark, equality-drops late rule);
    *   - null row: emitted iff the purchase arrived on time, emitted
    *     ZERO matches, and the FINAL watermark passed it STRICTLY
    *     (p_sec < W_final — measured: W == p does NOT emit, W == p+60
    *     does). W_final = min of the two sides' all-batches maxima −
    *     delay, null while either side has never appeared (an absent
    *     side holds the watermark at −inf; measured: no null rows
    *     without advancement). Spark flushes the eviction in the extra
    *     no-data micro-batch after the last data batch, which is why
    *     W_final includes the LAST batch's data (unlike the per-batch
    *     late-input watermark, which is strictly-earlier-batches).
    *   - a LATE purchase emits nothing at all — dropped before state,
    *     so it gets neither matches nor a null row.
    *
    * Scale shape: [[intervalJoinAudit]]'s (one corpus scan, user-keyed
    * equi-join with residual time bounds, broadcast micro-batch-sized
    * watermark table) plus ONE extra 1-row aggregate for the final
    * watermark, broadcast into the per-purchase frame. Returns one row
    * per purchase: (event_id, n_ideal, n_stream, n_missed, outer_null)
    * — outer_null ∈ {0,1} is whether the streaming run ever tells you
    * this purchase had no attributable click; n_ideal > 0 with
    * n_stream = 0 and outer_null = 1 is the poisoned case the audit
    * exists for: the stream REPORTS "no clicks" for a purchase that
    * ideally had some. */
  def intervalJoinOuterAudit(events: DataFrame,
      batchCol: org.apache.spark.sql.Column,
      delaySec: Long = 600L, rangeSec: Long = 600L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(batchCol.as("b"), col("user_id"), col("event_type"),
        col("event_id"), expr("unix_micros(ts) DIV 1000000").as("sec"))
    val wmW = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wm = e.groupBy(col("b"))
      .agg(max(when(col("event_type") === "click", col("sec"))).as("cmax"),
        max(when(col("event_type") === "purchase", col("sec"))).as("pmax"))
      .withColumn("wm",
        when(max(col("cmax")).over(wmW).isNotNull &&
             max(col("pmax")).over(wmW).isNotNull,
          least(max(col("cmax")).over(wmW), max(col("pmax")).over(wmW))
            - delaySec))
      .select(col("b"), col("wm"))
    // FINAL watermark: min of the two sides' all-rows maxima − delay —
    // the value the flush-eviction no-data batch runs with
    val wf = e.agg(
      max(when(col("event_type") === "click", col("sec"))).as("cm"),
      max(when(col("event_type") === "purchase", col("sec"))).as("pm"))
      .select(when(col("cm").isNotNull && col("pm").isNotNull,
        least(col("cm"), col("pm")) - delaySec).as("wf"))
    val tagged = e.join(broadcast(wm), "b")
      .withColumn("late", col("wm").isNotNull && col("sec") <= col("wm"))
    val clicks = tagged.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("sec").as("csec"),
        col("late").as("clate"))
    val purchases = tagged.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("sec").as("psec"),
        col("late").as("plate"), col("event_id"))
    val pairs = purchases.join(clicks,
      col("pu") === col("cu") &&
        col("csec") >= col("psec") - rangeSec && col("csec") <= col("psec"),
      "left")
    pairs.groupBy(col("event_id"), col("psec"), col("plate"))
      .agg(count(col("cu")).as("n_ideal"),
        count(when(!col("clate") && !col("plate"), 1)).as("n_stream"))
      .crossJoin(broadcast(wf))
      .select(col("event_id"), col("n_ideal"), col("n_stream"),
        (col("n_ideal") - col("n_stream")).as("n_missed"),
        when(!col("plate") && col("n_stream") === 0 &&
          col("wf").isNotNull && col("psec") < col("wf"), 1L)
          .otherwise(0L).as("outer_null"))
  }

  /** Watermarked per-window distinct-user estimate PLUS the mergeable HLL
    * sketch state itself. The streamed sketches land in the sink next to
    * the estimates, so any coarser rollup (hourly→daily→monthly distinct
    * users) is a later batch `Sketches.hllUnion` over the stored binaries —
    * no stream reprocessing, no raw-id retention. This is the streaming
    * face of the incremental-rollup path on `graft.sketches.Sketches`. */
  def windowedUserSketches(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        graft.sketches.Sketches.hllSketch(col("user_id")).as("user_sketch"))
      .select(col("w.start").as("ws"), col("approx_users"), col("user_sketch"))

  /** Batch face of [[valueAlerts]]: with the canonical (ts, event_id)
    * processing order, the state machine's emissions are exactly the
    * rows where the per-user cumulative value crosses a multiple of the
    * step. Replayed in exact centi-int64 — a running DOUBLE sum would
    * hash-diverge across engines (DuckDB's segment-tree window
    * re-associates additions) — and the floor division is spelled
    * sign-safely via pmod, so Spark's truncating DIV matches DuckDB's
    * flooring `//` on any value domain. One shuffle on the user key;
    * windows entity-partitioned. Graded as `st_alerts`; streaming
    * parity under in-order arrival pinned in ModulesSpec. Returns one
    * row per crossing: (user_id, n_events, total_centi). */
  def thresholdAlertsReplay(events: DataFrame,
      stepCenti: Long = 10000L): DataFrame = {
    require(stepCenti > 0, s"bad stepCenti=$stepCenti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    events
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("CAST(round(coalesce(value, 0) * 100, 0) AS BIGINT)").as("vc"))
      .withColumn("n_events", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("vc")).over(w))
      .filter(expr(s"(cum - pmod(cum, $stepCenti)) DIV $stepCenti > " +
        s"((cum - vc) - pmod(cum - vc, $stepCenti)) DIV $stepCenti"))
      .select(col("user_id"), col("n_events"), col("cum").as("total_centi"))
  }

  /** Custom per-key state machine via flatMapGroupsWithState — the
    * "arbitrary stateful op" tier that windows can't express: tracks a
    * running per-user (count, sum, max) and EMITS A ROW ONLY WHEN the
    * cumulative value crosses a threshold multiple (an alerting shape).
    * State is a 3-field case class per user; event-time timeout clears
    * idle users once the watermark passes them. */
  def valueAlerts(events: DataFrame, step: Double = 100.0): org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark("ts", "10 minutes")
      // keep ts as the watermarked TimestampType attribute — casting it
      // would strip the event-time tag and EventTimeTimeout rejects the plan
      .select(col("user_id").as[Long], col("value").as[Double],
        col("ts").as[java.sql.Timestamp])
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, Double, java.sql.Timestamp)],
            state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (n, total) = state.getOption.getOrElse((0L, 0.0))
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
            var lastMs = 0L
            rows.foreach { case (_, v, ts) =>
              val before = (total / step).toLong
              n += 1; total += v
              lastMs = math.max(lastMs, ts.getTime)
              val after = (total / step).toLong
              if (after > before) out += ((user, n, total))
            }
            state.update((n, total))
            // anchor on the entity's last event, floored at the
            // watermark: a watermark-only anchor is 0/epoch in the first
            // micro-batch, and the next batch would wipe every entity
            // (the streamingFunnel restart bug, fixed in both places)
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs(), lastMs) + 3600000L)
            out.iterator
          }
      }
  }

  /** Streaming EWMA — the online face of `graft.operators.Timeseries
    * .ewma`: the recursion e₁ = v₁, e = α·v + (1−α)·e IS the streaming-
    * native form of the batch closed-form weighted sum (the closed form
    * exists precisely because batch has no per-row state to carry).
    * Emits one `(user_id, n_events, ewma)` row per entity per
    * micro-batch (its post-batch state — the live-dashboard feed).
    *
    * Determinism: batch rows fold in (ts, event_id) order inside the
    * group, so a single batch processes exactly like the batch
    * operator; across batches the result equals the batch answer up to
    * double rounding whenever per-user arrival respects event order —
    * the recursion and the closed-form sum associate differently, so
    * agreement is ~1e-12 relative (ModulesSpec pins 1e-9), not
    * bit-equality. Idle entities are cleared by event-time timeout
    * anchored on the entity's LAST event floored at the watermark (the
    * streamingFunnel discipline — never the watermark alone). */
  def streamingEwma(events: DataFrame, alpha: Double = 0.125,
      idleTimeoutMs: Long = 24L * 3600 * 1000)
      : org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as[Long], col("value").as[Double],
        col("ts").as[java.sql.Timestamp], col("event_id").as[Long])
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, Double, java.sql.Timestamp, Long)],
            state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (n, e) = state.getOption.getOrElse((0L, 0.0))
            var lastMs = 0L
            // fold in event order within the batch — single-batch
            // processing is then identical to the batch operator's
            rows.toSeq.sortBy(r => (r._3.getTime, r._4)).foreach {
              case (_, v, ts, _) =>
                e = if (n == 0) v else alpha * v + (1 - alpha) * e
                n += 1
                lastMs = math.max(lastMs, ts.getTime)
            }
            state.update((n, e))
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs(), lastMs) + idleTimeoutMs)
            Iterator.single((user, n, e))
          }
      }
  }

  /** Streaming funnel — the streaming face of `graft.operators.Funnel`:
    * per-user conversion progress held in keyed state, emitting one row
    * `(user_id, depth, ts_us)` each time a user ADVANCES to the next
    * stage (the "user reached checkout" trigger feed funnels exist for
    * in production). Same greedy strict-order semantics as the batch
    * fold, including the optional conversion window between consecutive
    * stages; state per user is two fields (depth + matched-event
    * micros), so RocksDB holds a users-sized state comfortably at
    * stream scale.
    *
    * Determinism: each micro-batch's rows are sorted by (ts, event_id)
    * inside the group before folding, so a batch is processed exactly
    * like the batch operator would. Across micro-batches the fold is
    * greedy in arrival order (an event arriving after a later-ts event
    * of the same user is folded late) — equal to the batch answer
    * whenever per-user arrival respects event order across batches, the
    * same contract the near-dup filter documents. Completed or idle
    * users are cleared by event-time timeout `idleTimeoutMs` past the
    * entity's LAST EVENT (floored at watermark + horizon; default 24 h
    * — size it to how long a conversion may stall in YOUR event time,
    * since a cleaned entity that returns restarts at depth 0). The
    * timeout deliberately does not anchor on the watermark alone: in
    * the first micro-batch the pre-batch watermark is still 0/epoch,
    * so a watermark-anchored timeout lands in 1970 and the very next
    * (even empty) micro-batch would wipe every entity's state — a
    * restart after that point silently restarts every funnel at
    * depth 0 (caught by the ModulesSpec restart test). */
  def streamingFunnel(events: DataFrame, stages: Seq[String],
      windowUs: Option[Long] = None,
      idleTimeoutMs: Long = 24L * 3600 * 1000)
      : org.apache.spark.sql.Dataset[(Long, Int, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(stages.nonEmpty && stages.distinct.size == stages.size,
      s"stages must be non-empty and distinct: $stages")
    val spark = events.sparkSession
    import spark.implicits._
    val nextStage = stages.zipWithIndex.map { case (s, i) => (i, s) }.toMap
    val typed = events
      .filter(col("user_id").isNotNull)
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as[Long], col("event_id").as[Long],
        col("event_type").as[String], col("ts").as[java.sql.Timestamp])
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Int, Long), (Long, Int, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long,
            rows: Iterator[(Long, Long, String, java.sql.Timestamp)],
            state: GroupState[(Int, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (d, mts) = state.getOption.getOrElse((0, 0L))
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Int, Long)]
            val ordered = rows.toSeq.sortBy { case (_, eid, _, ts) =>
              (ts.getTime / 1000 * 1000000L + ts.getNanos / 1000, eid)
            }
            var lastMs = 0L
            ordered.foreach { case (_, _, t, ts) =>
              val us = ts.getTime / 1000 * 1000000L + ts.getNanos / 1000
              lastMs = math.max(lastMs, us / 1000)
              if (nextStage.get(d).contains(t) &&
                  (d == 0 || windowUs.forall(w => us <= mts + w))) {
                d += 1; mts = us
                out += ((user, d, us))
              }
            }
            state.update((d, mts))
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs(), lastMs) + idleTimeoutMs)
            out.iterator
          }
      }
  }

  /** Streaming NEAR-duplicate filter — the streaming face of
    * `graft.dedup`'s simhash family: each arriving document is tagged
    * against every previously-seen document in its simhash block
    * (`dup_of` = the earlier doc's id and `dist` its Hamming distance, or
    * (-1, -1) for a first-seen keeper, which then joins the block's state).
    *
    * Blocking is ONE band: the top `blockBits` of the 48-bit simhash key
    * the state partition, so only same-block candidates are compared —
    * near-dups that differ inside those top bits are missed (the standard
    * single-band recall tradeoff; run `graft.dedup.simhashPairs` in batch
    * for the exact multi-band answer). In exchange, state and compare cost
    * are per-block, the shuffle key is a long, and a hot block is capped at
    * `maxBucket` signatures (beyond it new docs are still emitted as
    * keepers but not added to state — bounded memory at unbounded stream
    * length; put the state store on RocksDB via [[withRocksDBState]] for
    * the 100 TB posture). First-seen-wins follows arrival order across
    * micro-batches; within one batch it follows Spark's group iteration
    * order. */
  def streamingNearDupFilter(docs: DataFrame, idCol: String, textCol: String,
      blockBits: Int = 16, maxHamming: Int = 6, maxBucket: Int = 4096)
      : org.apache.spark.sql.Dataset[(Long, Long, Int)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(blockBits >= 1 && blockBits <= 47, s"blockBits out of range: $blockBits")
    val spark = docs.sparkSession
    import spark.implicits._
    val typed = docs.select(col(idCol).cast("long"),
      graft.dedup.simHash48(col(textCol))).as[(Long, Long)]
    typed.groupByKey { case (_, sh) => sh >>> (48 - blockBits) }
      .flatMapGroupsWithState[List[(Long, Long)], (Long, Long, Int)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, Long)],
            state: GroupState[List[(Long, Long)]]) =>
          var seen = state.getOption.getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
          rows.foreach { case (id, sh) =>
            val hit = seen.iterator
              .map { case (sid, ssh) => (sid, java.lang.Long.bitCount(sh ^ ssh)) }
              .filter(_._2 <= maxHamming)
              .minByOption(_._2)
            hit match {
              case Some((dupOf, d)) => out += ((id, dupOf, d))
              case None =>
                out += ((id, -1L, -1))
                if (seen.size < maxBucket) seen = (id, sh) :: seen
            }
          }
          state.update(seen)
          out.iterator
      }
  }

  /** CANONICAL-ORDER batch face of [[streamingNearDupFilter]] (r11
    * verdict Next #5 — the thresholdAlertsReplay/lateDataAudit
    * precedent): the identical per-block greedy state machine run under
    * a DEFINED arrival order — ascending doc id, one doc at a time —
    * instead of whatever order the micro-batches happened to deliver.
    * That replaces the one arrival-order-dependent graded face with a
    * deterministic, config-independent, fully-oracle-checkable one: the
    * DuckDB replay walks the same recursion over the dumped simhash
    * signatures (aux_neardup_sigs — xxhash64 is not SQL-replayable, the
    * state machine over the dump is).
    *
    * Semantics replicated EXACTLY from the streaming loop (same code
    * shape, same tie-breaks): a doc matches the minimum-Hamming keeper
    * (<= maxHamming) seen so far in its block, ties to the LATEST-added
    * keeper (the streaming `seen` list is prepend-ordered and
    * minByOption takes the first minimum); keepers append to state only
    * while the block holds fewer than `maxBucket` signatures. Streaming
    * parity is pinned in ModulesSpec by feeding the real
    * flatMapGroupsWithState run one doc per micro-batch in id order.
    *
    * Scale posture: `flatMapSortedGroups` gets Spark to sort WITHIN the
    * exchange (secondary sort, spill-safe) — no per-group
    * collect-and-sort, state still <= maxBucket per block. */
  def nearDupFilterCanonical(docs: DataFrame, idCol: String, textCol: String,
      blockBits: Int = 16, maxHamming: Int = 6, maxBucket: Int = 4096)
      : org.apache.spark.sql.Dataset[(Long, Long, Int)] = {
    require(blockBits >= 1 && blockBits <= 47, s"blockBits out of range: $blockBits")
    val spark = docs.sparkSession
    import spark.implicits._
    val typed = docs.select(col(idCol).cast("long").as("_1"),
      graft.dedup.simHash48(col(textCol)).as("_2")).as[(Long, Long)]
    typed.groupByKey { case (_, sh) => sh >>> (48 - blockBits) }
      .flatMapSortedGroups(col("_1")) { (_: Long, rows: Iterator[(Long, Long)]) =>
        var seen: List[(Long, Long)] = Nil
        rows.map { case (id, sh) =>
          val hit = seen.iterator
            .map { case (sid, ssh) => (sid, java.lang.Long.bitCount(sh ^ ssh)) }
            .filter(_._2 <= maxHamming)
            .minByOption(_._2)
          hit match {
            case Some((dupOf, d)) => (id, dupOf, d)
            case None =>
              if (seen.size < maxBucket) seen = (id, sh) :: seen
              (id, -1L, -1)
          }
        }
      }
  }

  /** Streaming decontamination prefilter — the stream-static shape of
    * [[graft.dedup.crossContamination]]: a Bloom filter built ONCE over the
    * static eval corpus's n-gram shingle hashes rides into the stream as a
    * broadcast literal, and each arriving document counts its shingles that
    * might be eval shingles, entirely map-side. Zero shuffle, zero
    * streaming state, works identically on a batch frame (asserted in
    * tests) — at 100 TB/day of stream this is scan-speed flagging.
    *
    * Bloom semantics: NO false negatives (a truly contaminated doc always
    * flags — `n_shared` is an upper bound of the true shared count), ~fpp
    * false positives per clean shingle. Route flagged docs to the exact
    * batch verifier (`crossContamination`); the clean stream passes
    * through unverified. */
  def streamingContaminationFlag(docs: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, n: Int = 2, minShared: Int = 2,
      expectedShingles: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val bf = evalDocs
      .select(explode(graft.dedup.wordShingles(col(textCol), n)).as("gs"))
      .select(xxhash64(col("gs")).as("h"))
      .stat.bloomFilter("h", expectedShingles, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bytes = bos.toByteArray
    def might(key: org.apache.spark.sql.Column) =
      GraftBridge.column(BloomFilterMightContain(
        Literal.create(bytes),
        GraftBridge.expression(xxhash64(key))))
    // null text -> null shingles -> null size; clamp so a null-text row is
    // an explicit non-flag instead of a silent null in a boolean column
    val shared = coalesce(size(filter(
      graft.dedup.wordShingles(col(textCol), n), g => might(g))), lit(0))
    docs.select(col(idCol), shared.as("n_shared"),
      (shared >= minShared).as("flagged"))
  }

  /** Stream-static as-of enrichment — "state as of event time" on a live
    * stream: each arriving row gains the latest `payloadCol` from the
    * STATIC `right` frame with right.ts <= row.ts on the same key
    * (backward-inclusive, the asofJoin default). The right side collects
    * once into the sorted table of [[graft.functions.AsofLookup]], whose
    * kernel resolves each row in a projection, so the stream is never
    * shuffled and no streaming state accrues — the same zero-shuffle
    * contract as [[streamingContaminationFlag]]'s broadcast Bloom, and the
    * same table and kernel as
    * [[graft.operators.AsofJoin.asofJoinBroadcast]]. Works identically on
    * a batch frame (asserted in tests + the ev_asof_lookup oracle). The
    * stream's key and ts are cast to the right side's types. Right side
    * must be dimension-sized — the broadcast-join bound. */
  def streamingAsofEnrich(stream: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, payloadCol: String): DataFrame =
    stream.withColumn(s"asof_$payloadCol",
      graft.functions.AsofLookup.asofLookup(right, keyCol, tsCol, payloadCol)(
        col(keyCol), col(tsCol)))

  /** Back streaming state with RocksDB instead of the default in-JVM-heap
    * HDFS-backed store — the 100 TB knob: state size is bounded by local
    * disk (with block-cache in native memory), not executor heap, so
    * million-key session/dedup state stops competing with shuffle buffers
    * for heap and GC. Changelog checkpointing ships deltas, not full
    * SST dumps, per commit. Takes effect for queries STARTED after the
    * call; returns the session for chaining. */
  def withRocksDBState(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    spark
  }

  /** Run a streaming query to completion against a bounded input (test
    * harness: memory sink + processAllAvailable). Returns the sink table. */
  def runToMemory(df: DataFrame, name: String, outputMode: String = "append")(
      implicit spark: SparkSession): DataFrame = {
    val q = df.writeStream
      .format("memory").queryName(name).outputMode(outputMode)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
