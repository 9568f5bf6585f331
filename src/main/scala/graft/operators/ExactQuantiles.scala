package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Broadcasts, Partitions}
import graft.functions.QuantileExprs

/** EXACT distributed quantiles without a global sort — iterative
  * select-k by histogram bisection over the order-preserving long image
  * of the double column ([[QuantileExprs.DoubleSortableBits]]).
  *
  * Spark's own exact `percentile` aggregate buffers every value of a
  * group in executor memory (OpenHashMap per group) and
  * `approx_percentile` is approximate by construction; sorting 100 TB to
  * read 5 order statistics is a full shuffle of the corpus. This
  * operator computes DuckDB-exact `quantile_disc` values in at most
  * ceil(64/12) = 6 linear SCANS with no shuffle at all:
  *
  *   1. one pass: non-null count n + global [min, max] (as sortable
  *      longs); rank k_p = max(1, ceil(p*n)) per requested prob — the
  *      `quantile_disc` convention, pinned against DuckDB.
  *   2. per round, ONE filtered scan histograms every still-active
  *      prob's range into <= 2^13 shift-based buckets (integer
  *      arithmetic on the sortable image — `(v - lo) >>> shift` — so
  *      bucket edges are EXACT, no float-boundary misassignment), via
  *      an explode over the per-prob range branches and one small
  *      (prob, bucket) count aggregate. Walking the cumulative counts
  *      picks the bucket holding rank k and narrows the range by 2^12.
  *   3. when a range's width fits inside one bucket span (shift 0),
  *      buckets ARE individual values and the answer is read off
  *      directly — ties, duplicates and NaN-free data all resolve
  *      without ever collecting values.
  *
  * 100 TB posture: no corpus-sized shuffle anywhere — each round's only
  * exchange carries the map-side-combined (prob, bucket) partial counts,
  * <= probs * 2^13 rows per task. <= 7 scans total for any number of
  * probs (all active probs share each scan), and every round's scan
  * carries a plain double BETWEEN filter over the enclosing range (the
  * sortable map is monotone and self-inverse) that parquet row-group
  * min/max stats prune on — later rounds touch a shrinking fraction of
  * the corpus.
  * Driver state is `probs * 8192` count rows per round, bounded by
  * construction. NaN follows the IEEE total order (above +Infinity),
  * matching Spark sort semantics; nulls are excluded like every SQL
  * aggregate.
  */
object ExactQuantiles {

  /** Returns (prob, value) with value the exact `quantile_disc(p)`
    * element of `valueCol`; empty input yields null values. */
  def exactQuantiles(df: DataFrame, valueCol: String, probs: Seq[Double],
      log2Buckets: Int = 12): DataFrame = {
    require(probs.nonEmpty, "probs must be non-empty")
    require(probs.forall(p => p >= 0.0 && p <= 1.0), s"probs in [0,1]: $probs")
    require(log2Buckets >= 1 && log2Buckets <= 20, s"bad log2Buckets=$log2Buckets")
    val spark = df.sparkSession
    import spark.implicits._

    val v = col(valueCol).cast("double")
    val base = df.select(v.as("v")).filter(col("v").isNotNull)
    val sv = QuantileExprs.doubleSortableBits(col("v"))

    // FUSED first pass (r13, guide §2.4 — remove a full corpus scan):
    // the old pass 1 (count + min/max) and the old round 1 EACH read
    // the entire column, and round 1's explode carried one branch per
    // prob over the IDENTICAL [global min, max] range — |probs|x the
    // full row stream for the same information. One unconditional
    // histogram over the FULL sortable-long range replaces both: the
    // bucket counts give every prob its starting range AND n (the
    // histogram total), with no branch array and no explode. Rounds
    // still converge in <= 6 total scans (round 0 removes log2Buckets
    // bits of the 64-bit span exactly like any other round).
    val shift0 = 64 - log2Buckets
    val h0 = base
      .select(QuantileExprs.sortableBucket(sv, Long.MinValue, shift0).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
      .collect() // bounded: <= 2^log2Buckets rows
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toVector
    val n = h0.iterator.map(_._2).sum
    if (n == 0L)
      return probs.toDF("prob").select(col("prob"),
        lit(null).cast("double").as("value"))

    // quantile_disc rank: k = max(1, ceil(p*n)), 1-based k-th smallest
    final case class St(var k: Long, var lo: Long, var hi: Long,
      var done: Boolean = false)
    val st = probs.map { p =>
      St(math.max(1L, math.ceil(p * n).toLong), Long.MinValue, Long.MaxValue)
    }.toArray
    // walk the shared round-0 histogram per prob: narrow each range to
    // its rank's bucket (the same arithmetic as the loop's else-branch;
    // shift0 >= 44 > 0, so round 0 is never terminal)
    st.foreach { s =>
      var k = s.k
      var j = 0
      while (h0(j)._2 < k) { k -= h0(j)._2; j += 1 }
      val b = h0(j)._1
      s.lo = Long.MinValue + (b << shift0)
      s.hi = s.lo + ((1L << shift0) - 1L)
      s.k = k
    }

    var guard = 0
    while (st.exists(!_.done)) {
      guard += 1
      require(guard <= 8, "bisection failed to converge (impossible: " +
        "each round removes >= log2Buckets bits)") // 64/12 -> <= 6 rounds
      val active = st.zipWithIndex.filter(!_._1.done)
      // IDENTICAL ranges share one scan branch and one bucket walk
      // (common: adjacent probs whose ranks landed in the same bucket
      // last round — each scanned row then feeds ONE branch, not one
      // per prob)
      val ginfo = active.map { case (s, _) => (s.lo, s.hi) }.distinct
      val gid = ginfo.zipWithIndex.toMap
      // per-range shift: bucket = (sv - lo) >>> shift, <= 2^(log2Buckets+1)
      // buckets; shift 0 means buckets are single values (terminal round)
      val shifts = ginfo.map { case (lo, hi) =>
        val dist = hi - lo // exact UNSIGNED distance (lo <= hi signed)
        val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(dist)
        math.max(0, bitlen - log2Buckets)
      }
      // one scan: per-range double prefilter, OR'd (pushdown-able —
      // parquet row-group min/max stats evaluate range disjunctions, so
      // once the ranges narrow past round 0 the scan prunes almost
      // everything instead of re-reading the whole column). A NaN
      // endpoint (NaN is above +Inf in the sortable order) would
      // false-out a double comparison — drop that side of that range;
      // the per-range sortable-long branch conditions stay exact either way
      val pre = ginfo.map { case (lo, hi) =>
        val dLo = QuantileExprs.fromSortable(lo)
        val dHi = QuantileExprs.fromSortable(hi)
        (if (dLo.isNaN) lit(true) else col("v") >= lit(dLo)) &&
          (if (dHi.isNaN) lit(true) else col("v") <= lit(dHi))
      }.reduce(_ || _)
      // each branch encodes (range index, bucket) in ONE long
      // (g << 24 | bucket; bucket <= 2^(log2Buckets+1) <= 2^21 < 2^24 for
      // any allowed log2Buckets, and g is the tiny range index): a
      // primitive-long explode + single-key aggregate, no struct arrays
      val branches = ginfo.zip(shifts).zipWithIndex.map {
        case (((lo, hi), sh), g) =>
          when(sv >= lit(lo) && sv <= lit(hi),
            lit(g.toLong << 24) + QuantileExprs.sortableBucket(sv, lo, sh))
      }
      val hist = base
        .filter(pre)
        .select(explode(filter(array(branches: _*), x => x.isNotNull)).as("ib"))
        .groupBy(col("ib"))
        .agg(count(lit(1)).as("c"))
        .collect() // bounded: <= ranges * 2^(log2Buckets+1) rows
        .groupBy(r => (r.getLong(0) >>> 24).toInt)
        .map { case (g, rows) =>
          g -> rows.map(r => (r.getLong(0) & ((1L << 24) - 1)) -> r.getLong(1))
            .sortBy(_._1).toVector }
      active.foreach { case (s, _) =>
        val g = gid((s.lo, s.hi))
        val sh = shifts(g)
        var k = s.k
        val buckets = hist(g)
        var j = 0
        while (buckets(j)._2 < k) { k -= buckets(j)._2; j += 1 }
        val b = buckets(j)._1
        if (sh == 0) { // buckets are single sortable values: resolved
          s.lo = s.lo + b; s.hi = s.lo; s.done = true
        } else {
          val newLo = s.lo + (b << sh)
          val span = (1L << sh) - 1L
          // unsigned min(hi, newLo + span)
          val cand = newLo + span
          s.hi = if (java.lang.Long.compareUnsigned(cand - s.lo, s.hi - s.lo) < 0)
            cand else s.hi
          s.lo = newLo
          s.k = k
          if (s.lo == s.hi) s.done = true
        }
      }
    }
    probs.zip(st).map { case (p, s) =>
      (p, QuantileExprs.fromSortable(s.lo)) }
      .toDF("prob", "value")
  }

  /** Per-GROUP exact `quantile_disc` — the grouped face. The naive
    * spellings both break at scale: Spark's exact `percentile`
    * aggregate buffers every group value in executor memory, and the
    * `row_number() OVER (PARTITION BY g ORDER BY v)` window puts an
    * entire group in ONE task, so a hot group (half the corpus sharing
    * one key) serializes and spills. This ranks through the running
    * count of [[graft.core.Partitions.runningSums]] grouped by g
    * instead: a huge group SPANS range partitions, and its offsets run
    * over <= #partitions rows. No driver action, no single-task group,
    * ~2 corpus shuffles total; every requested prob reads off the same
    * ranked frame.
    *
    * Returns (g, prob, value); groups ordered any way, values actual
    * elements (rank k = max(1, ceil(p*n)) — the quantile_disc
    * convention, ties resolving to the same VALUE under any tie
    * permutation). */
  def exactQuantilesByGroup(df: DataFrame, groupCol: String,
      valueCol: String, probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty, "probs must be non-empty")
    require(probs.forall(p => p >= 0.0 && p <= 1.0), s"probs in [0,1]: $probs")
    val base = df.select(col(groupCol).as("g"),
        col(valueCol).cast("double").as("v"), lit(1L).as("n"))
      .filter(col("v").isNotNull && col("g").isNotNull)
    val ranked = Partitions.runningSums(base, Seq(col("v")), Seq("n"), Seq("g"))
    val targets = explode(array(probs.map(p =>
      struct(lit(p).as("prob"),
        greatest(lit(1L), ceil(lit(p) * col("tot_n")).cast("long")).as("k"))
    ): _*)).as("t")
    ranked.select(col("g"), col("v"), col("cum_n").as("rn"), targets)
      .filter(col("rn") === col("t.k"))
      .select(col("g"), col("t.prob").as("prob"), col("v").as("value"))
  }

  /** Robust outlier report via median absolute deviation — the
    * composition the exact-quantile machinery exists for: a z-score
    * cut needs mean/stddev (both wrecked by the outliers it hunts),
    * MAD is the robust estimator (Hampel 1974).
    *
    *   med = exact median of v per group (quantile_disc element)
    *   mad = exact median of |v − med| per group
    *   outlier ⇔ |v − med| · kDen > mad · kNum   (default 3×)
    *
    * Everything is either an ACTUAL data element (med, mad — picked by
    * rank, identical doubles in any engine) or a single IEEE op on such
    * elements (the subtraction, the two comparison products), so the
    * report hashes identically cross-engine with no quantization step.
    *
    * Plan shape: two [[exactQuantilesByGroup]] passes (each ~2 shuffles
    * over (group, value) pairs, never a per-group sort of the corpus in
    * one task) plus two group-keyed joins of group-sized frames back
    * onto the corpus. The deviations frame is computed once and feeds
    * both the mad quantile and the outlier count.
    *
    * Returns (g, n, med, mad, n_outliers) per group. */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      kNum: Long = 3L, kDen: Long = 1L): DataFrame = {
    require(kNum >= 0 && kDen >= 1, s"bad k = $kNum/$kDen")
    val base = df.select(col(groupCol).as("g"),
        col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull && col("g").isNotNull)
    // med/mad are GROUP-sized (one row per group): broadcast them so
    // the corpus-sized dev frame is never shuffled by g just to attach
    // one double per group — but GATED on a counted byte budget (r12
    // advice: group cardinality is unbounded — a near-unique group
    // column would make an unconditional broadcast corpus-sized).
    // The pinning job counts the rows, so the join reads the blocks
    // it sized; above the gate, shuffled-hash with the group-sized
    // build side.
    def gated(d: DataFrame): DataFrame = {
      val (pinned, attach) = Broadcasts.pinGated(d)
      attach(pinned)
    }
    val med = gated(exactQuantilesByGroup(base, "g", "v", Seq(0.5))
      .select(col("g"), col("value").as("med")))
    val dev = base.join(med, "g")
      .select(col("g"), col("med"), abs(col("v") - col("med")).as("dev"))
    val mad = gated(exactQuantilesByGroup(dev, "g", "dev", Seq(0.5))
      .select(col("g"), col("value").as("mad")))
    dev.join(mad, "g")
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(col("dev") * kDen > col("mad") * kNum, 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Winsorized robust statistics per group: clip every value into the
    * group's exact [pLo, pHi] quantile interval and aggregate the
    * clipped column — the standard way to report a mean that one fat
    * tail cannot own (ad spend, request latency, doc length) while
    * keeping every row counted, unlike trimming.
    *
    * The clip bounds are ACTUAL data elements from
    * [[exactQuantilesByGroup]] (no interpolation), the clip is pure
    * comparison/selection, and the clipped sum is centi-quantized
    * (floor(w·100), one IEEE multiply+floor per row) before the int64
    * aggregate — so the whole report is order-independent and replays
    * hash-exact against SQL `quantile_disc` + the same clip. Plan:
    * one grouped-quantile pass (~2 shuffles, no single-task group), a
    * broadcast of the group-sized bounds table, one clip-and-aggregate
    * corpus pass.
    *
    * Returns (groupCol, n, n_clip_lo, n_clip_hi, lo, hi, wsum_centi). */
  def winsorizedStats(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(0.0 <= pLo && pLo < pHi && pHi <= 1.0, s"bad [$pLo, $pHi]")
    val base = df.select(col(groupCol).as("g"),
        col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull && col("g").isNotNull)
    // group-sized: pinned and counted in one job, then the same
    // counted byte-gate as madOutliers (group cardinality is
    // unbounded; an unconditional broadcast would be too)
    val (bounds, attach) = Broadcasts.pinGated(
      exactQuantilesByGroup(base, "g", "v", Seq(pLo, pHi))
        .groupBy(col("g")).agg(
          min(when(col("prob") === pLo, col("value"))).as("lo"),
          min(when(col("prob") === pHi, col("value"))).as("hi")))
    base.join(attach(bounds), "g")
      .withColumn("w", least(greatest(col("v"), col("lo")), col("hi")))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        min(col("lo")).as("lo"), min(col("hi")).as("hi"),
        sum(floor(col("w") * 100).cast("long")).as("wsum_centi"))
      .withColumnRenamed("g", groupCol)
  }
}
