package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** As-of join: for every left row, the latest right row with
  * right.ts <= left.ts on the same key — the feature-pipeline staple
  * ("state as of event time") that Spark has no native operator for
  * (DuckDB: ASOF JOIN; the reference has no joins at all, SURVEY §2.6).
  *
  * Implementation is a SINGLE shuffle: tag both inputs, union them, and
  * run `last(payload, ignoreNulls)` over a key-partitioned window ordered
  * by (ts, side) with right rows sorting before co-timestamped left rows
  * (inclusive match). Cost profile = one sort-merge pass over
  * |left| + |right| rows — crucially NOT the naive range join, whose
  * candidate set is quadratic in rows-per-key. Skew caveat at 100 TB: a
  * single hot key serializes into one task; [[AsofJoin.asofJoinSalted]] is
  * the two-phase (key, time-bucket) variant that fans a hot key's timeline
  * out across tasks.
  */
object AsofJoin {

  private val MicrosPerDay = 86400000000L

  /** A key or ts column `c` of type `dt` as a long: micros since the epoch
    * for a timestamp or a date (a cast to long truncates a timestamp to
    * seconds, which would mis-break sub-second ties, and refuses a date),
    * the value itself otherwise. */
  private[graft] def asLong(c: Column, dt: DataType): Column = dt match {
    case TimestampType => unix_micros(c)
    case DateType => unix_date(c).cast(LongType) * lit(MicrosPerDay)
    case _ => c.cast(LongType)
  }

  /** |a - b| for two [[asLong]] values, in DECIMAL(21,0): a raw Long
    * difference wraps once the span exceeds Long range (mixed-sign extreme
    * ts) — unreachable for epoch timestamps, reachable for the arbitrary
    * long ts the signatures accept. */
  private def distance(a: Column, b: Column): Column =
    abs(a.cast("decimal(21,0)") - b.cast("decimal(21,0)"))

  /** `nearest`'s pick between the backward match `b` and the forward
    * match `f` (payload structs carrying the right ts, of type `rdt`, as
    * `__t`) for the left ts `lt`, an [[asLong]]. Ties (equal distance)
    * take the backward match; `<=` encodes that. */
  private def nearest(lt: Column, b: Column, f: Column, rdt: DataType): Column =
    when(b.isNull, f).when(f.isNull, b)
      .when(distance(lt, asLong(b.getField("__t"), rdt))
        <= distance(asLong(f.getField("__t"), rdt), lt), b)
      .otherwise(f)

  /** `payloadCols` are taken from `right`; emitted on each left row as
    * `asof_<name>` (null when no right row qualifies). Right rows must be
    * unique per (key, ts) for deterministic results — pre-aggregate
    * otherwise. `direction`:
    *  - `"backward"` (default): latest right with right.ts <= left.ts;
    *  - `"forward"`: earliest right with right.ts >= left.ts;
    *  - `"nearest"`: whichever of the two is closer in time, ties to the
    *    backward match (pandas `merge_asof` convention).
    * All three run on ONE shuffle of |left| + |right| rows; `nearest` adds
    * a second window sort over the same key partitioning (Catalyst reuses
    * the exchange — no extra shuffle). */
  def asofJoin(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, payloadCols: Seq[String],
      direction: String = "backward"): DataFrame = {
    // internal working columns; fail fast on collision rather than silently
    // producing wrong results for a left input that already has one of them
    Seq("__side", "__p", "__m", "__t").foreach { c =>
      require(!left.columns.contains(c) && !right.columns.contains(c),
        s"asofJoin: input already has a column named '$c' (reserved)")
    }
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"asofJoin: unknown direction '$direction'")
    // the payload struct carries the right ts as field __t so `nearest`
    // can compare time distances after the window pass
    val payload = struct(col(tsCol).as("__t") +: payloadCols.map(col): _*)
    val rightSchema = right
      .select(col(tsCol).as("__t") +: payloadCols.map(col): _*).schema

    val l = left
      .withColumn("__side", lit(1))
      .withColumn("__p", lit(null).cast(rightSchema))
    val r0 = right.select(col(keyCol), col(tsCol), payload.as("__p"))
      .withColumn("__side", lit(0))
    // align to the left schema: non-key left columns are null on right rows
    val r = r0.select(left.columns.toIndexedSeq.map { c =>
      if (c == keyCol || c == tsCol) col(c)
      else lit(null).cast(left.schema(c).dataType).as(c)
    } :+ col("__side") :+ col("__p"): _*)

    // right rows sort before co-timestamped left rows in BOTH directions
    // (side 0 first) => the match is inclusive (right.ts == left.ts counts)
    def w(tsOrder: Column) = Window.partitionBy(col(keyCol))
      .orderBy(tsOrder, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBack = w(col(tsCol).asc)
    val wFwd = w(col(tsCol).desc)

    val union = l.unionByName(r)
    val matched = direction match {
      case "backward" =>
        union.withColumn("__m", last(col("__p"), ignoreNulls = true).over(wBack))
      case "forward" =>
        union.withColumn("__m", last(col("__p"), ignoreNulls = true).over(wFwd))
      case "nearest" =>
        val b = last(col("__p"), ignoreNulls = true).over(wBack)
        val f = last(col("__p"), ignoreNulls = true).over(wFwd)
        union.withColumn("__m", nearest(asLong(col(tsCol), left.schema(tsCol).dataType),
          b, f, right.schema(tsCol).dataType))
    }

    val out = left.columns.toIndexedSeq.map(col) ++
      payloadCols.map(p => col("__m").getField(p).as(s"asof_$p"))
    matched.filter(col("__side") === 1).select(out: _*)
  }

  /** Backward as-of join — see [[asofJoin]]. */
  def asofJoinLast(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, payloadCols: Seq[String]): DataFrame =
    asofJoin(left, right, keyCol, tsCol, payloadCols, "backward"): DataFrame

  /** [[asofJoin]] with a match tolerance (the pandas `merge_asof`
    * `tolerance=` knob): a qualifying right row further than
    * `toleranceUs` microseconds (for timestamp or date ts; raw units for
    * integral ts) from the left row is treated as NO match — its
    * payload comes back null. Same single-shuffle plan as [[asofJoin]];
    * the tolerance is one post-window predicate on the same [[distance]]
    * as `nearest`'s tie-break, so arbitrary long ts cannot wrap. Works
    * for all three directions (the absolute distance is
    * direction-agnostic). */
  def asofJoinTolerance(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, payloadCols: Seq[String],
      toleranceUs: Long, direction: String = "backward"): DataFrame = {
    require(toleranceUs >= 0, s"toleranceUs must be >= 0: $toleranceUs")
    // ride the right ts through as an extra payload so the distance is
    // computable on the joined frame, then strip it if the caller
    // didn't ask for it
    val withTs =
      if (payloadCols.contains(tsCol)) payloadCols else payloadCols :+ tsCol
    val j = asofJoin(left, right, keyCol, tsCol, withTs, direction)
    val lt = asLong(col(tsCol), left.schema(tsCol).dataType)
    val rt = asLong(col(s"asof_$tsCol"), right.schema(tsCol).dataType)
    val within = rt.isNotNull &&
      distance(lt, rt) <= lit(toleranceUs).cast("decimal(21,0)")
    j.select(left.columns.toIndexedSeq.map(col) ++
      payloadCols.map(p =>
        when(within, col(s"asof_$p")).as(s"asof_$p")): _*)
  }

  /** Skew-safe (salted) as-of join: same output contract as [[asofJoin]],
    * but the heavy window partitions by (key, time bucket) instead of key
    * alone — the fix for the one scale hazard of the union+window form: a
    * single hot key (one instrument, one user) otherwise serializes its
    * whole timeline into one task.
    *
    * Two phases:
    *  1. per (key, bucket), summarize the last/first right payload; a
    *     window over the BUCKET SUMMARIES (at most `buckets` rows per key —
    *     never row-scale) turns those into carry-in state: the match a
    *     row at the bucket boundary would have found in earlier (backward)
    *     / later (forward) buckets;
    *  2. the usual tagged union of left + right rows, PLUS one synthetic
    *     carry row per (key, bucket), windowed by (key, bucket) — so the
    *     hot key's timeline fans out over up to `buckets` parallel tasks.
    *
    * Bucket boundaries come from one cheap min/max aggregate over both
    * inputs' ts. Null ts lands in bucket -1, reproducing the window form's
    * nulls-first-ascending placement exactly (null-ts right rows are
    * carry-visible to every later bucket in backward mode, and terminal in
    * forward mode). Differential-pinned against [[asofJoin]] under a
    * 90%-one-key distribution in OperatorsSpec.
    *
    * `tsCol` must be a timestamp or integral type (bucketing needs
    * arithmetic); [[asofJoin]] remains the form for arbitrary orderable ts.
    * At 100 TB: reach for this when key cardinality is low or skewed;
    * prefer [[asofJoin]] when keys are many and balanced (one fewer tiny
    * shuffle) or [[asofJoinBroadcast]] when the right side is
    * dimension-sized. */
  def asofJoinSalted(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, payloadCols: Seq[String],
      direction: String = "backward", buckets: Int = 32): DataFrame = {
    Seq("__side", "__p", "__pb", "__pf", "__m", "__t", "__bkt", "__cb", "__cf")
      .foreach { c =>
        require(!left.columns.contains(c) && !right.columns.contains(c),
          s"asofJoinSalted: input already has a column named '$c' (reserved)")
      }
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"asofJoinSalted: unknown direction '$direction'")
    require(buckets > 0, s"asofJoinSalted: buckets must be positive")
    Seq(left, right).map(_.schema(tsCol).dataType).foreach {
      case TimestampType | LongType | IntegerType | ShortType | ByteType =>
      case other => throw new IllegalArgumentException(
        s"asofJoinSalted: ts must be timestamp/integral for bucketing, got $other")
    }
    val lt = asLong(col(tsCol), left.schema(tsCol).dataType)
    val rt = asLong(col(tsCol), right.schema(tsCol).dataType)

    // one scan-only aggregate for the bucket range; width >= 1 always
    val Array(mn, mx) = left.select(lt.as("t")).unionByName(
        right.select(rt.as("t")))
      .agg(min(col("t")), max(col("t"))).collect()(0) match {
      case r if r.isNullAt(0) => Array(0L, 0L) // all-null ts: one bucket
      case r => Array(r.getLong(0), r.getLong(1))
    }
    // span math in BigInt (advisor finding): for extreme mixed-sign long
    // ts, mx - mn wraps negative in Long, collapsing width to 1 and
    // letting (t - mn) wrap to NEGATIVE bucket ids that collide with the
    // reserved -1 null-ts sentinel — silently mixing null-ts semantics
    // into real rows. Unreachable for epoch-micro timestamps, reachable
    // for the arbitrary long ts the signature accepts.
    val spanB = BigInt(mx) - BigInt(mn)
    val widthB = (spanB / buckets + 1).max(1)
    def bucketOf(t: Column): Column =
      if (spanB <= BigInt(Long.MaxValue)) {
        val width = widthB.toLong
        coalesce(floor((t - lit(mn)) / lit(width)).cast("long"), lit(-1L))
      } else {
        // span exceeds Long: exact decimal arithmetic (cold path). Scale-6
        // decimal rounding, like the hot path's double rounding, is
        // MONOTONE in t — which is all bucketing needs: both sides place
        // the same t in the same bucket and order is preserved, so the
        // carry chain stays correct; (t - mn) >= 0 keeps ids >= 0, clear
        // of the -1 sentinel.
        val w = lit(new java.math.BigDecimal(widthB.bigInteger))
        val mnD = lit(new java.math.BigDecimal(mn))
        coalesce(
          floor((t.cast(org.apache.spark.sql.types.DecimalType(38, 0)) - mnD) / w)
            .cast("long"),
          lit(-1L))
      }

    val payload = struct(col(tsCol).as("__t") +: payloadCols.map(col): _*)
    val rightSchema = right
      .select(col(tsCol).as("__t") +: payloadCols.map(col): _*).schema

    // ---- phase 1: per-(key, bucket) carry summaries (bucket-scale rows)
    val rb = right.select(col(keyCol), col(tsCol), payload.as("__p"))
      .withColumn("__bkt", bucketOf(rt))
    // order-consistent sort key: null ts = -inf (nulls-first-asc parity)
    val sortT = coalesce(rt, lit(Long.MinValue))
    val perBucket = rb.groupBy(col(keyCol), col("__bkt"))
      .agg(max_by(col("__p"), sortT).as("__last"),
        min_by(col("__p"), sortT).as("__first"))
    val wPrev = Window.partitionBy(col(keyCol)).orderBy(col("__bkt").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.partitionBy(col(keyCol)).orderBy(col("__bkt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // carry rows materialize per summary row; buckets with no right rows
    // inherit nothing new — their rows match via the nearest earlier
    // summary, which is exactly what the strictly-before window yields on
    // the NEXT non-empty bucket... so carries must attach to LEFT buckets
    // too. Cheapest correct form: compute the carry for EVERY (key, bucket)
    // pair present on either side.
    val lb = left.select(col(keyCol), bucketOf(lt).as("__bkt")).distinct()
    val allBuckets = perBucket.select(col(keyCol), col("__bkt"))
      .unionByName(lb).distinct()
    // null-safe key equality: the window form groups null keys into an
    // ordinary partition, so the carry chain must serve them too
    val pb2 = perBucket
      .withColumnRenamed(keyCol, "__k2").withColumnRenamed("__bkt", "__b2")
    val carries = allBuckets
      .join(pb2, col(keyCol) <=> col("__k2") && col("__bkt") === col("__b2"),
        "left")
      .select(col(keyCol), col("__bkt"),
        last(col("__last"), ignoreNulls = true).over(wPrev).as("__cbP"),
        last(col("__first"), ignoreNulls = true).over(wNext).as("__cfP"))

    // ---- phase 2: tagged union + carry rows, windowed by (key, bucket).
    // __pb/__pf split the payload per direction so each window's
    // ignoreNulls-last skips the other direction's carry rows.
    val needB = direction != "forward"
    val needF = direction != "backward"
    val l = left
      .withColumn("__side", lit(1))
      .withColumn("__bkt", bucketOf(lt))
      .withColumn("__pb", lit(null).cast(rightSchema))
      .withColumn("__pf", lit(null).cast(rightSchema))
      .withColumn("__cb", lit(0)).withColumn("__cf", lit(0))
    def alignRight(df: DataFrame, pb: Column, pf: Column,
        cb: Int, cf: Int): DataFrame =
      df.select(left.columns.toIndexedSeq.map { c =>
        if (c == keyCol) col(keyCol)
        else if (c == tsCol && cb == 0 && cf == 0) col(tsCol)
        else lit(null).cast(left.schema(c).dataType).as(c)
      } ++ Seq(lit(0).as("__side"), col("__bkt"), pb.as("__pb"),
        pf.as("__pf"), lit(cb).as("__cb"), lit(cf).as("__cf")): _*)
    val r = alignRight(rb, col("__p"), col("__p"), 0, 0)
    val cbRows = alignRight(carries.filter(col("__cbP").isNotNull),
      col("__cbP"), lit(null).cast(rightSchema), 1, 0)
    val cfRows = alignRight(carries.filter(col("__cfP").isNotNull),
      lit(null).cast(rightSchema), col("__cfP"), 0, 1)
    val union = Seq(Some(l), Some(r),
      if (needB) Some(cbRows) else None,
      if (needF) Some(cfRows) else None).flatten.reduce(_ unionByName _)

    def w(first: Column, tsOrder: Column) =
      Window.partitionBy(col(keyCol), col("__bkt"))
        .orderBy(first.desc, tsOrder, col("__side").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBack = w(col("__cb"), col(tsCol).asc)
    val wFwd = w(col("__cf"), col(tsCol).desc)
    val matched = direction match {
      case "backward" =>
        union.withColumn("__m", last(col("__pb"), ignoreNulls = true).over(wBack))
      case "forward" =>
        union.withColumn("__m", last(col("__pf"), ignoreNulls = true).over(wFwd))
      case "nearest" =>
        val b = last(col("__pb"), ignoreNulls = true).over(wBack)
        val f = last(col("__pf"), ignoreNulls = true).over(wFwd)
        union.withColumn("__m", nearest(lt, b, f, right.schema(tsCol).dataType))
    }
    val out = left.columns.toIndexedSeq.map(col) ++
      payloadCols.map(p => col("__m").getField(p).as(s"asof_$p"))
    matched.filter(col("__side") === 1).select(out: _*)
  }

  /** Broadcast as-of join: when the right side is dimension-sized (rates,
    * reference prices, config states — thousands to low millions of rows),
    * collect it once into an [[graft.functions.AsofLookup]] table and
    * resolve every left row with its binary-search kernel, in one
    * projection. The 100 TB shape for the common case: the fact side is
    * NEVER shuffled or sorted — the one thing the union+window encoding
    * ([[asofJoin]]) and the native merge operator (both exchanges) cannot
    * avoid. Same output contract and direction semantics as [[asofJoin]]
    * (inclusive bounds, nearest ties to backward). Right rows with a null
    * key or ts are dropped; left rows with a null key/ts emit null
    * payloads.
    *
    * Keys match by equality and ts compare in their type's order, so any
    * key type and any orderable ts work (`nearest` needs a numeric, date
    * or timestamp ts); right rows should be unique per (key, ts).
    *
    * Crossover: the driver collect is a fixed cost that pays off once
    * shuffling/sorting the fact side dominates, i.e. facts >> dims by
    * orders of magnitude (the 100 TB fact / MB-scale dimension regime
    * this operator exists for). At sf0.1 (150k facts, 15k dims; one
    * Profile run each on 4 cores) ev_asof_bcast took 0.75 s against the
    * window form's 0.93 s. */
  def asofJoinBroadcast(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, payloadCols: Seq[String],
      direction: String = "backward"): DataFrame = {
    // the lookup casts the left key and ts to the right's types; across
    // types (int vs long keys) a cast can change which rows are equal or
    // ordered, so mismatched types fail fast instead
    require(left.schema(keyCol).dataType == right.schema(keyCol).dataType,
      s"asofJoinBroadcast: key type mismatch " +
        s"${left.schema(keyCol).dataType} vs ${right.schema(keyCol).dataType}")
    require(left.schema(tsCol).dataType == right.schema(tsCol).dataType,
      s"asofJoinBroadcast: ts type mismatch " +
        s"${left.schema(tsCol).dataType} vs ${right.schema(tsCol).dataType}")
    val m = graft.functions.AsofLookup.lookupColumn(
      graft.functions.AsofLookup.table(right, keyCol, tsCol, payloadCols, direction),
      col(keyCol), col(tsCol))
    left.select(col("*") +: payloadCols.map(p => m.getField(p).as(s"asof_$p")): _*)
  }

  /** The same operator as a native planner node
    * ([[graft.plans.AsofJoinPlan]] -> AsofJoinExec): hash-clustered +
    * (key, ts)-sorted children, one streaming merge per partition.
    * Declares its distribution/ordering needs to the planner, so an
    * already-bucketed/sorted input pays NO shuffle — the property the
    * union+window encoding cannot express. Keys: any integral/temporal
    * type, or strings via a collision-checked xxhash64 bridge; ts: any
    * integral or temporal type (normalized to one unit per side pair);
    * same output contract as [[asofJoinLast]].
    *
    * Requires the session to carry [[graft.plans.GraftExtensions]] (the
    * strategy is injected there). */
  def asofJoinNative(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, payloadCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    // The exec merges on 64-bit-backed key/ts reads (getLong). Narrower or
    // differently-backed types get an order-preserving long derivation here
    // in the wrapper — int/date keys need no user-side cast, and the user's
    // original column types pass through to the output untouched.
    //
    // Commensurability: the two sides derive their 64-bit key/ts
    // independently, so they must land in the SAME unit. Integral types
    // normalize to the raw long value; temporal types normalize to
    // MICROSECONDS since epoch (dates via unix_date * 86_400_000_000 —
    // order-preserving, and commensurate with a timestamp on the other
    // side). Mixing an integral with a temporal across sides would compare
    // raw numbers to epoch-micros and silently mismatch — rejected.
    def family(dt: DataType, role: String): String = dt match {
      case LongType | IntegerType | ShortType | ByteType => "integral"
      case TimestampType | DateType => "temporal"
      // keys only need EQUALITY/clustering (ts carries the order), so a
      // 64-bit hash bridge is sound for string keys — once verified
      // collision-free on the actual key sets (below)
      case StringType if role == "key" => "string"
      case other => throw new IllegalArgumentException(
        s"asofJoinNative: unsupported $role type $other")
    }
    for ((role, ldt, rdt) <- Seq(
        ("key", left.schema(keyCol).dataType, right.schema(keyCol).dataType),
        ("ts", left.schema(tsCol).dataType, right.schema(tsCol).dataType))) {
      val (lf, rf) = (family(ldt, role), family(rdt, role))
      if (lf != rf) throw new IllegalArgumentException(
        s"asofJoinNative: $role types are incommensurable across sides " +
          s"(left $ldt is $lf, right $rdt is $rf) — cast one side first")
    }
    // String keys: verify xxhash64 is injective on the combined key set
    // BEFORE building the plan — a silent collision would merge two key
    // groups and as-of match across them. One aggregate job over the
    // distinct keys (tiny next to the join's own clustering shuffle; the
    // check is EAGER, like any fail-fast precondition). Expected to pass
    // until ~2^32 distinct keys (birthday bound) — beyond that the check
    // is exactly what catches it, loudly.
    if (left.schema(keyCol).dataType == StringType) {
      val keys = left.select(col(keyCol).as("k"))
        .union(right.select(col(keyCol).as("k"))).where(col("k").isNotNull)
      val row = keys.agg(
        countDistinct(col("k")).as("nk"),
        countDistinct(xxhash64(col("k"))).as("nh")).head()
      if (row.getLong(0) != row.getLong(1)) throw new IllegalStateException(
        s"asofJoinNative: xxhash64 collision among ${row.getLong(0)} " +
          s"distinct string keys — use the window form (asofJoin) instead")
    }
    // `family` has admitted only the types matched here
    def asLong64(c: Column, dt: DataType, forTs: Boolean): Option[Column] = dt match {
      case LongType => None
      case TimestampType if forTs => None // micros-backed: getLong reads it
      case StringType => Some(xxhash64(c))
      case _ => Some(asLong(c, dt))
    }
    val spark = left.sparkSession
    val (lkName, ltName) = ("__asof_lkey", "__asof_lts")
    val lKeyCast = asLong64(col(keyCol), left.schema(keyCol).dataType, forTs = false)
    val lTsCast = asLong64(col(tsCol), left.schema(tsCol).dataType, forTs = true)
    val lTemps =
      lKeyCast.map(lkName -> _).toSeq ++ lTsCast.map(ltName -> _).toSeq
    val l = lTemps.foldLeft(left) { case (d, (n, c)) => d.withColumn(n, c) }
    // re-alias the right side so its attribute ids never collide with the
    // left's (self-join shape), and key/ts names never shadow payload names
    val r = right.select(
      asLong64(col(keyCol), right.schema(keyCol).dataType, forTs = false)
          .getOrElse(col(keyCol)).as("__asof_key") +:
        asLong64(col(tsCol), right.schema(tsCol).dataType, forTs = true)
          .getOrElse(col(tsCol)).as("__asof_ts") +:
        payloadCols.map(c => col(c).as(c)): _*)
    val lPlan = l.queryExecution.analyzed
    val rPlan = r.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) = p.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"asofJoinNative: no column '$name'"))
    val (lk, lt) = (attr(lPlan, lKeyCast.map(_ => lkName).getOrElse(keyCol)),
      attr(lPlan, lTsCast.map(_ => ltName).getOrElse(tsCol)))
    val (rk, rt) = (attr(rPlan, "__asof_key"), attr(rPlan, "__asof_ts"))
    val payload = payloadCols.map(c => attr(rPlan, c))
    val joined = GraftBridge.ofRows(spark,
      graft.plans.AsofJoinPlan(lPlan, rPlan, lk, lt, rk, rt, payload))
    lTemps.map(_._1).foldLeft(joined)(_ drop _)
  }
}
