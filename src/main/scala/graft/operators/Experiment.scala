package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Partitions

/** Experiment (A/B) analysis over an event stream — the two-proportion
  * z-test every growth/quality team runs at corpus scale. The reference
  * has no statistics surface at all; this is the Spark-native superset
  * companion to the funnel/retention family in [[Funnel]]/[[Retention]].
  *
  * Scale shape: ONE corpus scan, per-entity conversion folded in a
  * map-side-combined aggregate keyed by entity (the only shuffle moves
  * one row per entity), then a bounded per-arm rollup. Everything after
  * the entity aggregate is arm-cardinality-sized; the multi-metric face
  * folds N conversion definitions in the SAME single scan (one extra
  * aggregate column per metric, not one extra pass).
  *
  * Determinism: counts are exact integers; rates are integer basis
  * points; the z statistic is computed from those integers with IEEE
  * double division/sqrt (correctly rounded, engine-identical — every
  * literal is cast to DOUBLE so neither engine falls into decimal
  * division) and floored to micro units — so the whole report replays
  * hash-exact in SQL.
  */
object Experiment {

  /** Shared finisher: from integer (n_a, conv_a, n_b, conv_b) counts to
    * basis-point rates and the pooled two-proportion z statistic in
    * floor-micro units (null when a denominator or the pooled variance
    * is 0). `keyCols` pass through in front (e.g. the metric tag). */
  private def zReport(counts: DataFrame, keyCols: Seq[String]): DataFrame =
    counts
      .withColumn("pa",
        expr("CASE WHEN n_a = 0 THEN NULL ELSE CAST(conv_a AS DOUBLE) / n_a END"))
      .withColumn("pb",
        expr("CASE WHEN n_b = 0 THEN NULL ELSE CAST(conv_b AS DOUBLE) / n_b END"))
      .withColumn("pp",
        expr("CASE WHEN n_a + n_b = 0 THEN NULL ELSE CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) END"))
      .withColumn("pv", expr(
        "pp * (1 - pp) * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)"))
      .select(keyCols.map(col) ++ Seq(
        col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        expr("CASE WHEN n_a = 0 THEN NULL ELSE (conv_a * 10000) DIV n_a END")
          .as("rate_a_bp"),
        expr("CASE WHEN n_b = 0 THEN NULL ELSE (conv_b * 10000) DIV n_b END")
          .as("rate_b_bp"),
        expr("CASE WHEN pv IS NULL OR pv <= 0 THEN NULL ELSE " +
          "CAST(floor((pa - pb) / sqrt(pv) * 1000000) AS BIGINT) END")
          .as("z_micro")): _*)

  /** Two-proportion z-test: entities split into arms by `armExpr`
    * (deterministic, e.g. a user-id column — the assignment is its value
    * mod 2), an entity converts when ANY of its events satisfies
    * `convExpr` (nulls count as non-converting). Returns one row:
    * per-arm entity/conversion counts, rates in basis points, and the
    * pooled two-proportion z statistic in floor-micro units. */
  def abTest(df: DataFrame, idCol: String, armExpr: Column,
      convExpr: Column): DataFrame =
    abTestMetrics(df, idCol, armExpr, Seq("m" -> convExpr)).drop("metric")

  /** The multi-metric face: N named conversion definitions evaluated in
    * ONE corpus scan — the per-entity aggregate carries one max-flag
    * column per metric, the per-arm rollup one pair of sums per metric,
    * and a `stack` unpivot emits one z-test row per metric. Output:
    * (metric, n_a, conv_a, n_b, conv_b, rate_a_bp, rate_b_bp, z_micro).
    */
  def abTestMetrics(df: DataFrame, idCol: String, armExpr: Column,
      metrics: Seq[(String, Column)]): DataFrame = {
    require(metrics.nonEmpty, "abTestMetrics: at least one metric")
    metrics.foreach { case (nm, _) =>
      require(nm.matches("[A-Za-z0-9_]+"), s"metric name not an identifier: $nm") }
    val entityAggs = first(armExpr.cast("long") % 2).as("arm") +:
      metrics.map { case (nm, c) =>
        max(coalesce(c.cast("int"), lit(0))).as(s"c_$nm") }
    val perEntity = df
      .filter(col(idCol).isNotNull)
      .groupBy(col(idCol).as("ent"))
      .agg(entityAggs.head, entityAggs.tail: _*)
    val armAggs = Seq(
      sum(when(col("arm") === 0, 1).otherwise(0)).as("n_a"),
      sum(when(col("arm") === 1, 1).otherwise(0)).as("n_b")) ++
      metrics.flatMap { case (nm, _) => Seq(
        sum(when(col("arm") === 0, col(s"c_$nm")).otherwise(0)).cast("long")
          .as(s"ca_$nm"),
        sum(when(col("arm") === 1, col(s"c_$nm")).otherwise(0)).cast("long")
          .as(s"cb_$nm")) }
    val wide = perEntity.agg(armAggs.head, armAggs.tail: _*)
    val stacked = wide.selectExpr("n_a", "n_b",
      s"stack(${metrics.size}, " + metrics.map { case (nm, _) =>
        s"'$nm', ca_$nm, cb_$nm" }.mkString(", ") +
        ") AS (metric, conv_a, conv_b)")
    zReport(stacked, Seq("metric"))
  }

  /** Chi-square test of independence between two categorical columns —
    * the contingency-table companion to [[abTest]] (is event mix
    * independent of the assignment arm? is language independent of
    * source?).
    *
    * Scale shape: ONE corpus scan collapses to the bounded #a×#b cell
    * domain in a map-side-combined groupBy; row/column totals are
    * windows over that domain, never the corpus.
    *
    * Determinism: observed counts are exact int64. The expected count
    * E = rowTot·colTot/N is rational, so each cell carries ONE fixed
    * IEEE dag — e = CAST(rt AS DOUBLE)·ct/N, contrib = (O−e)²/e — then
    * floors to micro units BEFORE the final sum: summing int64 micro
    * contributions is order-independent, so the statistic replays
    * hash-exact where a double Σ would depend on engine visit order.
    * Returns one row per cell: (a, b, o, e_micro, contrib_micro) —
    * the caller sums contrib_micro for the statistic and compares to a
    * χ²((#a−1)(#b−1)) critical value. */
  def chiSquare(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val cells = df.select(aCol.as("a"), bCol.as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("o"))
    cells
      .withColumn("rt", sum(col("o")).over(w.partitionBy(col("a"))))
      .withColumn("ct", sum(col("o")).over(w.partitionBy(col("b"))))
      .withColumn("n", sum(col("o")).over(
        w.partitionBy().rowsBetween(w.unboundedPreceding, w.unboundedFollowing)))
      .withColumn("e", expr("CAST(rt AS DOUBLE) * ct / n"))
      .select(col("a"), col("b"), col("o"),
        expr("CAST(floor(e * 1000000) AS BIGINT)").as("e_micro"),
        expr("CAST(floor((o - e) * (o - e) / e * 1000000) AS BIGINT)")
          .as("contrib_micro"))
  }

  /** Two-sample Kolmogorov–Smirnov distance between the integer-score
    * distributions of two groups — the drift test a data pipeline runs
    * between yesterday's corpus and today's (same shape as [[rocAuc]]:
    * grouped by distinct score, then the two-level prefix scan of
    * [[graft.core.Partitions.runningSums]] over the score domain, no
    * single-task corpus window).
    *
    * D = max_s |cdfA(s) − cdfB(s)| is computed as the exact integer
    * numerator max_s |cumA(s)·nB − cumB(s)·nA| over the common
    * denominator nA·nB — int64-exact to nA·nB < 2⁶³ (≈ 3·10⁹ rows per
    * side). Null group values count toward B; null scores drop.
    * Returns one row: (n_a, n_b, d_num, ks) with ks = d_num/(nA·nB)
    * ONE IEEE division (null when a group is empty). */
  def ksTwoSample(df: DataFrame, scoreCol: Column, inACol: Column)
      : DataFrame = {
    val g = df
      .select(scoreCol.cast("long").as("s"),
        when(inACol, 1L).otherwise(0L).as("ina"))
      .filter(col("s").isNotNull)
      .groupBy(col("s"))
      .agg(sum(col("ina")).as("ca"), sum(lit(1L) - col("ina")).as("cb"))
    Partitions.runningSums(g, Seq(col("s")), Seq("ca", "cb"))
      .agg(max(col("tot_ca")).as("n_a"), max(col("tot_cb")).as("n_b"),
        max(abs(col("cum_ca") * col("tot_cb") - col("cum_cb") * col("tot_ca")))
          .as("d_num"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        expr("CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE " +
          "CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b) END").as("ks"))
  }

  /** Gini coefficient of a non-negative integer measure — corpus
    * concentration in one number (how much of the token/length/spend
    * mass sits in how few rows), the inequality yardstick next to
    * [[ksTwoSample]]'s drift distance.
    *
    * Same scale shape as [[rocAuc]]: group by distinct value (map-side
    * combined), then running count and mass from
    * [[graft.core.Partitions.runningSums]] over the value domain. The
    * discrete Lorenz-trapezoid closed form stays in exact int64, spelled to keep
    * every intermediate within N·W:
    *
    *   g_num = N·W − Σ_s cnt_s·mass_s − 2·Σ_s cnt_s·(cumMass_s − mass_s)
    *         (≡ N·W − Σ cnt·(2·cumMass − mass)),   G = g_num/(N·W)
    *
    * (equivalently g_num = ½·Σᵢⱼ|xᵢ−xⱼ| — differential-pinned). Both
    * partial sums are term-wise non-negative and bounded by N·W
    * (Σ cnt·mass = Σ cnt²·s ≤ N·Σ cnt·s; Σ cnt·(cum−m) ≤ N·W/2 since
    * g_num ≥ 0), so the full int64 domain N·W < 2⁶³ holds — the earlier
    * 2·cumMass spelling overflowed a factor of 2 sooner (its per-term
    * 2·cum can hit 2·W). Quantize the measure down if count×total mass
    * can exceed 2⁶³. Negative values are rejected (Gini is defined on
    * non-negative measures); null values drop. Returns one row:
    * (n, total, g_num, gini — null on an empty or zero-mass corpus). */
  def gini(df: DataFrame, valueCol: Column): DataFrame = {
    val g = df.select(valueCol.cast("long").as("s"))
      .filter(col("s").isNotNull)
      .groupBy(col("s")).agg(count(lit(1)).as("cnt"), sum(col("s")).as("m"))
    val out = Partitions.runningSums(g, Seq(col("s")), Seq("m", "cnt"))
      // s1 = Σ cnt·m and b = Σ cnt·(cum − m): both term-wise >= 0 and
      // bounded by N·W, where the old single Σ cnt·(2·cum − m) put a
      // 2·cum (up to 2·W) inside every term — the factor-2 domain loss
      .agg(min(col("s")).as("min_s"), max(col("tot_cnt")).as("n"),
        max(col("tot_m")).as("total"),
        sum(col("cnt") * col("m")).as("s1"),
        sum(col("cnt") * (col("cum_m") - col("m"))).as("b"))
    // the min_s guard is data-dependent, so it stays IN the plan: a
    // negative value nulls the report rather than emitting a wrong G
    out.select(col("n"), col("total"),
      expr("CASE WHEN min_s < 0 THEN NULL ELSE n * total - s1 - 2 * b END")
        .as("g_num"),
      expr("CASE WHEN min_s < 0 OR n = 0 OR total = 0 THEN NULL ELSE " +
        "CAST(n * total - s1 - 2 * b AS DOUBLE) / " +
        "(CAST(n AS DOUBLE) * total) END")
        .as("gini"))
  }

  /** Per-period distribution drift monitor: the two-sample KS distance
    * of EACH period's score distribution against the whole corpus —
    * "which day's traffic stopped looking like the baseline", the
    * always-on companion to the one-shot [[ksTwoSample]].
    *
    * Exactness: D must be evaluated wherever EITHER step CDF jumps;
    * since every period observation is also a corpus observation, the
    * corpus's distinct-score support IS the union grid — so the sup is
    * taken over an explicit (periods × support) grid (a period-absent
    * score contributes cnt 0 through the left join, holding that
    * period's CDF flat exactly as the math requires). Numerators are
    * the exact integers |cumP·nG − cumG·nP|; one IEEE division at the
    * end. The grid is bounded by contract: quantize continuous scores
    * first (periods · |support| rows, e.g. 365 days × 10⁵ centi-values
    * = 4·10⁷ — domain-sized, never corpus-sized).
    *
    * Returns one row per period: (day, n_day, d_num, ks). */
  def ksDriftByPeriod(df: DataFrame, tsCol: String, scoreCol: Column,
      periodUs: Long = 86400000000L): DataFrame = {
    require(periodUs > 0, s"bad periodUs=$periodUs")
    val w = org.apache.spark.sql.expressions.Window
    val g = df
      .select(expr(s"unix_micros($tsCol) DIV $periodUs").as("day"),
        scoreCol.cast("long").as("s"))
      .filter(col("s").isNotNull && col("day").isNotNull)
      .groupBy(col("day"), col("s")).agg(count(lit(1)).as("cnt"))
    val gs = g.groupBy(col("s")).agg(sum(col("cnt")).as("gn"))
      .withColumn("cumg", sum(col("gn")).over(
        w.orderBy("s").rowsBetween(w.unboundedPreceding, 0)))
      .withColumn("ng", sum(col("gn")).over(w.partitionBy()))
    val days = g.groupBy(col("day")).agg(sum(col("cnt")).as("nd"))
    days.crossJoin(broadcast(gs))
      .join(g, Seq("day", "s"), "left")
      .withColumn("cumd", sum(coalesce(col("cnt"), lit(0L))).over(
        w.partitionBy("day").orderBy("s")
          .rowsBetween(w.unboundedPreceding, 0)))
      .groupBy(col("day"))
      .agg(max(col("nd")).as("n_day"), max(col("ng")).as("ng"),
        max(abs(col("cumd") * col("ng") - col("cumg") * col("nd")))
          .as("d_num"))
      .select(col("day"), col("n_day"), col("d_num"),
        expr("CASE WHEN n_day = 0 OR ng = 0 THEN NULL ELSE " +
          "CAST(d_num AS DOUBLE) / (CAST(n_day AS DOUBLE) * ng) END")
          .as("ks"))
  }

  /** Exact ROC-AUC of an integer score against a binary label — the
    * classifier-calibration number every quality-filter pipeline needs
    * (is this score actually ranking good docs above bad ones?).
    *
    * The textbook route — rank every row, Mann-Whitney rank-sum — needs
    * a CORPUS-sized global sort (one task at 100 TB). The closed form
    * here uses AUC = P(score⁺ > score⁻) + ½·P(score⁺ = score⁻) counted
    * over the DISTINCT-SCORE domain: group by score (map-side combined —
    * the corpus collapses to |domain| rows before the wire), then over
    * scores ascending
    *
    *   pairs2 = Σ_s pos_s · (2·cumNegBelow_s + neg_s)   (ties count once)
    *   AUC    = pairs2 / (2 · n_pos · n_neg)
    *
    * The cumulative negatives come from the two-level scan of
    * [[graft.core.Partitions.runningSums]] over the score domain, not
    * one global window. An arbitrary integer score (a timestamp, a
    * hash) can have corpus-many distinct values; a single
    * Window.orderBy(s) would funnel them through one task. All counting
    * is exact int64 (`pairs2 ≤ 2·n_pos·n_neg ≤ N²/2` — fine to
    * N ≈ 4·10⁹ rows); the final AUC is ONE correctly-rounded IEEE
    * division of exact integers, so the report replays hash-exact in
    * SQL. Null labels count as negative; null scores are dropped.
    * Returns one row: (n_pos, n_neg, pairs2, auc — null when a class is
    * empty). */
  def rocAuc(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    val g = df
      .select(scoreCol.cast("long").as("s"),
        when(labelCol, 1L).otherwise(0L).as("y"))
      .filter(col("s").isNotNull)
      .groupBy(col("s"))
      .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
    Partitions.runningSums(g, Seq(col("s")), Seq("neg", "pos"))
      .withColumn("cumneg", col("cum_neg") - col("neg"))
      .agg(max(col("tot_pos")).as("n_pos"), max(col("tot_neg")).as("n_neg"),
        sum(col("pos") * (lit(2L) * col("cumneg") + col("neg"))).as("pairs2"))
      .select(col("n_pos"), col("n_neg"), col("pairs2"),
        expr("CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL ELSE " +
          "CAST(pairs2 AS DOUBLE) / (CAST(2 AS DOUBLE) * n_pos * n_neg) END")
          .as("auc"))
  }
}
