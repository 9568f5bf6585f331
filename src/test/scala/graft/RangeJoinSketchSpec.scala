package graft

import org.apache.spark.sql.functions._
import graft.operators.RangeJoin
import graft.sketches.Sketches

/** Bucketed range join (differential vs the naive inequality join) and
  * sketch aggregates (error bounds vs exact answers). */
class RangeJoinSketchSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("pointInInterval matches the naive inequality join at any bucket width") {
    val ev = graft.core.Tables.events(spark, dir)
    val pts = ev.select($"event_id", $"ts")
    // asymmetric window so start/end bucket rounding is exercised separately
    val ivs = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("pid"),
        ($"ts" - expr("INTERVAL 7 MINUTES")).as("istart"),
        ($"ts" + expr("INTERVAL 3 MINUTES")).as("iend"))
    val naive = pts.join(ivs, $"ts" >= $"istart" && $"ts" <= $"iend")
      .select($"event_id", $"pid").as[(Long, Long)].collect().toSet
    assert(naive.nonEmpty, "fixture should produce matches")
    for (w <- Seq(60L, 300L, 3600L)) {
      val got = RangeJoin.pointInInterval(pts, ivs, "ts", "istart", "iend", w)
        .select($"event_id", $"pid").as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, s"duplicate pairs at bucketWidth=$w")
      assert(got.toSet == naive, s"pair-set mismatch at bucketWidth=$w")
    }
  }

  test("pointInIntervalBroadcast gives the same pairs with zero shuffles") {
    val ev = graft.core.Tables.events(spark, dir)
    val pts = ev.select($"event_id", $"ts")
    val ivs = ev.filter($"event_type" === "purchase" && $"value" > 150)
      .select($"event_id".as("pid"),
        ($"ts" - expr("INTERVAL 5 MINUTES")).as("istart"),
        ($"ts" + expr("INTERVAL 5 MINUTES")).as("iend"))
    val bucketed = RangeJoin.pointInInterval(pts, ivs, "ts", "istart", "iend", 300L)
      .select($"event_id", $"pid").as[(Long, Long)].collect().toSet
    val bcast = RangeJoin.pointInIntervalBroadcast(pts, ivs, "ts", "istart", "iend")
    assert(bcast.select($"event_id", $"pid").as[(Long, Long)].collect().toSet == bucketed)
    assert(!bcast.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
      "broadcast path must not shuffle")
  }

  test("intervalOverlap matches the naive overlap join, one copy per pair") {
    val ev = graft.core.Tables.events(spark, dir)
    val a = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("pid"),
        ($"ts" - expr("INTERVAL 5 MINUTES")).as("pstart"),
        ($"ts" + expr("INTERVAL 5 MINUTES")).as("pend"))
    val b = ev.filter($"event_type" === "error")
      .select($"event_id".as("eid"),
        ($"ts" - expr("INTERVAL 3 MINUTES")).as("estart"),
        ($"ts" + expr("INTERVAL 3 MINUTES")).as("eend"))
    val naive = a.join(b, $"pstart" <= $"eend" && $"estart" <= $"pend")
      .select($"pid", $"eid").as[(Long, Long)].collect().toSet
    assert(naive.nonEmpty, "fixture should produce overlaps")
    // widths well below the interval spans force multi-bucket sharing, so
    // this exercises the first-shared-bucket dedup
    for (w <- Seq(30L, 60L, 300L, 3600L)) {
      val got = RangeJoin.intervalOverlap(a, b, "pstart", "pend", "estart", "eend", w)
        .select($"pid", $"eid").as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, s"duplicate pairs at bucketWidth=$w")
      assert(got.toSet == naive, s"pair-set mismatch at bucketWidth=$w")
    }
  }

  test("frequentItems is exact when capacity exceeds the vocabulary") {
    val toks = graft.core.Tables.documents(spark, dir)
      .select(explode(graft.text.wsTokens(lower($"text"))).as("tok"))
    val exact = toks.groupBy($"tok").count()
      .as[(String, Long)].collect().toMap
    val got = graft.sketches.FrequentItems.frequentItems(toks, "tok", 1 << 16)
      .as[(String, Long)].collect().toMap
    assert(got == exact, s"sizes: got=${got.size} exact=${exact.size}")
  }

  test("frequentItems under overflow: lower bounds, heavy items survive") {
    val n = 1000
    // 500 a's, 300 b's, 200 distinct singletons, one partition => overflows
    val items = (Seq.fill(500)("a") ++ Seq.fill(300)("b") ++
      (0 until 200).map(i => s"x$i"))
    // deterministic interleave so the singletons arrive among the heavies
    val shuffled = items.zipWithIndex
      .sortBy { case (s, i) => (i * 131) % n }.map(_._1)
    val df = shuffled.toDF("item").coalesce(1)
    val cap = 9
    val got = graft.sketches.FrequentItems.frequentItems(df, "item", cap)
      .as[(String, Long)].collect().toMap
    val bound = n / (cap + 1) // max undercount
    assert(got.contains("a") && got.contains("b"),
      s"items above N/(cap+1)=$bound must survive: $got")
    assert(got("a") <= 500 && got("a") >= 500 - bound, got.toString)
    assert(got("b") <= 300 && got("b") >= 300 - bound, got.toString)
    got.foreach { case (k, v) =>
      val truth = k match { case "a" => 500L; case "b" => 300L; case _ => 1L }
      assert(v <= truth, s"$k overcounted: $v > $truth")
    }
  }

  test("pointInInterval rejects colliding or reserved column names") {
    val pts = Seq((1L, 5.0)).toDF("id", "t")
    val ivs = Seq((2L, 0.0, 10.0)).toDF("id", "lo", "hi")
    assertThrows[IllegalArgumentException](
      RangeJoin.pointInInterval(pts, ivs, "t", "lo", "hi", 10L))
    assertThrows[IllegalArgumentException](
      RangeJoin.pointInInterval(pts, ivs.withColumnRenamed("id", "iid"), "t", "lo", "hi", 0L))
  }

  test("pointInInterval strips its width hint, so a later range join stays bare") {
    val pts = spark.range(20).select($"id".as("pt"))
    val ivs = spark.range(4).select(($"id" * 5).as("lo"), ($"id" * 5 + 4).as("hi"))
    val j = RangeJoin.pointInInterval(pts, ivs, "pt", "lo", "hi", 5L)
    assert(!j.schema("pt").metadata.contains(graft.plans.RangeJoinRewrite.WidthMetaKey))
    val ivs2 = spark.range(3).select(($"id" * 7).as("lo2"), ($"id" * 7 + 6).as("hi2"))
    val later = j.join(ivs2, $"pt" >= $"lo2" && $"pt" <= $"hi2")
    val opt = later.queryExecution.optimizedPlan
    assert(opt.collect { case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
      .size == 1, s"only the hinted join is bucketed:\n${opt.toString.take(2000)}")
    assert(later.count() == 20L)
  }

  test("hll estimate is within 2% of exact and per-group sketches union to the global") {
    val li = graft.core.Tables.lineitem(spark, dir)
    val exact = li.select(countDistinct($"l_partkey")).as[Long].head()
    val est = li.select(Sketches.hllEstimate($"l_partkey")).as[Long].head()
    assert(math.abs(est - exact).toDouble / exact < 0.02, s"est=$est exact=$exact")
    // mergeability: union of disjoint per-group sketch states ~ global sketch
    val merged = li.groupBy($"l_returnflag")
      .agg(Sketches.hllSketch($"l_partkey").as("sk"))
      .select(Sketches.hllUnion($"sk")).as[Long].head()
    assert(math.abs(merged - est) <= math.max(1L, (0.01 * exact).toLong),
      s"merged=$merged direct=$est")
  }

  test("count-min counts never underestimate and respect the eps bound") {
    val li = graft.core.Tables.lineitem(spark, dir)
    val total = li.count()
    val eps = 0.01
    val bytes = li.select(Sketches.cmSketch($"l_suppkey", eps = eps))
      .head().getAs[Array[Byte]](0)
    val exacts = li.groupBy($"l_suppkey").count().as[(Long, Long)].collect()
    exacts.foreach { case (k, n) =>
      val e = Sketches.cmsCount(bytes, k)
      assert(e >= n, s"suppkey $k underestimated: $e < $n")
      assert(e <= n + math.ceil(eps * total).toLong,
        s"suppkey $k overestimate beyond bound: $e vs $n (total=$total)")
    }
  }

  test("replayable HLL face: estimate tracks exact distincts; registers merge") {
    // the q_sketch face (r11 verdict Next #4): deterministic xxhash64
    // registers + integer harmonic-sum estimator — an exact regression
    // pin, not a statistical assertion. Raw-estimator validity needs
    // n >= ~2.5m (m=512): l_orderkey qualifies at sf0.01.
    val li = graft.core.Tables.lineitem(spark, dir)
    val exact = li.select(countDistinct($"l_orderkey")).as[Long].head()
    assert(exact > 2L * Sketches.HLL_M, s"fixture too small for the raw face: $exact")
    val est = Sketches.hllEstimateFromRegisters(
        Sketches.hllRegisters(li, lit("all"), $"l_orderkey", "ok"))
      .select($"est").as[Long].head()
    val relErr = math.abs(est - exact).toDouble / exact
    assert(relErr < 0.15, s"est=$est exact=$exact relErr=$relErr " +
      "(sigma ~ 1.04/sqrt(512) ~ 4.6%)")
    // mergeability: per-group register frames unioned + re-maxed give
    // the GLOBAL registers exactly (max is associative), so the merged
    // estimate IS the global estimate
    val perGroup = Sketches.hllRegisters(li, $"l_returnflag", $"l_orderkey", "ok")
    val remerged = Sketches.hllEstimateFromRegisters(
        perGroup.groupBy(lit("all").as("grp"), $"field", $"bucket")
          .agg(max($"r").cast("int").as("r")))
      .select($"est").as[Long].head()
    assert(remerged == est, s"merged registers must reproduce the global estimate")
  }

  test("bottom-k KMV sample: lower median lands near the exact median") {
    val li = graft.core.Tables.lineitem(spark, dir)
    val med = Sketches.sampleLowerMedian(Sketches.bottomKSample(
        li, lit("all"), Seq($"l_orderkey", $"l_linenumber"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)"), 1024))
      .select($"median_v").as[Long].head()
    val n = li.count()
    // the sampled median must split the full data near 0.5 (binomial
    // tail at k=1024: p deviates by > 5% with prob < 1e-3; values are
    // integers 100..5000 so ties make the split a range, not a point)
    val below = li.filter(expr("CAST(round(l_quantity * 100) AS BIGINT)") <= med)
      .count().toDouble / n
    val strictly = li.filter(expr("CAST(round(l_quantity * 100) AS BIGINT)") < med)
      .count().toDouble / n
    assert(strictly <= 0.55 && below >= 0.45,
      s"sampled median $med splits at [<$strictly, <=$below] — off 0.5")
  }

  test("quantileApprox returns a real element splitting the data near p") {
    val li = graft.core.Tables.lineitem(spark, dir)
    val n = li.count()
    val med = li.select(Sketches.quantileApprox($"l_quantity", lit(0.5),
      accuracy = n.toInt + 1)).head().getDouble(0)
    val below = li.filter($"l_quantity" <= med).count().toDouble / n
    val strictlyBelow = li.filter($"l_quantity" < med).count().toDouble / n
    assert(li.filter($"l_quantity" === med).count() > 0, "must be an actual element")
    assert(strictlyBelow <= 0.5 && below >= 0.5, s"not a median: <=$below <$strictlyBelow")
  }
}
