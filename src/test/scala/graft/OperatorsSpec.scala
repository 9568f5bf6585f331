package graft

import org.apache.spark.sql.functions._
import graft.operators.BloomAntiJoin
import graft.similarity._

/** Bloom-pruned anti join and k-means IVF training. */
class OperatorsSpec extends SparkSuite with CompiledLocalFrames {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("bloomAntiJoin matches a plain left_anti join exactly") {
    val pa = graft.core.Tables.part(spark, dir)
    val li = graft.core.Tables.lineitem(spark, dir)
      .filter($"l_quantity" >= 49)
    val expected = pa.join(li, $"p_partkey" === $"l_partkey", "left_anti")
      .select($"p_partkey").as[Long].collect().toSet
    val got = BloomAntiJoin.bloomAntiJoin(pa, li, "p_partkey", "l_partkey")
      .select($"p_partkey").as[Long].collect().toSet
    assert(got == expected)
    assert(expected.nonEmpty && expected.size < pa.count(),
      "fixture should have both kept and dropped parts")
  }

  test("bloomAntiJoin is exact even with a tiny, high-fpp filter") {
    // near-degenerate filter => almost everything is a candidate; results
    // must still be exact because the residual join clears false positives
    val pa = graft.core.Tables.part(spark, dir)
    val li = graft.core.Tables.lineitem(spark, dir)
      .filter($"l_quantity" >= 49)
    val expected = pa.join(li, $"p_partkey" === $"l_partkey", "left_anti")
      .count()
    val got = BloomAntiJoin.bloomAntiJoin(pa, li, "p_partkey", "l_partkey",
      expectedItems = 8, fpp = 0.5).count()
    assert(got == expected)
  }

  test("GroupTopK matches window row_number ranking exactly") {
    import org.apache.spark.sql.expressions.Window
    val li = graft.core.Tables.lineitem(spark, dir)
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
    val want = li.withColumn("rn", row_number().over(w)).filter($"rn" <= 4)
      .select($"l_suppkey", $"rn", $"l_orderkey", $"l_linenumber")
      .as[(Long, Int, Long, Long)].collect().toSet
    val got = li.groupBy($"l_suppkey")
      .agg(graft.operators.GroupTopK.smallestK(
        struct(negate($"l_extendedprice").as("np"), $"l_orderkey", $"l_linenumber"), 4).as("top"))
      .select($"l_suppkey", posexplode($"top"))
      .select($"l_suppkey", ($"pos" + 1).as("rn"), $"col.l_orderkey", $"col.l_linenumber")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(got == want)
    // largestK is the mirror: top by price ascending
    val wantAsc = li.withColumn("rn", row_number().over(
        Window.partitionBy($"l_suppkey")
          .orderBy($"l_extendedprice", $"l_orderkey", $"l_linenumber")))
      .filter($"rn" <= 2).select($"l_suppkey", $"l_orderkey", $"l_linenumber")
      .as[(Long, Long, Long)].collect().toSet
    val gotAsc = li.groupBy($"l_suppkey")
      .agg(graft.operators.GroupTopK.largestK(
        struct(negate($"l_extendedprice").as("np"), negate($"l_orderkey").as("no"),
          negate($"l_linenumber").as("nl")), 2).as("top"))
      .select($"l_suppkey", explode($"top").as("t"))
      .select($"l_suppkey", negate($"t.no").cast("long"), negate($"t.nl").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(gotAsc == wantAsc)
  }

  test("capPerGroup: window-rank equivalent, repartition-stable, bounded") {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.core.Tables.documents(spark, dir)
    val h = graft.functions.HashExprs.polyHashFast($"doc_id".cast("string"))
    val got = graft.operators.GroupTopK
      .capPerGroup(docs, "lang", "doc_id", h, k = 20)
      .select($"lang", $"doc_id").as[(String, Long)].collect().toSet
    val want = docs.select($"lang", $"doc_id", h.as("ph"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"lang").orderBy($"ph", $"doc_id")))
      .filter($"rn" <= 20).select($"lang", $"doc_id")
      .as[(String, Long)].collect().toSet
    assert(got == want)
    val again = graft.operators.GroupTopK
      .capPerGroup(docs.repartition(7), "lang", "doc_id", h, k = 20)
      .select($"lang", $"doc_id").as[(String, Long)].collect().toSet
    assert(again == got)
    val sizes = docs.groupBy($"lang").count().as[(String, Long)].collect().toMap
    got.groupBy(_._1).foreach { case (lang, rows) =>
      assert(rows.size == math.min(20L, sizes(lang)))
    }
  }

  test("kmeansCentroids computes exact per-cell means on separable data") {
    // two well-separated direction clusters; seeds (ids 0,1) fall one in
    // each, so a single round must land on the exact arithmetic means
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (4L, Seq(0.8f, 0.2f)),
      (1L, Seq(0.0f, 1.0f)), (3L, Seq(0.1f, 0.9f)), (5L, Seq(0.2f, 0.8f))
    ).toDF("id", "vec")
    val cents = kmeansCentroids(df, "id", "vec", k = 2, iters = 1)
      .orderBy($"cid").as[(Long, Seq[Double])].collect()
    assert(cents.length == 2)
    // input vectors are float32, so the means land within float precision
    def close(a: Seq[Double], b: Seq[Double]) =
      a.size == b.size && a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-6 }
    assert(close(cents(0)._2, Seq(0.9, 0.1)), s"cell 0 mean was ${cents(0)._2}")
    assert(close(cents(1)._2, Seq(0.1, 0.9)), s"cell 1 mean was ${cents(1)._2}")
  }

  test("kmeans keeps empty cells at their previous centroid") {
    // seed 1 is strictly closer to every point than seed 0 except itself…
    // actually make cell 1 lose: every vector aligns with seed 0's direction
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.001f)),
      (2L, Seq(1.0f, 0.0f)), (3L, Seq(1.0f, 0.0f))
    ).toDF("id", "vec")
    val cents = kmeansCentroids(df, "id", "vec", k = 2, iters = 2)
      .as[(Long, Seq[Double])].collect().toMap
    assert(cents.keySet == Set(0L, 1L), "both cells survive")
  }

  test("native asof join exec matches the union+window form exactly") {
    val ev = graft.core.Tables.events(spark, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"ts").agg(max($"value").as("pval"))
    val l = ev.select($"event_id", $"user_id", $"ts")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"event_id", $"asof_pval")
        .collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
    val window = canon(graft.operators.AsofJoin.asofJoinLast(
      l, purchases, "user_id", "ts", Seq("pval")))
    val native = canon(graft.operators.AsofJoin.asofJoinNative(
      l, purchases, "user_id", "ts", Seq("pval")))
    assert(native.size == window.size)
    val diffs = window.collect {
      case (k, v) if native.get(k) != Some(v) => (k, v, native.get(k))
    }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(5)}")
    assert(window.values.exists(_.isDefined) && window.values.exists(_.isEmpty),
      "fixture should produce both matched and unmatched rows")
  }

  test("salted asof join matches the window form under a 90%-one-key skew") {
    // 90% of rows on one hot key — the distribution that serializes the
    // plain union+window form into a single task. The salted form must
    // (a) produce identical output in all three directions, nulls and
    // ties included, and (b) partition its heavy window by (key, bucket)
    // so the hot key's timeline actually fans out.
    def skewed(n: Int, seed: Long) = spark.range(n).select(
      when($"id" % 10 =!= 0, lit(0L))
        .when($"id" % 100 === 0, lit(null).cast("long"))
        .otherwise($"id" % 37 + 1).as("k"),
      when($"id" % 97 === 0, lit(null).cast("long"))
        .otherwise(($"id" * seed) % 100000).as("ts"),
      $"id".as("rid"))
    val l = skewed(20000, 2654435761L)
    val r = skewed(2000, 40503L)
      .groupBy($"k", $"ts").agg(max($"rid").as("pval")) // unique per (k, ts)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"rid", $"asof_pval")
        .collect().map(x => (x.getLong(0), Option(x.get(1)))).toMap
    Seq("backward", "forward", "nearest").foreach { dir =>
      val plain = canon(graft.operators.AsofJoin.asofJoin(
        l, r, "k", "ts", Seq("pval"), dir))
      val salted = graft.operators.AsofJoin.asofJoinSalted(
        l, r, "k", "ts", Seq("pval"), dir, buckets = 16)
      val saltedM = canon(salted)
      assert(saltedM.size == plain.size, dir)
      val diffs = plain.collect {
        case (k, v) if saltedM.get(k) != Some(v) => (k, v, saltedM.get(k))
      }
      assert(diffs.isEmpty, s"$dir first diffs: ${diffs.take(5)}")
      // nearest matches every row whose key has any right row, so only the
      // directional forms are guaranteed a mixed fixture
      assert(plain.values.exists(_.isDefined) &&
          (dir == "nearest" || plain.values.exists(_.isEmpty)),
        s"$dir fixture should produce both matched and unmatched rows")
      // the heavy window must partition by (key, bucket), not key alone
      val plan = salted.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(ln =>
          ln.contains("Window") && ln.contains("__bkt")),
        s"$dir: heavy window not partitioned by (key, __bkt):\n${plan.take(3000)}")
    }
    // realistic corpus differential on top of the synthetic skew
    val ev = graft.core.Tables.events(spark, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"ts").agg(max($"value").as("pval"))
    val le = ev.select($"event_id", $"user_id", $"ts")
    def canonE(df: org.apache.spark.sql.DataFrame) =
      df.select($"event_id", $"asof_pval")
        .collect().map(x => (x.getLong(0), Option(x.get(1)))).toMap
    val w = canonE(graft.operators.AsofJoin.asofJoinLast(
      le, purchases, "user_id", "ts", Seq("pval")))
    val s2 = canonE(graft.operators.AsofJoin.asofJoinSalted(
      le, purchases, "user_id", "ts", Seq("pval")))
    assert(w == s2, "events-table differential")
    // bucketing needs arithmetic: a non-integral ts is refused up front
    val e = intercept[IllegalArgumentException](graft.operators.AsofJoin.asofJoinSalted(
      l.withColumn("ts", $"ts".cast("double")), r.withColumn("ts", $"ts".cast("double")),
      "k", "ts", Seq("pval")))
    assert(e.getMessage.contains("timestamp/integral"), e.getMessage)
  }

  test("broadcast asof join matches the union+window form in all directions") {
    val ev = graft.core.Tables.events(spark, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"ts").agg(max($"value").as("pval"))
    val l = ev.select($"event_id", $"user_id", $"ts")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"event_id", $"asof_pval")
        .collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
    Seq("backward", "forward", "nearest").foreach { dir =>
      val window = canon(graft.operators.AsofJoin.asofJoin(
        l, purchases, "user_id", "ts", Seq("pval"), dir))
      val bcast = canon(graft.operators.AsofJoin.asofJoinBroadcast(
        l, purchases, "user_id", "ts", Seq("pval"), dir))
      assert(bcast.size == window.size, dir)
      val diffs = window.collect {
        case (k, v) if bcast.get(k) != Some(v) => (k, v, bcast.get(k))
      }
      assert(diffs.isEmpty, s"$dir first diffs: ${diffs.take(5)}")
    }
    // fact side stays unshuffled: the plan has no Exchange at all
    val plan = graft.operators.AsofJoin.asofJoinBroadcast(
      l, purchases, "user_id", "ts", Seq("pval"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
    // mixed key types would be cast to the right's type and could match
    // by a different equality — rejected up front
    intercept[IllegalArgumentException] {
      graft.operators.AsofJoin.asofJoinBroadcast(
        l.withColumn("user_id", $"user_id".cast("int")),
        purchases, "user_id", "ts", Seq("pval"))
    }
  }

  test("asof on a DATE ts: nearest and tolerance measure the distance in micros") {
    // a date ts is days since the epoch in micros, as in asofJoinNative;
    // row 3 sits 11 days from both neighbours, a tie that goes backward
    val l = Seq((0L, "2024-01-05"), (1L, "2024-01-10"), (2L, "2024-01-20"),
        (3L, "2024-01-19")).toDF("row_id", "d")
      .select($"row_id", lit(1L).as("k"), to_date($"d").as("ts"))
    val r = Seq(("2024-01-01", 1.0), ("2024-01-08", 2.0), ("2024-01-30", 3.0))
      .toDF("d", "v").select(lit(1L).as("k"), to_date($"d").as("ts"), $"v")
    def got(df: org.apache.spark.sql.DataFrame) =
      df.select($"row_id", $"asof_v").as[(Long, Option[Double])].collect().toMap
    val near = Map(0L -> Some(2.0), 1L -> Some(2.0), 2L -> Some(3.0), 3L -> Some(2.0))
    assert(got(graft.operators.AsofJoin.asofJoin(l, r, "k", "ts", Seq("v"), "nearest")) == near)
    assert(got(graft.operators.AsofJoin.asofJoinBroadcast(l, r, "k", "ts", Seq("v"),
      "nearest")) == near)
    val threeDays = 3L * 86400L * 1000000L
    assert(got(graft.operators.AsofJoin.asofJoinTolerance(l, r, "k", "ts", Seq("v"),
      threeDays)) == Map(0L -> None, 1L -> Some(2.0), 2L -> None, 3L -> None))
    assert(got(graft.operators.AsofJoin.asofJoinTolerance(l, r, "k", "ts", Seq("v"),
      threeDays, "nearest")) == Map(0L -> Some(2.0), 1L -> Some(2.0), 2L -> None, 3L -> None))
  }

  test("native asof join: inclusive tie, strictly-later right row ignored") {
    val l = Seq((1L, 100L, "a"), (1L, 200L, "b"), (2L, 50L, "c"))
      .toDF("k", "t", "tag")
    val r = Seq((1L, 100L, 10.0), (1L, 150L, 20.0), (2L, 60L, 30.0))
      .toDF("k", "t", "v")
    val out = graft.operators.AsofJoin.asofJoinNative(l, r, "k", "t", Seq("v"))
      .select($"tag", $"asof_v").collect()
      .map(x => x.getString(0) -> Option(x.get(1))).toMap
    assert(out == Map("a" -> Some(10.0), "b" -> Some(20.0), "c" -> None))
  }

  test("native asof join: int/date/timestamp key and ts auto-cast") {
    // v1 required long key and long/timestamp ts; the wrapper now derives
    // order-preserving longs for int/short/byte/date/timestamp columns.
    // Differential witness: the window form, which orders natively.
    import java.sql.Date
    val l = Seq(
      (1, Date.valueOf("2024-03-05"), "a"),
      (1, Date.valueOf("2024-03-20"), "b"),
      (2, Date.valueOf("2024-01-02"), "c"))
      .toDF("k", "d", "tag")
    val r = Seq(
      (1, Date.valueOf("2024-03-05"), 10.0),
      (1, Date.valueOf("2024-03-10"), 20.0),
      (2, Date.valueOf("2024-02-01"), 30.0))
      .toDF("k", "d", "v")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"tag", $"asof_v").collect()
        .map(x => x.getString(0) -> Option(x.get(1))).toMap
    val native = canon(graft.operators.AsofJoin.asofJoinNative(l, r, "k", "d", Seq("v")))
    val window = canon(graft.operators.AsofJoin.asofJoinLast(l, r, "k", "d", Seq("v")))
    assert(native == window)
    assert(native == Map("a" -> Some(10.0), "b" -> Some(20.0), "c" -> None))
    // output schema keeps the user's original column types (no temp cols)
    val out = graft.operators.AsofJoin.asofJoinNative(l, r, "k", "d", Seq("v"))
    assert(out.columns.toSeq == Seq("k", "d", "tag", "asof_v"))
    assert(out.schema("d").dataType == org.apache.spark.sql.types.DateType)
    // timestamp KEY (micros-derived) + int ts also resolve
    val lt = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 5, "x"))
      .toDF("tk", "t", "tag")
    val rt = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 3, 1.5))
      .toDF("tk", "t", "v")
    assert(canon(graft.operators.AsofJoin.asofJoinNative(
      lt, rt, "tk", "t", Seq("v"))) == Map("x" -> Some(1.5)))
  }

  test("native asof join: cross-side ts units commensurable, mixes rejected") {
    import java.sql.{Date, Timestamp}
    // Date-side ts against Timestamp-side ts: both normalize to epoch
    // MICROS. The r4 derivation compared days-since-epoch to micros —
    // every date collapsed to ~0, silently matching wrong as-of rows.
    val l = Seq((1L, Date.valueOf("2024-03-05"), "a"),
      (1L, Date.valueOf("2024-03-20"), "b")).toDF("k", "d", "tag")
    val r = Seq((1L, Timestamp.valueOf("2024-03-04 12:00:00"), 10.0),
      (1L, Timestamp.valueOf("2024-03-10 00:00:00"), 20.0)).toDF("k", "d", "v")
    val out = graft.operators.AsofJoin.asofJoinNative(l, r, "k", "d", Seq("v"))
      .select($"tag", $"asof_v").collect()
      .map(x => x.getString(0) -> Option(x.get(1))).toMap
    assert(out == Map("a" -> Some(10.0), "b" -> Some(20.0)))
    // integral-vs-temporal mixes across sides throw instead of mismatching
    val rLong = Seq((1L, 5L, 1.0)).toDF("k", "d", "v")
    val eTs = intercept[IllegalArgumentException] {
      graft.operators.AsofJoin.asofJoinNative(l, rLong, "k", "d", Seq("v"))
    }
    assert(eTs.getMessage.contains("incommensurable"))
    val lDk = Seq((Date.valueOf("2024-01-01"), 1L, "x")).toDF("k", "t", "tag")
    val rLk = Seq((1L, 1L, 1.0)).toDF("k", "t", "v")
    val eKey = intercept[IllegalArgumentException] {
      graft.operators.AsofJoin.asofJoinNative(lDk, rLk, "k", "t", Seq("v"))
    }
    assert(eKey.getMessage.contains("key types are incommensurable"))
  }

  test("native asof join: string keys via collision-checked hash bridge") {
    // user-id-style string keys route through xxhash64 (keys only need
    // equality; ts carries the order). Differential vs the window form,
    // which handles strings natively.
    val l = Seq(("u-alpha", 100L, "a"), ("u-alpha", 200L, "b"),
      ("u-beta", 50L, "c"), ("u-gamma", 10L, "d")).toDF("k", "t", "tag")
    val r = Seq(("u-alpha", 100L, 10.0), ("u-alpha", 150L, 20.0),
      ("u-beta", 60L, 30.0)).toDF("k", "t", "v")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"tag", $"asof_v").collect()
        .map(x => x.getString(0) -> Option(x.get(1))).toMap
    val native = canon(
      graft.operators.AsofJoin.asofJoinNative(l, r, "k", "t", Seq("v")))
    val window = canon(
      graft.operators.AsofJoin.asofJoinLast(l, r, "k", "t", Seq("v")))
    assert(native == window)
    assert(native == Map("a" -> Some(10.0), "b" -> Some(20.0),
      "c" -> None, "d" -> None))
    // original string key column passes through untouched
    val out = graft.operators.AsofJoin.asofJoinNative(l, r, "k", "t", Seq("v"))
    assert(out.schema("k").dataType == org.apache.spark.sql.types.StringType)
    // string ts is still rejected (order would be hash-scrambled)
    val eTs = intercept[IllegalArgumentException] {
      graft.operators.AsofJoin.asofJoinNative(
        l.withColumn("t", $"t".cast("string")),
        r.withColumn("t", $"t".cast("string")), "k", "t", Seq("v"))
    }
    assert(eTs.getMessage.contains("unsupported ts type"))
  }

  test("asof join directions: forward and nearest (ties backward)") {
    val l = Seq((1L, 10L, "a"), (1L, 25L, "b"), (1L, 40L, "c"), (2L, 5L, "d"))
      .toDF("k", "t", "tag")
    val r = Seq((1L, 20L, 2.0), (1L, 30L, 3.0)).toDF("k", "t", "v")
    def canon(dir: String) =
      graft.operators.AsofJoin.asofJoin(l, r, "k", "t", Seq("v"), dir)
        .select($"tag", $"asof_v").collect()
        .map(x => x.getString(0) -> Option(x.get(1))).toMap
    assert(canon("backward") == Map(
      "a" -> None, "b" -> Some(2.0), "c" -> Some(3.0), "d" -> None))
    assert(canon("forward") == Map(
      "a" -> Some(2.0), "b" -> Some(3.0), "c" -> None, "d" -> None))
    // "b" at t=25 is equidistant from 20 and 30 -> tie takes backward (2.0)
    assert(canon("nearest") == Map(
      "a" -> Some(2.0), "b" -> Some(2.0), "c" -> Some(3.0), "d" -> None))
  }

  test("native asof join: null keys/ts match the window form") {
    // null + NEGATIVE keys in one partition is the merge's hard case: the
    // child sort puts nulls FIRST, so an unguarded getLong (null reads as
    // 0) would see the null-key run as key 0 ahead of key -5 and silently
    // drop matches. Window-form semantics: null key is an ordinary group,
    // null ts sorts before (= at-or-before) every timestamp.
    val l = Seq(
      (Option(-5L), Option(100L), "negA"), (Option(-5L), Option(40L), "negB"),
      (Option.empty[Long], Option(100L), "nullKey"),
      (Option(1L), Option.empty[Long], "nullTs"),
      (Option.empty[Long], Option.empty[Long], "nullBoth"),
      (Option(7L), Option(10L), "plain")
    ).toDF("k", "t", "tag")
    val r = Seq(
      (Option(-5L), Option(50L), 1.0),
      (Option.empty[Long], Option(60L), 2.0),
      (Option(1L), Option.empty[Long], 3.0),
      (Option(7L), Option(99L), 4.0),
      (Option.empty[Long], Option.empty[Long], 5.0)
    ).toDF("k", "t", "v")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"tag", $"asof_v").collect()
        .map(x => x.getString(0) -> Option(x.get(1))).toMap
    val native = canon(graft.operators.AsofJoin.asofJoinNative(l, r, "k", "t", Seq("v")))
    val window = canon(graft.operators.AsofJoin.asofJoinLast(l, r, "k", "t", Seq("v")))
    val want = Map(
      "negA" -> Some(1.0), "negB" -> None,
      "nullKey" -> Some(2.0), "nullTs" -> Some(3.0),
      "nullBoth" -> Some(5.0), "plain" -> None)
    assert(window == want, "window form disagrees with hand-computed truth")
    assert(native == want, "native exec disagrees with hand-computed truth")
  }

  test("native asof join elides shuffles for bucketed, pre-sorted inputs") {
    // the property the planner-operator encoding exists for: children
    // already hash-partitioned on the key (bucketed tables with buckets ==
    // shuffle partitions) satisfy requiredChildDistribution, so
    // EnsureRequirements inserts NO exchange
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val ev = graft.core.Tables.events(spark, dir)
    val nb = spark.sessionState.conf.numShufflePartitions
    ev.select($"event_id", $"user_id", $"ts").write
      .bucketBy(nb, "user_id").sortBy("user_id", "ts")
      .option("path", s"$wh/l").mode("overwrite").saveAsTable("asof_l")
    ev.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"ts").agg(max($"value").as("pval")).write
      .bucketBy(nb, "user_id").sortBy("user_id", "ts")
      .option("path", s"$wh/r").mode("overwrite").saveAsTable("asof_r")
    try {
      val joined = graft.operators.AsofJoin.asofJoinNative(
        spark.table("asof_l"), spark.table("asof_r"),
        "user_id", "ts", Seq("pval"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("AsofJoin"), plan.take(1500))
      assert(!plan.contains("Exchange"),
        s"bucketed asof join should not shuffle:\n${plan.take(2000)}")
      // and it still computes the same thing as the window form
      val window = graft.operators.AsofJoin.asofJoinLast(
          ev.select($"event_id", $"user_id", $"ts"),
          ev.filter($"event_type" === "purchase")
            .groupBy($"user_id", $"ts").agg(max($"value").as("pval")),
          "user_id", "ts", Seq("pval"))
        .agg(count($"asof_pval"), round(sum($"asof_pval"), 2)).head
      val native = joined
        .agg(count($"asof_pval"), round(sum($"asof_pval"), 2)).head
      assert(native == window)
    } finally {
      spark.sql("DROP TABLE IF EXISTS asof_l")
      spark.sql("DROP TABLE IF EXISTS asof_r")
    }
  }

  test("trained IVF recall >= seeded IVF recall at equal nprobe") {
    val emb = graft.core.Tables.embeddings(spark, dir)
    val truth = bruteForceTopK(emb.filter($"vec_id" < 20), emb,
        "vec_id", "embedding", 3)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    def recall(trainIters: Int): Double = {
      val hits = ivfTopK(emb, "vec_id", "embedding", 16, 4, 3, trainIters)
        .filter($"qid" < 20)
        .select($"qid", $"nid").as[(Long, Long)].collect().toSet
      (truth & hits).size.toDouble / truth.size
    }
    val seeded = recall(0)
    val trained = recall(2)
    assert(trained >= seeded - 0.05,
      s"trained recall $trained should not regress vs seeded $seeded")
    assert(trained > 0.3, s"trained recall $trained unexpectedly low")
  }

  test("asofJoinTolerance: distant matches null out; infinite tolerance = plain asof") {
    val l = Seq((1L, 100L, "a"), (1L, 200L, "b"), (2L, 50L, "c"))
      .toDF("k", "t", "tag")
    val r = Seq((1L, 95L, 10.0), (1L, 120L, 20.0), (2L, 1L, 30.0))
      .toDF("k", "t", "v")
    // tolerance 10: "a" matches t=95 (d=5); "b"'s backward match t=120
    // is 80 away -> null; "c"'s t=1 is 49 away -> null
    val tight = graft.operators.AsofJoin
      .asofJoinTolerance(l, r, "k", "t", Seq("v"), toleranceUs = 10L)
      .select($"tag", $"asof_v").collect()
      .map(x => x.getString(0) -> Option(x.get(1))).toMap
    assert(tight == Map("a" -> Some(10.0), "b" -> None, "c" -> None))
    // huge tolerance reproduces the unconstrained join exactly
    val loose = graft.operators.AsofJoin
      .asofJoinTolerance(l, r, "k", "t", Seq("v"), toleranceUs = 1000000L)
      .select($"tag", $"asof_v").collect()
      .map(x => x.getString(0) -> Option(x.get(1))).toMap
    val plain = graft.operators.AsofJoin
      .asofJoin(l, r, "k", "t", Seq("v"))
      .select($"tag", $"asof_v").collect()
      .map(x => x.getString(0) -> Option(x.get(1))).toMap
    assert(loose == plain)
    // nearest direction: "b" prefers t=200-120=80 backward... nearest of
    // (120 back d=80, none fwd) under tolerance 100 keeps it
    val near = graft.operators.AsofJoin
      .asofJoinTolerance(l, r, "k", "t", Seq("v"), toleranceUs = 100L,
        direction = "nearest")
      .select($"tag", $"asof_v").collect()
      .map(x => x.getString(0) -> Option(x.get(1))).toMap
    assert(near == Map("a" -> Some(10.0), "b" -> Some(20.0),
      "c" -> Some(30.0)))
  }

  private def funnelFixture(rows: Seq[(Long, Long, Long, String)]) =
    rows.toDF("user_id", "us", "event_id", "event_type")
      .select($"user_id", timestamp_micros($"us").as("ts"),
        $"event_id", $"event_type")

  test("funnelDepth: strict-order semantics, repeats skipped, overrun safe") {
    val stages = Seq("view", "click", "purchase")
    val df = funnelFixture(Seq(
      // complete, with a trailing extra view: depth must cap at 3 (the
      // try_element_at out-of-range guard)
      (1L, 10L, 1L, "view"), (1L, 20L, 2L, "click"),
      (1L, 30L, 3L, "purchase"), (1L, 40L, 4L, "view"),
      // click BEFORE the first view is not stage 2; purchase does not
      // match the expected click -> stuck at depth 1
      (2L, 10L, 5L, "click"), (2L, 20L, 6L, "view"),
      (2L, 30L, 7L, "purchase"),
      // repeated views are passed over, then click advances
      (3L, 10L, 8L, "view"), (3L, 20L, 9L, "view"),
      (3L, 30L, 10L, "click"),
      // never enters
      (4L, 10L, 11L, "purchase"),
      // same-ts events: event_id tiebreak orders view before click
      (5L, 10L, 12L, "view"), (5L, 10L, 13L, "click")))
    val got = graft.operators.Funnel
      .funnelDepth(df, "user_id", "ts", "event_id", "event_type", stages)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 3, 2L -> 1, 3L -> 2, 4L -> 0, 5L -> 2))
  }

  test("funnelDepthWindowed: greedy in-window matching, stage 1 unconstrained") {
    val stages = Seq("view", "click", "purchase")
    val w = 100L // microsecond window for the fixture
    val df = funnelFixture(Seq(
      // click within window, purchase within window of the CLICK
      (1L, 1000L, 1L, "view"), (1L, 1050L, 2L, "click"),
      (1L, 1140L, 3L, "purchase"),
      // click beyond window of the first view: greedy never recovers
      // (the later in-window-of-nothing click is still out of range)
      (2L, 1000L, 4L, "view"), (2L, 1200L, 5L, "click"),
      (2L, 1250L, 6L, "purchase"),
      // purchase within window of the VIEW but not the click -> depth 2
      (3L, 1000L, 7L, "view"), (3L, 1100L, 8L, "click"),
      (3L, 1201L, 9L, "purchase"),
      // stage 1 has no window: a lone late view still enters
      (4L, 999999999L, 10L, "view")))
    val got = graft.operators.Funnel
      .funnelDepthWindowed(df, "user_id", "ts", "event_id", "event_type",
        stages, w)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 3, 2L -> 1, 3L -> 2, 4L -> 1))
    // window large enough -> collapses to the strict-order depths
    val loose = graft.operators.Funnel
      .funnelDepthWindowed(df, "user_id", "ts", "event_id", "event_type",
        stages, 1000000000L)
      .as[(Long, Int)].collect().toMap
    val strict = graft.operators.Funnel
      .funnelDepth(df, "user_id", "ts", "event_id", "event_type", stages)
      .as[(Long, Int)].collect().toMap
    assert(loose == strict)
  }

  test("funnelStageTimes: matched micros per stage, consistent with depths") {
    val stages = Seq("view", "click", "purchase")
    val df = funnelFixture(Seq(
      (1L, 1000L, 1L, "view"), (1L, 1050L, 2L, "click"),
      (1L, 1140L, 3L, "purchase"),
      (2L, 1000L, 4L, "view"), (2L, 1200L, 5L, "click"), // out of window
      (3L, 500L, 6L, "error")))
    val got = graft.operators.Funnel.funnelStageTimes(
        df, "user_id", "ts", "event_id", "event_type", stages,
        windowUs = Some(100L))
      .as[(Long, Option[Long], Option[Long], Option[Long])]
      .collect().map { case (u, a, b, c) => u -> ((a, b, c)) }.toMap
    assert(got(1L) == ((Some(1000L), Some(1050L), Some(1140L))))
    assert(got(2L) == ((Some(1000L), None, None)))
    assert(got(3L) == ((None, None, None)))
    // non-null count must equal the windowed depth on the real corpus
    val ev = graft.core.Tables.events(spark, dir)
    val w = Some(3600L * 1000000)
    val times = graft.operators.Funnel.funnelStageTimes(
        ev, "user_id", "ts", "event_id", "event_type", stages, w)
      .select($"user_id",
        ($"s1_us".isNotNull.cast("int") + $"s2_us".isNotNull.cast("int") +
          $"s3_us".isNotNull.cast("int")).as("d"))
      .as[(Long, Int)].collect().toMap
    val depths = graft.operators.Funnel.funnelDepthWindowed(
        ev, "user_id", "ts", "event_id", "event_type", stages, w.get)
      .as[(Long, Int)].collect().toMap
    assert(times == depths)
  }

  test("funnelDepthSalted equals the plain build under a 90%-one-user skew") {
    val stages = Seq("view", "click", "purchase")
    // hot user 1 carries 900 events cycling the alphabet; 30 normal users
    val hot = (0 until 900).map(i => (1L, 1000L + i * 10, i.toLong,
      Seq("view", "click", "purchase", "error")(i % 4)))
    val cold = (2 to 31).flatMap(u => Seq(
      (u.toLong, 1000L, 10000L + u * 3, "view"),
      (u.toLong, 1050L, 10001L + u * 3, "click"),
      (u.toLong, 5000L, 10002L + u * 3, "purchase")))
    val df = funnelFixture(hot ++ cold)
    for (w <- Seq(None, Some(100L))) {
      val plain = (w match {
        case Some(x) => graft.operators.Funnel.funnelDepthWindowed(
          df, "user_id", "ts", "event_id", "event_type", stages, x)
        case None => graft.operators.Funnel.funnelDepth(
          df, "user_id", "ts", "event_id", "event_type", stages)
      }).as[(Long, Int)].collect().toMap
      val salted = graft.operators.Funnel.funnelDepthSalted(
          df, "user_id", "ts", "event_id", "event_type", stages,
          salts = 8, windowUs = w)
        .as[(Long, Int)].collect().toMap
      assert(salted == plain, s"windowUs=$w")
    }
  }

  test("cohortRetention: daily cohorts, offsets, and quantized shares") {
    val us = (d: Long) => d * 86400L * 1000000L // day -> epoch micros
    val df = funnelFixture(Seq(
      // cohort day 0: users 1,2 — user 1 active days 0,1,2; user 2 day 0
      (1L, us(0), 1L, "x"), (1L, us(1), 2L, "x"), (1L, us(2), 3L, "x"),
      (1L, us(0) + 5L, 4L, "x"), // same-day repeat: one activity cell
      (2L, us(0), 5L, "x"),
      // cohort day 2: user 3 active days 2 and 4
      (3L, us(2), 6L, "x"), (3L, us(4), 7L, "x"),
      // null ids dropped
      (-1L, us(0), 8L, "x"))).withColumn("user_id",
        when($"user_id" < 0, lit(null)).otherwise($"user_id"))
    val got = graft.operators.Retention
      .cohortRetention(df, "user_id", "ts", grain = "day")
      .select($"cohort", $"offset", $"n_active", $"pct_retained")
      .as[(String, Int, Long, Double)].collect().toSet
    assert(got == Set(
      ("1970-01-01", 0, 2L, 100.0), ("1970-01-01", 1, 1L, 50.0),
      ("1970-01-01", 2, 1L, 50.0),
      ("1970-01-03", 0, 1L, 100.0), ("1970-01-03", 2, 1L, 100.0)))
  }

  test("cohortRetention: week grain divides offsets by 7") {
    val us = (d: Long) => d * 86400L * 1000000L
    // 1970-01-01 is a Thursday; Spark's week trunc goes to Monday
    // (1969-12-29), so day 5 (Tue 1970-01-06) is the NEXT week
    val df = funnelFixture(Seq(
      (1L, us(0), 1L, "x"), (1L, us(5), 2L, "x"), (1L, us(15), 3L, "x")))
    val got = graft.operators.Retention
      .cohortRetention(df, "user_id", "ts", grain = "week")
      .select($"cohort", $"offset")
      .as[(String, Int)].collect().toSet
    assert(got == Set(("1969-12-29", 0), ("1969-12-29", 1),
      ("1969-12-29", 2)))
  }

  test("sessionize: 1-based ids, gap splits, tiebreak order, nulls dropped") {
    val df = funnelFixture(Seq(
      // user 1: two sessions (gap 1000 > 100 between eid 2 and 3)
      (1L, 10L, 1L, "a"), (1L, 50L, 2L, "b"), (1L, 2000L, 3L, "c"),
      // user 2: same-ts events ordered by event_id stay one session
      (2L, 10L, 4L, "a"), (2L, 10L, 5L, "b"),
      (-1L, 10L, 6L, "x"))).withColumn("user_id",
        when($"user_id" < 0, lit(null)).otherwise($"user_id"))
    val got = graft.operators.Retention
      .sessionize(df, "user_id", "ts", "event_id", gapUs = 100L)
      .select($"user_id", $"event_id", $"session_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 2L),
      (2L, 4L, 1L), (2L, 5L, 1L)))
  }

  test("sessionize composes: per-session funnel via a composite entity id") {
    // user 1 completes the funnel only ACROSS a session boundary: the
    // whole-user funnel reaches depth 3, the within-session one depth 2
    val df = funnelFixture(Seq(
      (1L, 10L, 1L, "view"), (1L, 20L, 2L, "click"),
      (1L, 5000L, 3L, "purchase")))
    val sess = graft.operators.Retention
      .sessionize(df, "user_id", "ts", "event_id", gapUs = 100L)
      .withColumn("uid_session",
        $"user_id" * 1000000L + $"session_id")
    val within = graft.operators.Funnel
      .funnelDepth(sess, "uid_session", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"))
      .as[(Long, Int)].collect().toMap
    // session 2 holds only the purchase, which is not stage 1 -> depth 0
    assert(within == Map(1000001L -> 2, 1000002L -> 0))
    val whole = graft.operators.Funnel
      .funnelDepth(df, "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"))
      .as[(Long, Int)].collect().toMap
    assert(whole == Map(1L -> 3))
  }

  test("transitionMatrix: lead ordering, tiebreaks, per-src shares") {
    val df = funnelFixture(Seq(
      // user 1: a -> b -> a (two transitions)
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (1L, 30L, 3L, "a"),
      // user 2: same ts, event_id tiebreak gives a -> b
      (2L, 10L, 4L, "a"), (2L, 10L, 5L, "b"),
      // user 3: single event, no transition
      (3L, 10L, 6L, "c"),
      // user 4: a -> c makes the out-of-a shares fractional
      (4L, 10L, 7L, "a"), (4L, 20L, 8L, "c")))
    val got = graft.operators.Retention
      .transitionMatrix(df, "user_id", "ts", "event_id", "event_type")
      .as[(String, String, Long, Double)].collect().toSet
    assert(got == Set(
      ("a", "b", 2L, 0.666666), // 10^6-quantized 2/3
      ("a", "c", 1L, 0.333333),
      ("b", "a", 1L, 1.0)))
  }

  test("topPaths: per-user leads never cross users; count-desc path-asc order") {
    val df = funnelFixture(Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (1L, 30L, 3L, "c"),
      (1L, 40L, 4L, "a"), (1L, 50L, 5L, "b"), (1L, 60L, 6L, "c"),
      // user 2 ends in "c": no path may bridge into user 3's events
      (2L, 10L, 7L, "b"), (2L, 20L, 8L, "c"), (2L, 30L, 9L, "a"),
      (3L, 10L, 10L, "z"), (3L, 20L, 11L, "z"), (3L, 30L, 12L, "z")))
    val got = graft.operators.Retention
      .topPaths(df, "user_id", "ts", "event_id", "event_type",
        steps = 3, k = 3)
      .as[(String, Long)].collect().toSeq
    // a>b>c twice (user 1); b>c>a, c>a>b (user 1 rolling + user 2), z>z>z
    // once each -> ties broken by path ascending
    assert(got == Seq(("a > b > c", 2L), ("b > c > a", 2L),
      ("c > a > b", 1L)))
  }

  test("abTest: exact counts, basis-point rates, hand-computed z") {
    // users 1..6: arm = id % 2; odd users (1,3,5) -> arm 1, even -> arm 0.
    // conversions (any 'buy' event): user 2 and 4 (arm 0), user 1 (arm 1)
    val df = funnelFixture(Seq(
      (1L, 10L, 1L, "buy"), (1L, 20L, 2L, "view"),
      (2L, 10L, 3L, "buy"), (3L, 10L, 4L, "view"),
      (4L, 10L, 5L, "buy"), (4L, 20L, 6L, "buy"), // double event, one entity
      (5L, 10L, 7L, "view"), (6L, 10L, 8L, "view")))
    val r = graft.operators.Experiment
      .abTest(df, "user_id", $"user_id", $"event_type" === "buy")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val (na, ca, nb, cb) = (3L, 2L, 3L, 1L)
    val (pa, pb) = (ca.toDouble / na, cb.toDouble / nb)
    val pp = (ca + cb).toDouble / (na + nb)
    val pv = pp * (1 - pp) * (1.0 / na + 1.0 / nb)
    val z = math.floor((pa - pb) / math.sqrt(pv) * 1000000).toLong
    assert(r == Seq((na, ca, nb, cb, 6666L, 3333L, z)))
  }

  test("abTestMetrics: one row per metric, null conversions count as 0") {
    val df = funnelFixture(Seq(
      (1L, 10L, 1L, "buy"), (2L, 10L, 2L, "view"),
      (3L, 10L, 3L, "buy"), (4L, 10L, 4L, "view")))
      .withColumn("value",
        when($"user_id" === 1L, lit(null).cast("double")).otherwise(lit(95.0)))
    val r = graft.operators.Experiment
      .abTestMetrics(df, "user_id", $"user_id", Seq(
        "buy" -> ($"event_type" === "buy"),
        "hv" -> ($"value" > 90)))
      .orderBy($"metric")
      .select($"metric", $"n_a", $"conv_a", $"n_b", $"conv_b")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // user 1 (arm 1) has a null value -> hv flag coalesces to 0
    assert(r == Seq(("buy", 2L, 0L, 2L, 2L), ("hv", 2L, 2L, 2L, 1L)))
  }

  test("markovRemovalEffects: hand-chain fixed point, knockout ordering, truncation") {
    // journeys: u1 view>click>purchase, u2 view>error (drop),
    // u3 click>purchase, u4 view>click (drop). Exact chain:
    // v(click)=2/3, v(view)=4/9, v(START)=3/4*4/9 + 1/4*2/3 = 1/2.
    val df = funnelFixture(Seq(
      (1L, 10L, 1L, "view"), (1L, 20L, 2L, "click"), (1L, 30L, 3L, "purchase"),
      (2L, 10L, 4L, "view"), (2L, 20L, 5L, "error"),
      (3L, 10L, 6L, "click"), (3L, 20L, 7L, "purchase"),
      (4L, 10L, 8L, "view"), (4L, 20L, 9L, "click")))
    val out = graft.operators.Attribution
      .markovRemovalEffects(df, "user_id", "ts", "event_id", "event_type",
        "purchase", iters = 15)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet == Set("view", "click", "error"))
    val base = out("click")._2
    assert(math.abs(base - 500000000L) < 5,
      s"base conversion should be ~1/2 ppb, got $base")
    // every converting path runs through click -> total removal effect
    assert(out("click")._3 == 0L && out("click")._4 == 1000000L)
    // error is never on a converting path -> zero effect
    assert(out("error")._3 == base && out("error")._4 == 0L)
    // removing view leaves only START>click>purchase = 1/4 * 2/3 = 1/6;
    // effect = (1/2 - 1/6)/(1/2) = 2/3
    assert(math.abs(out("view")._4 - 666666L) < 5, out("view").toString)
    // post-conversion events must not contribute transitions: a journey
    // that STARTS with purchase converts at 100% regardless of later noise
    val trunc = funnelFixture(Seq(
      (9L, 10L, 1L, "purchase"), (9L, 20L, 2L, "click"), (9L, 30L, 3L, "view")))
    val t = graft.operators.Attribution
      .markovRemovalEffects(trunc, "user_id", "ts", "event_id", "event_type",
        "purchase", iters = 5)
      .as[(String, Long, Long, Long)].collect()
    assert(t.isEmpty, // START is the only transient state: no channels
      s"post-purchase events leaked into the chain: ${t.toSeq}")
  }

  test("rfmSegments: quintile directions, exact micros, code packing") {
    // 5 users, one per quintile on every axis: user i has its last event
    // at day i, i+1 events, value 10*i each — so recency/frequency/
    // monetary ranks all ascend with i and the codes are 111..555
    val rows = (0 until 5).flatMap { i =>
      (0 to i).map(j => (i.toLong, 86400000000L * i + j + 1, 10.0 * (i + 1)))
    }
    val df = rows.toDF("user_id", "us", "value")
      .select($"user_id", timestamp_micros($"us").as("ts"), $"value")
    val out = graft.operators.Rfm
      .rfmSegments(df, "user_id", "ts", $"value")
      .select($"user_id", $"freq", $"mon_micro", $"rfm")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    for (i <- 0 until 5) {
      val (_, f, m, code) = out(i.toLong)
      assert(f == i + 1 && m == (i + 1).toLong * (i + 1) * 10000000L,
        s"user $i: freq $f mon $m")
      assert(code == s"${i + 1}${i + 1}${i + 1}", s"user $i code $code")
    }
  }

  test("funnelReport: per-depth rollup with cumulative reached counts") {
    val df = funnelFixture(Seq(
      (1L, 10L, 1L, "view"), (1L, 20L, 2L, "click"),
      (2L, 10L, 3L, "view"),
      (3L, 10L, 4L, "error")))
    val rows = graft.operators.Funnel
      .funnelReport(df, "user_id", "ts", "event_id", "event_type",
        Seq("view", "click"))
      .orderBy($"depth")
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(rows == Seq(
      (0, 1L, 3L, 100.0),      // everyone "reached" depth >= 0
      (1, 1L, 2L, 66.6666),    // 2 of 3 entered the funnel
      (2, 1L, 1L, 33.3333)))   // 1 of 3 converted fully
  }

  test("exactQuantiles: bisection matches sorted-array quantile_disc exactly") {
    import graft.operators.ExactQuantiles
    val rnd = new scala.util.Random(7)
    // heavy ties (50 distinct in 2000 rows), negatives, huge magnitudes,
    // denormal-scale values, -0.0/+0.0, and nulls to skip
    val vals: Seq[Double] =
      Seq.fill(2000)((rnd.nextInt(50) - 25) * 0.5) ++
        Seq(1e300, -1e300, 4.9e-324, -4.9e-324, 0.0, -0.0, 123.456)
    val df = (vals.map(Option(_)) ++ Seq(None, None)).toDF("x")
    val probs = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0)
    val got = ExactQuantiles.exactQuantiles(df, "x", probs)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val sorted = vals.sorted
    val n = sorted.length
    probs.foreach { p =>
      val k = math.max(1L, math.ceil(p * n).toLong).toInt
      val want = sorted(k - 1)
      assert(java.lang.Double.compare(got(p), want) == 0 ||
        got(p) == want, s"p=$p got ${got(p)} want $want")
    }
    // degenerate shapes: single row; all-equal column; empty input
    assert(ExactQuantiles.exactQuantiles(Seq(42.5).toDF("x"), "x", Seq(0.5))
      .head().getDouble(1) == 42.5)
    assert(ExactQuantiles.exactQuantiles(
      Seq.fill(100)(7.25).toDF("x"), "x", Seq(0.01, 0.99))
      .collect().forall(_.getDouble(1) == 7.25))
    assert(ExactQuantiles.exactQuantiles(
      Seq.empty[Double].toDF("x"), "x", Seq(0.5)).head().isNullAt(1))
  }

  test("exactQuantiles: NaN follows the IEEE total order (above +Infinity)") {
    import graft.operators.ExactQuantiles
    // the documented contract (ExactQuantiles scaladoc): NaN sorts above
    // +Infinity, so p=1.0 returns NaN when any is present and lower probs
    // are unaffected. 3 NaNs in 23 rows: ranks 1..20 are the finite data,
    // 21..23 the NaNs — p=0.5 hits rank 12 (finite), p=1.0 rank 23 (NaN),
    // and the +Inf row must surface at the first NaN-free top rank.
    val finite = (1 to 19).map(_.toDouble) :+ Double.PositiveInfinity
    val df = (finite ++ Seq.fill(3)(Double.NaN)).toDF("x")
    val got = ExactQuantiles.exactQuantiles(df, "x", Seq(0.5, 20.0 / 23, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(got(0.5) == 12.0, s"p=0.5 got ${got(0.5)}")
    assert(got(20.0 / 23).isPosInfinity, s"p=20/23 got ${got(20.0 / 23)}")
    assert(got(1.0).isNaN, s"p=1.0 got ${got(1.0)}")
  }

  test("exactQuantilesByGroup: two-level rank matches per-group sorted arrays") {
    import graft.operators.ExactQuantiles
    val rnd = new scala.util.Random(13)
    // skewed groups: one group holds 80% of rows (the case the window
    // spelling serializes), heavy value ties, a singleton group
    val rows = Seq.tabulate(3000) { i =>
      val g = if (rnd.nextInt(10) < 8) "hot" else s"g${rnd.nextInt(4)}"
      (g, (rnd.nextInt(40) - 20) * 0.25)
    } :+ ("solo", 9.75)
    val probs = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val got = ExactQuantiles.exactQuantilesByGroup(
        rows.toDF("g", "v").repartition(7), "g", "v", probs)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted)
    for ((g, vs) <- byG; p <- probs) {
      val k = math.max(1L, math.ceil(p * vs.length).toLong).toInt
      assert(got((g, p)) == vs(k - 1), s"g=$g p=$p")
    }
    assert(got.size == byG.size * probs.size)
  }

  test("madOutliers matches the hand-computed robust report") {
    import spark.implicits._
    // group a: median 10, deviations {9,5,0,5,9,90} -> mad 5 (rank
    //   ceil(.5*6)=3 of sorted {0,5,5,9,9,90}); 3*mad=15 -> one outlier
    // group b: constant -> mad 0, every nonzero deviation is an outlier
    val rows = Seq(("a", 1.0), ("a", 5.0), ("a", 10.0), ("a", 15.0),
      ("a", 19.0), ("a", 100.0), ("b", 7.0), ("b", 7.0), ("b", 8.0))
    val got = graft.operators.ExactQuantiles.madOutliers(
        rows.toDF("g", "v").repartition(5), "g", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(got("a") == ((6L, 10.0, 5.0, 1L)), s"a: ${got("a")}")
    assert(got("b") == ((3L, 7.0, 0.0, 1L)), s"b: ${got("b")}")
  }

  // --- rocAuc ---------------------------------------------------------------

  test("rocAuc equals brute pair counting with ties, nulls count as negative") {
    for (seed <- Seq(11, 313, 7001)) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 300).map { i =>
        val s = rnd.nextInt(20).toLong
        // higher scores more likely positive -> AUC strictly between .5 and 1
        val lab: Option[Boolean] =
          if (i % 17 == 0) None else Some(rnd.nextInt(20) < s + 3)
        (s, lab)
      }
      val out = graft.operators.Experiment.rocAuc(
        rows.toDF("s", "y"), col("s"), col("y")).collect()(0)
      val pos = rows.filter(_._2.contains(true)).map(_._1)
      val neg = rows.filter(!_._2.contains(true)).map(_._1)
      val pairs2 = (for (p <- pos; n <- neg)
        yield if (p > n) 2L else if (p == n) 1L else 0L).sum
      assert(out.getLong(0) == pos.size && out.getLong(1) == neg.size)
      assert(out.getLong(2) == pairs2,
        s"seed $seed: pairs2 ${out.getLong(2)} != $pairs2")
      assert(out.getDouble(3) == pairs2.toDouble / (2.0 * pos.size * neg.size))
      assert(out.getDouble(3) > 0.5 && out.getDouble(3) < 1.0)
    }
  }

  test("rocAuc: perfect separation = 1, reversed = 0, one-class = null") {
    def auc(rows: Seq[(Long, Boolean)]): org.apache.spark.sql.Row =
      graft.operators.Experiment.rocAuc(
        rows.toDF("s", "y"), col("s"), col("y")).collect()(0)
    assert(auc(Seq((10L, true), (9L, true), (1L, false))).getDouble(3) == 1.0)
    assert(auc(Seq((1L, true), (9L, false))).getDouble(3) == 0.0)
    assert(auc(Seq((1L, true), (2L, true))).isNullAt(3))
  }

  // --- chiSquare --------------------------------------------------------------

  test("chiSquare: hand-computed 2x2 table, independent table gives ~0") {
    // classic 2x2: a=(x:30,y:10), b=(x:10,y:30) -> chi2 = 20*80^2/(40*40*40*40/80...)
    val rows = Seq.fill(30)(("g1", 0L)) ++ Seq.fill(10)(("g1", 1L)) ++
      Seq.fill(10)(("g2", 0L)) ++ Seq.fill(30)(("g2", 1L))
    val out = graft.operators.Experiment.chiSquare(
        rows.toDF("a", "b"), col("a"), col("b"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // every margin is 40, N = 80 -> E = 20 for all four cells;
    // contrib = (30-20)^2/20 = 5 or (10-20)^2/20 = 5 -> chi2 = 20
    assert(out.size == 4)
    out.values.foreach { case (o, eMicro, cMicro) =>
      assert(Set(10L, 30L)(o) && eMicro == 20000000L && cMicro == 5000000L,
        s"cell ($o, $eMicro, $cMicro)")
    }
    // perfectly proportional table -> every contribution exactly 0
    val ind = Seq.fill(20)(("g1", 0L)) ++ Seq.fill(10)(("g1", 1L)) ++
      Seq.fill(40)(("g2", 0L)) ++ Seq.fill(20)(("g2", 1L))
    val zero = graft.operators.Experiment.chiSquare(
      ind.toDF("a", "b"), col("a"), col("b")).collect()
    assert(zero.forall(_.getLong(4) == 0L), "independent table must give 0")
  }

  // --- ksTwoSample ------------------------------------------------------------

  test("ksTwoSample equals brute max-CDF-gap with ties; identical groups give 0") {
    val rnd = new scala.util.Random(31)
    val rows = (0 until 400).map { i =>
      val a = i % 3 != 0
      // group A shifted up -> nonzero D
      (rnd.nextInt(15).toLong + (if (a) 3 else 0), a)
    }
    val out = graft.operators.Experiment.ksTwoSample(
      rows.toDF("s", "y"), col("s"), col("y")).collect()(0)
    val sa = rows.filter(_._2).map(_._1); val sb = rows.filterNot(_._2).map(_._1)
    val dnum = (0L to 20L).map(t =>
      math.abs(sa.count(_ <= t).toLong * sb.size - sb.count(_ <= t).toLong * sa.size)).max
    assert(out.getLong(0) == sa.size && out.getLong(1) == sb.size)
    assert(out.getLong(2) == dnum, s"d_num ${out.getLong(2)} != $dnum")
    assert(out.getDouble(3) == dnum.toDouble / (sa.size.toDouble * sb.size))
    val same = graft.operators.Experiment.ksTwoSample(
      (rows ++ rows.map(r => (r._1, !r._2))).toDF("s", "y"), col("s"), col("y"))
      .collect()(0)
    assert(same.getLong(2) >= 0) // sanity; exact-zero needs equal multisets:
    val eq = (0 until 100).flatMap(i => Seq((i.toLong % 7, true), (i.toLong % 7, false)))
    val z = graft.operators.Experiment.ksTwoSample(
      eq.toDF("s", "y"), col("s"), col("y")).collect()(0)
    assert(z.getLong(2) == 0L && z.getDouble(3) == 0.0)
  }

  // --- gini -------------------------------------------------------------------

  test("gini equals the pairwise |xi-xj| identity; uniform = 0; negative nulls") {
    for (seed <- Seq(3, 47, 1009)) {
      val rnd = new scala.util.Random(seed)
      val xs = (0 until 250).map(_ => rnd.nextInt(500).toLong)
      val out = graft.operators.Experiment.gini(
        xs.map(Tuple1(_)).toDF("v"), col("v")).collect()(0)
      // g_num = half the pairwise absolute-difference sum (exact identity)
      val pair2 = (for (a <- xs; b <- xs) yield math.abs(a - b)).sum
      assert(out.getLong(0) == xs.size && out.getLong(1) == xs.sum)
      assert(out.getLong(2) * 2 == pair2,
        s"seed $seed: g_num ${out.getLong(2)} vs pairwise/2 ${pair2 / 2}")
      assert(out.getDouble(3) ==
        out.getLong(2).toDouble / (xs.size.toDouble * xs.sum))
    }
    val unif = graft.operators.Experiment.gini(
      Seq.fill(40)(Tuple1(7L)).toDF("v"), col("v")).collect()(0)
    assert(unif.getLong(2) == 0L && unif.getDouble(3) == 0.0)
    val neg = graft.operators.Experiment.gini(
      Seq(Tuple1(5L), Tuple1(-1L)).toDF("v"), col("v")).collect()(0)
    assert(neg.isNullAt(2) && neg.isNullAt(3), "negative input must null out")
  }

  test("gini stays exact at the N*W < 2^63 overflow edge") {
    // a single row at 2^62: N*W = 2^62 is in-domain for the split-sum
    // spelling (s1 <= N*W, b <= N*W/2), but the old Σ cnt·(2·cum − m)
    // form evaluated 2·cum = 2^63 inside the aggregate — int64 overflow
    // a factor of 2 before N*W itself leaves the domain
    val top = 1L << 62
    val one = graft.operators.Experiment.gini(
      Seq(Tuple1(top)).toDF("v"), col("v")).collect()(0)
    assert(one.getLong(0) == 1L && one.getLong(1) == top)
    assert(one.getLong(2) == 0L && one.getDouble(3) == 0.0,
      s"single-row gini must be exactly 0, got ${one.getLong(2)}")
    // two rows at the very top of the doubled domain: N·W = 2^63 − 2
    val v = top - 2L // W = 2^62 − 1, N·W = 2^63 − 2 < 2^63
    val two = graft.operators.Experiment.gini(
      Seq(Tuple1(v), Tuple1(1L)).toDF("v"), col("v")).collect()(0)
    // g_num = half the pairwise |xi−xj| sum = v − 1
    assert(two.getLong(2) == v - 1L,
      s"expected ${v - 1L}, got ${two.getLong(2)}")
  }

  // --- ksDriftByPeriod --------------------------------------------------------

  test("ksDriftByPeriod: brute per-period sup over the union grid; flat periods ~0") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(61)
    // 3 "days" (1s periods): days 0/2 draw 0..9, day 1 shifted up by 5
    val rows = (0 until 900).map { i =>
      val day = i % 3
      val s = rnd.nextInt(10).toLong + (if (day == 1) 5 else 0)
      (new Timestamp(day * 1000L + (i / 3)), s)
    }
    val out = graft.operators.Experiment.ksDriftByPeriod(
        rows.toDF("ts", "v"), "ts", col("v"), periodUs = 1000000L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val all = rows.map(_._2); val nG = all.size.toLong
    val support = all.distinct.sorted
    for (day <- 0 to 2) {
      val dv = rows.filter(_._1.getTime / 1000 == day).map(_._2)
      val nD = dv.size.toLong
      val dnum = support.map(s =>
        math.abs(dv.count(_ <= s) * nG - all.count(_ <= s) * nD)).max
      assert(out(day.toLong) == ((nD, dnum, dnum.toDouble / (nD.toDouble * nG))),
        s"day $day: ${out(day.toLong)} want ($nD, $dnum)")
    }
    // the shifted day must drift hardest
    assert(out(1L)._3 > out(0L)._3 && out(1L)._3 > out(2L)._3)
  }

  // --- positionBasedAttribution -----------------------------------------------

  test("positionBasedAttribution: U-shaped credits, segments, uncredited tail") {
    import java.sql.Timestamp
    def ev(u: Long, sec: Int, id: Long, t: String) =
      (u, new Timestamp(1000L * sec), id, t)
    val rows = Seq(
      // user 1: A,B,C -> buy | D -> buy | E (tail, uncredited)
      ev(1, 1, 1, "A"), ev(1, 2, 2, "B"), ev(1, 3, 3, "C"),
      ev(1, 4, 4, "purchase"), ev(1, 5, 5, "D"), ev(1, 6, 6, "purchase"),
      ev(1, 7, 7, "E"),
      // user 2: X,Y -> buy (50/50); user 3: no purchase, nothing credited
      ev(2, 1, 8, "X"), ev(2, 2, 9, "Y"), ev(2, 3, 10, "purchase"),
      ev(3, 1, 11, "A"), ev(3, 2, 12, "B"))
    val out = graft.operators.Attribution.positionBasedAttribution(
        rows.toDF("user_id", "ts", "event_id", "event_type"),
        "user_id", "ts", "event_id", "event_type", "purchase")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(
      "A" -> ((1L, 400000L)), "B" -> ((1L, 200000L)), "C" -> ((1L, 400000L)),
      "D" -> ((1L, 1000000L)), "X" -> ((1L, 500000L)), "Y" -> ((1L, 500000L))),
      s"got $out")
  }

  // --- packBinsNoSplit --------------------------------------------------------

  test("packBinsNoSplit matches a brute per-shard NFD fold; oversized docs get own bins") {
    // multi-seed: zero-token docs and duplicate token counts included
    for (seed <- Seq(23, 509, 9091)) {
      val rnd = new scala.util.Random(seed)
      val docs = (0 until 500).map(i =>
        (i.toLong, if (i == 7) 999L else rnd.nextInt(120).toLong))
      val cap = 128L; val nShards = 4
      val out = graft.text.packBinsNoSplit(
          docs.toDF("doc_id", "ntok"), "doc_id", "ntok", cap, nShards)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      val brute = docs.groupBy(_._1 % nShards).flatMap { case (shard, ds) =>
        var cum = 0L; var bin = 0L
        ds.sortBy(d => (-d._2, d._1)).map { case (id, tok) =>
          if (bin == 0L) { bin = 1L }
          else if (cum > 0L && cum + tok > cap) { bin += 1; cum = 0L }
          cum += tok
          id -> ((shard, bin, tok))
        }
      }
      assert(out == brute, s"seed $seed: assignment mismatch (${out.size} docs)")
    }
    val rnd = new scala.util.Random(23)
    val docs = (0 until 500).map(i =>
      (i.toLong, if (i == 7) 999L else rnd.nextInt(120).toLong))
    val cap = 128L; val nShards = 4
    val out = graft.text.packBinsNoSplit(
        docs.toDF("doc_id", "ntok"), "doc_id", "ntok", cap, nShards)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // every bin fits the cap unless it holds a single oversized doc
    val byBin = out.values.groupBy(v => (v._1, v._2))
    byBin.foreach { case (b, ds) =>
      val tot = ds.map(_._3).sum
      assert(tot <= cap || ds.size == 1, s"bin $b overflows: $tot with ${ds.size} docs")
    }
    assert(byBin((7L % nShards, 1L)).size == 1, "oversized doc must sit alone in bin 1")
  }

  // --- winsorizedStats --------------------------------------------------------

  test("winsorizedStats matches a brute sorted clip under the quantile_disc rank") {
    val rnd = new scala.util.Random(41)
    val rows = (0 until 600).map(i =>
      (if (i % 2 == 0) "a" else "b",
        if (i % 97 == 0) 10000.0 else rnd.nextInt(1000) / 10.0))
    val out = graft.operators.ExactQuantiles.winsorizedStats(
        rows.toDF("g", "v"), "g", "v", pLo = 0.10, pHi = 0.90)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getLong(6)))).toMap
    val brute = rows.groupBy(_._1).map { case (g, vs0) =>
      val vs = vs0.map(_._2).sorted
      def q(p: Double) = vs(math.max(1, math.ceil(p * vs.size).toInt) - 1)
      val (lo, hi) = (q(0.10), q(0.90))
      val w = vs.map(v => math.min(math.max(v, lo), hi))
      g -> ((vs.size.toLong, vs.count(_ < lo).toLong, vs.count(_ > hi).toLong,
        lo, hi, w.map(x => math.floor(x * 100).toLong).sum))
    }
    assert(out == brute, s"got $out\nwant $brute")
    // the outlier spike must be clipped into hi, not dropped
    assert(out("a")._1 == 300L && out("a")._3 > 0L)
  }

  // --- charEntropy ------------------------------------------------------------

  test("charEntropy: uniform string = ln(k), constant string = 0, brute parity") {
    def run(texts: Seq[String]) = graft.text.charEntropy(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val out = run(Seq("aaaa", "abcd", "aabb", "abcabcabc"))
    // constant: every term ln(n/n) = 0
    assert(out(0L) == ((4L, 1L, 0L, 0.0)))
    // uniform over k=4: entq = 4 * floor(2^20 ln 4); entropy ~ ln 4
    val t4 = 4L * math.floor(1048576.0 * math.log(4.0)).toLong
    assert(out(1L)._3 == t4 && math.abs(out(1L)._4 - math.log(4.0)) < 1e-5)
    // brute per-char-count parity on the rest
    for ((id, text) <- Seq(2L -> "aabb", 3L -> "abcabcabc")) {
      val n = text.length.toDouble
      val want = text.groupBy(identity).values.map(_.length.toLong)
        .map(c => c * math.floor(1048576.0 * math.log(n / c)).toLong).sum
      assert(out(id)._3 == want, s"doc $id entq")
      assert(out(id)._4 == want.toDouble / (text.length * 1048576L))
    }
    // zero-shuffle pin
    val df = graft.text.charEntropy(
      Seq((1L, "xy")).toDF("doc_id", "text"), "doc_id", "text")
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  // --- Rproj ------------------------------------------------------------------

  test("Rproj: deterministic signs, exact integer lanes, zero shuffle") {
    val m1 = Rproj.signMatrix(16, 4)
    val m2 = Rproj.signMatrix(16, 4)
    val m3 = Rproj.signMatrix(16, 4, seed = 43L)
    assert(m1.map(_.toSeq).toSeq == m2.map(_.toSeq).toSeq, "same seed must repeat")
    assert(m1.map(_.toSeq).toSeq != m3.map(_.toSeq).toSeq, "different seed must differ")
    assert(m1.flatten.forall(s => s == 1L || s == -1L))
    assert(m1.flatten.count(_ == 1L) > 10 && m1.flatten.count(_ == -1L) > 10,
      "signs should be roughly balanced")

    val rnd = new scala.util.Random(5)
    val vecs = (0 until 50).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val df = Rproj.projectQ(vecs.toDF("vec_id", "embedding"), "embedding",
      m1, qBits = 14, keep = Seq("vec_id"))
    val got = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got.size == 50 * 4)
    vecs.foreach { case (id, v) =>
      val q = v.map(x => math.floor(x.toDouble * 16384).toLong)
      for (j <- 0 until 4) {
        val want = q.indices.map(i => q(i) * m1(i)(j)).sum
        assert(got((id, j)) == want, s"vec $id lane $j")
      }
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"rproj must not shuffle:\n${plan.take(1200)}")
  }

  test("Rproj: dimension mismatch fails loudly, never silent null lanes") {
    val m = Rproj.signMatrix(8, 2)
    val bad = Seq((1L, Array.fill(8)(0.5f)), (2L, Array.fill(5)(0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Rproj.projectQ(bad, "embedding", m, qBits = 10, keep = Seq("vec_id"))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("vector dimension != 8")),
      s"expected the dimension error, got: $e")
    // ragged-free input still projects
    val ok = Rproj.projectQ(bad.filter($"vec_id" === 1L), "embedding", m,
      qBits = 10, keep = Seq("vec_id")).collect()
    assert(ok.length == 2)
  }

  test("Rproj: NULL vector passes through as null lanes, never a null raise_error") {
    // size(null) is null, so a NULL vector would otherwise fall into the
    // otherwise branch and fire raise_error with a null-concat message —
    // failing loudly while saying nothing. Nulls are the missing-embedding
    // convention and must pass through as null projections.
    val m = Rproj.signMatrix(4, 3)
    val rows = Seq((1L, Array.fill(4)(0.5f)), (2L, null))
      .toDF("vec_id", "embedding")
    val got = Rproj.projectQ(rows, "embedding", m, qBits = 10,
      keep = Seq("vec_id")).collect()
    assert(got.length == 6, s"both rows must project k=3 lanes: ${got.length}")
    val nullLanes = got.filter(_.getLong(0) == 2L)
    assert(nullLanes.length == 3 && nullLanes.forall(_.isNullAt(2)),
      "null vector must yield null proj_q lanes")
    assert(got.filter(_.getLong(0) == 1L).forall(!_.isNullAt(2)))
  }
}
