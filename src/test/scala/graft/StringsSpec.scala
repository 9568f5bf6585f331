package graft

import org.apache.spark.sql.functions._
import graft.strings._

/** Unit tests for the trickier §2.10 string kernels — the ones composed
  * from several built-ins rather than mapped 1:1 (Python-semantics
  * reference values from the eager Arrow kernels the reference wraps). */
class StringsSpec extends SparkSuite with CompiledLocalFrames {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, s: String): String =
    Seq(s).toDF("s").select(c.cast("string")).as[String].head

  test("capitalize / title / swapcase") {
    assert(one(capitalize($"s"), "hELLo world") == "Hello world")
    assert(one(title($"s"), "hELLo wORLD") == "Hello World")
    assert(one(swapcase($"s"), "aBc9 Xy") == "AbC9 xY")
    assert(one(swapcase($"s"), "") == "")
  }

  test("center pads both sides, left-biased deficit split") {
    assert(one(center($"s", 7, "*"), "abc") == "**abc**")
    assert(one(center($"s", 6, "*"), "abc") == "*abc**")
    assert(one(center($"s", 2, "*"), "abc") == "abc") // wider than target
  }

  test("countSubstring: non-overlapping, empty-safe") {
    assert(one(countSubstring($"s", "ab"), "abab xab") == "3")
    assert(one(countSubstring($"s", "aa"), "aaaa") == "2")
    assert(one(countSubstring($"s", "x"), "") == "0")
  }

  test("classifiers handle unicode and empties") {
    assert(one(isAlpha($"s"), "héllo") == "true")
    assert(one(isAlpha($"s"), "h3llo") == "false")
    assert(one(isDigit($"s"), "123") == "true")
    assert(one(isDigit($"s"), "") == "false")
    assert(one(isSpace($"s"), " \t") == "true")
    assert(one(isUpper($"s"), "ABC9") == "true")
    assert(one(isTitle($"s"), "Hello World") == "true")
    assert(one(isTitle($"s"), "Hello world") == "false")
  }

  test("find/replace/slice family") {
    assert(one(findSubstring($"s", "lo"), "hello") == "3") // 0-based
    assert(one(replaceSlice($"s", 1, 3, "XY"), "hello") == "hXYlo")
    assert(one(sliceString($"s", 1, 4), "hello") == "ell")
    assert(one(repeatS($"s", 3), "ab") == "ababab")
    assert(one(reverseS($"s"), "abc") == "cba")
  }

  test("toCategorical: dense sorted codes, dictionary round-trip, name clash rejected") {
    val df = Seq((1L, "fr"), (2L, "en"), (3L, "fr"), (4L, "de"), (5L, "en"))
      .toDF("id", "lang")
    val (coded, dict) = toCategorical(df, "lang", "code")
    // codes are dense ranks in sorted value order: de=0, en=1, fr=2
    assert(dict.as[(String, Long)].collect().sortBy(_._2).toSeq ==
      Seq(("de", 0L), ("en", 1L), ("fr", 2L)))
    assert(coded.select($"id", $"code").as[(Long, Long)].collect().sortBy(_._1).toSeq ==
      Seq((1L, 2L), (2L, 1L), (3L, 2L), (4L, 0L), (5L, 1L)))
    // decoding via the dictionary restores the original values exactly
    val decoded = coded.drop("lang").join(dict, "code")
      .select($"id", $"lang").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(decoded == df.as[(Long, String)].collect().sortBy(_._1).toSeq)
    intercept[IllegalArgumentException] { toCategorical(coded, "lang", "code") }
  }

  test("toCategorical ranks the dictionary two-level, never one task per dictionary") {
    // high-cardinality dictionary (every value distinct): the rank must
    // run range-partitioned + bounded offsets (globalRankBy), not one
    // unpartitioned dense_rank window funneling the dictionary through a
    // single task
    val df = (0 until 500).map(i => (i.toLong, f"v$i%05d")).toDF("id", "v")
    val (coded, dict) = toCategorical(df, "v", "code")
    val codes = dict.orderBy($"code").as[(String, Long)].collect()
    assert(codes.map(_._2).toSeq == (0L until 500L),
      "codes must be dense 0..n-1")
    assert(codes.map(_._1).toSeq == codes.map(_._1).sorted.toSeq,
      "codes must follow sorted value order")
    assert(coded.count() == 500)
    val plan = dict.queryExecution.executedPlan.toString
    // the dictionary-sized rank is partitioned by the range partition id
    // (Partitions.runningSums' __pid); the only unpartitioned window runs
    // over the bounded per-range-partition offsets frame
    // (<= shuffle.partitions rows)
    assert(plan.contains("windowspecdefinition(__pid"),
      s"dictionary rank is not pid-partitioned:\n${plan.take(2000)}")
    assert("Exchange SinglePartition".r.findAllIn(plan).size <= 1,
      s"dictionary funnels through a single task:\n${plan.take(2000)}")
  }

  test("toCategorical degrades to a shuffle join past the counted dictionary bound") {
    // high-cardinality column with the bound forced low: the join back
    // must NOT be a forced broadcast (the r10 soft premise — a hint that
    // overrides Spark's size safety turns high cardinality into an OOM
    // instead of a shuffle join)
    val df = (0 until 200).map(i => (i.toLong, f"w$i%05d")).toDF("id", "v")
    // disable stats-based auto-broadcast: the failure mode under test is
    // the forced HINT overriding Spark's size safety — only a hint can
    // broadcast with the threshold off, so any BroadcastHashJoin below
    // would be the regression
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (coded, dict) = toCategorical(df, "v", "code", broadcastMaxDict = 10)
      assert(dict.count() == 200)
      val plan = coded.queryExecution.executedPlan.toString
      // the only broadcast allowed is globalRankBy's internal pid-offset
      // join (bounded: one row per range partition) — the VALUE-keyed
      // dict join must not be broadcast
      assert(!plan.contains("BroadcastHashJoin [v#"),
        s"dict join still force-broadcasts past the counted bound:\n${plan.take(2000)}")
      assert(plan.contains("SortMergeJoin [v#") ||
        plan.contains("ShuffledHashJoin [v#"),
        s"expected a shuffle join on the value key:\n${plan.take(2000)}")
      // values still code correctly on the shuffle path
      val got = coded.filter($"id" === 137L).select($"code").as[Long].head
      assert(got == 137L) // w00137 ranks 137th in sorted order
      // under the bound the counted gate still applies the broadcast hint
      val (codedB, _) = toCategorical(df, "v", "code", broadcastMaxDict = 1000)
      assert(codedB.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"), "small dict must still broadcast")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("toCategorical survives a value column literally named 'k'") {
    // globalRankBy's output frame carries its own internal "k" column —
    // before the internal-name indirection a value column named "k"
    // produced an ambiguous-reference AnalysisException
    val df = Seq((1L, "b"), (2L, "a"), (3L, "b")).toDF("id", "k")
    val (coded, dict) = toCategorical(df, "k", "code")
    assert(dict.as[(String, Long)].collect().sortBy(_._2).toSeq ==
      Seq(("a", 0L), ("b", 1L)))
    assert(coded.select($"id", $"code").as[(Long, Long)].collect()
      .sortBy(_._1).toSeq == Seq((1L, 1L), (2L, 0L), (3L, 1L)))
  }

  test("blockedPairs blockCap: oversized block dropped and counted, " +
      "small blocks byte-identical — under the forced-shuffle config") {
    // the str_linkage guard (r11 verdict Next #1): a fixed-domain
    // blocking key makes block size linear in the corpus; the cap must
    // DROP (never truncate) an oversized block, count it via the
    // plan-native observe metric, and leave every other block's pairs
    // untouched. Forced-shuffle config (the suite-join discipline):
    // broadcast + AQE coalescing would otherwise hide the join shape
    // the cap exists to protect.
    val savedB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedC = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val cool = Seq((1L, "aaa", "B1"), (2L, "aab", "B1"),
        (3L, "zzz", "B2"), (4L, "zzy", "B2"), (5L, "mmm", null))
      val hot = (1 to 50).map(i => (100L + i, s"hot$i", "B9"))
      val df = (cool ++ hot).toDF("id", "nm", "blk")
      val capped = graft.dedup.blockedPairs(df, $"blk", "id", blockCap = 10)
      val got = capped.collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
      // B9 (50 rows > cap) erased; B1/B2 intact; NULL block never pairs
      assert(got == Set((1L, 2L), (3L, 4L)),
        s"cap must drop exactly the hot block's pairs: $got")
      val m = capped.queryExecution.observedMetrics("linkage_block_cap")
      assert(m.getAs[Long]("dropped_blocks") == 1L &&
        m.getAs[Long]("kept_blocks") == 2L, s"metric row: $m")
      // cap 0 (off) and cap wider than every block agree with the bare
      // blocked self-join, payload carried through both sides
      val off = graft.dedup.blockedPairs(df, $"blk", "id")
        .select($"a_id", $"b_id", $"a_nm", $"b_nm").collect().toSet
      val wide = graft.dedup.blockedPairs(df, $"blk", "id", blockCap = 1000)
        .select($"a_id", $"b_id", $"a_nm", $"b_nm").collect().toSet
      assert(off == wide && off.size == 1 + 1 + 50 * 49 / 2)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedB)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", savedC)
    }
  }

  test("nested-depth application via transform") {
    val got = Seq(Seq("aB", "cD")).toDF("xs")
      .select(transform($"xs", x => swapcase(x)))
      .as[Seq[String]].head
    assert(got == Seq("Ab", "Cd"))
  }

  test("jaroWinkler: textbook values, boost threshold, symmetry, edges") {
    import graft.functions.StringSimExprs.{jaro, jaroWinkler}
    // the canonical literature examples (also DuckDB's outputs, which the
    // str_linkage oracle grades against at corpus scale)
    assert(jaro("martha", "marhta") == 0.9444444444444445)
    assert(jaroWinkler("martha", "marhta") == 0.9611111111111111)
    assert(jaroWinkler("dwayne", "duane") == 0.8400000000000001)
    assert(jaroWinkler("dixon", "dicksonx") == 0.8133333333333332)
    assert(jaro("kitten", "sitting") == 0.746031746031746)
    // boost applies ONLY above jaro 0.7 — shared prefix alone is not enough
    val lowJ = jaro("prefixaaaa", "prefixbbbbbbbbbbbb")
    assert(lowJ < 0.7 && jaroWinkler("prefixaaaa", "prefixbbbbbbbbbbbb") == lowJ)
    // edges: empty strings and no-match pairs are 0; identity is 1
    assert(jaroWinkler("", "") == 0.0 && jaroWinkler("", "abc") == 0.0)
    assert(jaroWinkler("a", "b") == 0.0 && jaroWinkler("abc", "abc") == 1.0)
    // symmetric by construction
    for ((a, b) <- Seq(("crate", "trace"), ("dixon", "dicksonx"), ("x", "xyzzy")))
      assert(jaroWinkler(a, b) == jaroWinkler(b, a), s"asymmetric on ($a,$b)")
    // column face: null-safe
    val r = Seq((Option("martha"), Option("marhta")), (None, Option("x")))
      .toDF("a", "b")
      .select(graft.functions.StringSimExprs.jaroWinklerSim($"a", $"b"))
      .collect()
    assert(r(0).getDouble(0) == 0.9611111111111111 && r(1).isNullAt(0))
  }

  test("normalizeUnicode: NFC/NFD/NFKC against the java.text reference") {
    import java.text.Normalizer
    val cases = Seq(
      "e\u0301clair",          // decomposed accent -> composes under NFC
      "\u00e9clair",           // already composed -> NFC fast path no-op
      "\uFB01le \uFF12\uFF10", // ligature fi + fullwidth 20 (NFKC folds)
      "\u1E9B\u0323",          // long s, dot above + dot below: reorders
      "plain ascii", "")
    val df = (cases.map(Option(_)) :+ None).toDF("s")
    for (form <- Seq("NFC", "NFD", "NFKC", "NFKD")) {
      val got = df.select(normalizeUnicode($"s", form)).collect()
      cases.zipWithIndex.foreach { case (c, i) =>
        val want = Normalizer.normalize(c, Normalizer.Form.valueOf(form))
        assert(got(i).getString(0) == want, s"$form on ${c.toList}")
      }
      assert(got.last.isNullAt(0), "null passthrough")
    }
    // the composition actually happens (not an identity shim)
    val nfc = df.select(normalizeUnicode($"s")).head().getString(0)
    assert(nfc == "\u00e9clair" && nfc.length == cases.head.length - 1)
    // NFKC folds the ligature and fullwidth forms to ASCII
    val nfkc = df.select(normalizeUnicode($"s", "NFKC")).collect()(2).getString(0)
    assert(nfkc == "file 20")
    intercept[IllegalArgumentException](normalizeUnicode($"s", "NFX"))
  }

  test("prCurve: descending threshold sweep matches a brute-force count") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(500) { i =>
      (i.toLong, rnd.nextInt(20).toLong, rnd.nextInt(3) == 0) }
    val df = rows.toDF("id", "score", "lab")
    val got = graft.text.prCurve(df, "score", $"lab")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    val p = rows.count(_._3).toLong
    val thresholds = rows.map(_._2).distinct
    assert(got.keySet == thresholds.toSet)
    thresholds.foreach { t =>
      val sel = rows.filter(_._2 >= t)
      val tp = sel.count(_._3).toLong
      val fp = sel.size - tp
      val want = (tp, fp, tp * 1000000L / sel.size, tp * 1000000L / p)
      assert(got(t) == want, s"thr=$t")
    }
    // no positives anywhere: rec_ppm is null, not a division crash
    val none = graft.text.prCurve(
      Seq((1L, 5L, false), (2L, 6L, false)).toDF("id", "score", "lab"),
      "score", $"lab").collect()
    assert(none.forall(r => r.isNullAt(4) && r.getLong(1) == 0L))
  }
}
