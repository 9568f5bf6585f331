package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** Module tests: streaming (real Structured Streaming runs), inspect
  * (necessary-columns / pushdown reports), behaviors (mixin dispatch),
  * io (round-trips + report reads), multimodal (typed decode pipeline). */
class ModulesSpec extends SparkSuite with CompiledLocalFrames {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** FileStreamSource needs a directory; also re-encode the ns timestamps
    * to the micros the streaming schema declares. */
  private lazy val eventsStreamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_stream").toString
    graft.core.Tables.events(spark, dir).write.mode("overwrite").parquet(d)
    d
  }

  test("every query is DuckDB-oracled or on the documented rows-only allowlist") {
    // the correctness gate is only as strong as its coverage: a new query
    // landing without an oracle silently downgrades to a rows-only check.
    // Additions to the allowlist must be approximate BY NATURE (sketch
    // estimates, order-dependent streaming state), not merely hard to SQL.
    // EMPTY as of r12: q_sketch's states are now the engine's own
    // deterministic xxhash64 registers/samples (dumped and replayed),
    // and st_neardup grades its canonical-order face — every graded
    // query carries a full DuckDB oracle
    val rowsOnlyByNature = Set.empty[String]
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled == rowsOnlyByNature,
      s"queries without an oracle beyond the allowlist: ${unoracled -- rowsOnlyByNature}; " +
        s"stale allowlist entries: ${rowsOnlyByNature -- unoracled}")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles with no query: $orphans")
  }

  test("gopherQualityFlags: each rule trips on its crafted offender") {
    val fifty = (1 to 50).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, fifty),                               // clean: everything passes
      (2L, "too short"),                         // r_wc
      (3L, (1 to 50).map(_ => "a").mkString(" ")), // r_mwl (mean len 1)
      (4L, (1 to 50).map(_ => "word#").mkString(" ")), // r_sym (50 '#'s)
      (5L, (1 to 50).map(i => s"w$i" * 3).mkString(" ") // r_bullet: every
        .split(" ").map(w => s"- $w").mkString("\n")), //  line starts '- '
      (6L, (1 to 50).map(i => s"line$i...").mkString("\n")), // r_ellip
      (7L, (1 to 50).map(_ => "123456").mkString(" ")), // r_alpha (digits)
      (8L, fifty)).toDF("doc_id", "text")        // r_stop (no stopwords)
    val flags = graft.text.gopherQualityFlags(docs, "doc_id", "text",
        stopList = Seq("word1", "word2", "word3"))
      .collect().map(r => r.getLong(0) ->
        Seq("r_wc", "r_mwl", "r_sym", "r_bullet", "r_ellip", "r_alpha",
          "r_stop").map(c => r.getAs[Boolean](c))).toMap
    def failedOnly(id: Long, idx: Int) = {
      val f = flags(id)
      assert(!f(idx), s"doc $id: rule $idx should fail: $f")
    }
    // doc 1 passes every rule (stop list hits word1/word2/word3)
    assert(flags(1L).forall(identity), s"clean doc flagged: ${flags(1L)}")
    failedOnly(2L, 0); failedOnly(3L, 1); failedOnly(4L, 2)
    failedOnly(5L, 3); failedOnly(6L, 4); failedOnly(7L, 5)
    // doc 8 has the words but the run uses a stop list it lacks
    val f8 = graft.text.gopherQualityFlags(
        docs.filter($"doc_id" === 8L), "doc_id", "text")
      .select($"r_stop", $"keep").as[(Boolean, Boolean)].head()
    assert(f8 == ((false, false)))
  }

  test("qualityScore: exact on multi-million-char docs (no Long overflow)") {
    // advisor finding: the pre-r7 form computed num*10^4 with num up to
    // 2000*len*nt — silent Long wrap (Spark non-ANSI) near len ~ 10^6
    // while the DuckDB oracle errors, so the engines diverged exactly
    // where it mattered. The r7 form (scale-reduced + div/mod-decomposed
    // + 2^25 clamps) must equal a BigInt replay of the ORIGINAL formula,
    // which cannot overflow, on a doc big enough to wrap the old path.
    def expected(text: String): Double = {
      val len = text.length.toLong
      if (len == 0) return 0.3
      val pc = "[^A-Za-z0-9\\s]".r.findAllIn(text).size.toLong
      val ac = "[A-Za-z]".r.findAllIn(text).size.toLong
      val toks = text.trim.split("\\s+")
      val nt = toks.length.toLong
      val stop = Set("the", "a", "of", "and", "to", "in")
      val sc = toks.count(stop).toLong
      val num = BigInt(3) * math.min(len, 200) * len * nt +
        BigInt(600) * (len - math.min(5 * pc, len)) * nt +
        BigInt(400) * math.min(10 * sc, nt) * len +
        BigInt(400) * ac * nt
      (num * 10000 / (BigInt(2000) * len * nt)).toLong / 10000.0
    }
    val unit = "the quick! brown fox99"
    val big = Seq.fill(100000)(unit).mkString(" ")   // 2.3M chars, 400k toks
    assert(big.length > 2000000)
    val docs = Seq((1L, big), (2L, unit), (3L, "")).toDF("id", "t")
    val got = docs.select($"id", graft.text.qualityScore($"t").as("q"))
      .as[(Long, Double)].collect().toMap
    assert(got(1L) == expected(big), s"big doc: got ${got(1L)}")
    assert(got(1L) > 0.0 && got(1L) <= 1.0)
    assert(got(2L) == expected(unit))
    assert(got(3L) == 0.3)
  }

  test("every query and aux dump exposes only atomic top-level columns") {
    // the driver's diff harness sorts result frames with pandas
    // sort_values, which throws "unhashable type" on array/struct/map
    // cells — an array-typed output column ERRs the graded artifact even
    // when Spark's answer is right (it took out mm_features and
    // aux_minhash_sigs in round 6). Keep nested data INSIDE queries;
    // scalarize at the output boundary (f0..f7 / m0..m31 style).
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = (SparkEntry.queries ++ SparkEntry.auxDumps).toSeq
      .flatMap { case (name, q) =>
        q(spark, dir).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
      }
    assert(offenders.isEmpty,
      s"non-atomic output columns (driver harness cannot sort them): " +
        offenders.mkString(", "))
  }

  test("streaming: tumbling counts over a bounded stream match the batch plan") {
    implicit val s: SparkSession = spark
    // stream the events parquet as a file source
    val src = graft.streaming.Streaming.readEvents(spark, eventsStreamDir)
    val out = graft.streaming.Streaming.runToMemory(
      graft.streaming.Streaming.tumblingCounts(src), "t_tumb")
    val batch = graft.core.Tables.events(spark, dir)
      .groupBy(window($"ts", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"))
    // append-mode watermarked aggs only emit windows the watermark passed;
    // with a bounded input the final watermark leaves the tail pending, so
    // the emitted set must be a subset with identical counts, and non-empty
    val got = out.select($"ws", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toMap2
    val want = batch.select($"window.start", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toMap2
    assert(got.nonEmpty)
    got.foreach { case (k, n) => assert(want(k) == n, s"window $k") }
  }

  test("streaming late data: real watermark drops match the lateDataAudit replay") {
    implicit val s: SparkSession = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // base aligned to the 5-minute window grid so ws values are exact
    val base = 1000000200L
    def t(min: Int) = new java.sql.Timestamp((base + min * 60L) * 1000L)
    val ms = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val agg = ms.toDF().toDF("event_id", "ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp($"w.start").as("ws"), $"n")
    val q = agg.writeStream.format("memory").queryName("st_late_t")
      .outputMode("append").start()
    // batch 0: three on-time events in window [base, base+300)
    ms.addData((1L, t(0), 1.0), (2L, t(2), 1.0), (3L, t(4), 1.0))
    q.processAllAvailable()
    // batch 1: jump to +30 min — watermark advances to base+1200,
    // closing (and emitting) the first window
    ms.addData((4L, t(30), 1.0))
    q.processAllAvailable()
    // batch 2: a DELIBERATELY LATE event for the closed window (streaming
    // must drop it) plus an on-time one
    ms.addData((5L, t(3), 1.0), (6L, t(31), 1.0))
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("st_late_t").as[(Long, Long)].collect().toMap
    assert(emitted == Map(base -> 3L),
      s"expected the first window emitted WITHOUT the late row: $emitted")
    // the batch replay with the SAME micro-batch assignment must agree on
    // every emitted window and expose the drop streaming never shows
    val rows = Seq((0L, t(0), 1.0), (0L, t(2), 1.0), (0L, t(4), 1.0),
      (1L, t(30), 1.0), (2L, t(3), 1.0), (2L, t(31), 1.0))
      .toDF("b", "ts", "value")
    val audit = graft.streaming.Streaming
      .lateDataAudit(rows, $"b", $"ts", $"value")
      .select($"ws", $"n_kept", $"n_late")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(audit(base) == ((3L, 1L)), s"audit: $audit")       // drop visible
    assert(audit(base + 1800) == ((2L, 0L)), s"audit: $audit") // pending window intact
    emitted.foreach { case (ws, n) =>
      assert(audit(ws)._1 == n, s"kept-count parity at window $ws")
    }
  }

  test("streaming interval join: real run matches the intervalJoinAudit replay") {
    implicit val s: SparkSession = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1000000200L
    def t(min: Int) = new java.sql.Timestamp((base + min * 60L) * 1000L)
    val ms = MemoryStream[(Long, String, java.sql.Timestamp, Double)]
    val joined = graft.streaming.Streaming.purchaseAttribution(
      ms.toDF().toDF("user_id", "event_type", "ts", "value"))
      .select($"p_user", unix_timestamp($"p_ts").as("psec"),
        unix_timestamp($"c_ts").as("csec"))
    val q = joined.writeStream.format("memory").queryName("st_ijoin_t")
      .outputMode("append").start()
    def batch(rows: (Long, String, java.sql.Timestamp, Double)*): Unit = {
      ms.addData(rows: _*); q.processAllAvailable()
    }
    // b0: same-batch match (P1 u1 x C1); watermark still -inf
    batch((1L, "click", t(0), 0.0), (2L, "click", t(2), 0.0),
      (1L, "purchase", t(5), 9.0))
    // b1: far click; the MIN-of-sides watermark is held back by the
    // purchase side (pmax t(5)), so nothing below drops yet
    batch((9L, "click", t(30), 0.0))
    // b2 (W = min(t(30), t(5)) - 10min = t(-5)): everything on time —
    // P2 x C2, P1 x C6 (click joins STORED purchase), P3 x C5 (purchase
    // joins STORED click) all emit
    batch((2L, "purchase", t(8), 9.0), (9L, "purchase", t(35), 9.0),
      (1L, "click", t(3), 0.0))
    // b3 (W = min(t(30), t(35)) - 10min = t(20)): C7 t(27) on time,
    // joins P3 from state
    batch((9L, "click", t(27), 0.0))
    // b4: same-batch far pair advances BOTH sides
    batch((5L, "click", t(100), 0.0), (5L, "purchase", t(101), 9.0))
    // b5 (W = min(t(100), t(101)) - 10min = t(90)): P6 u1 t(6) is LATE
    // input — both its ideal clicks are lost
    batch((1L, "purchase", t(6), 9.0))
    // b6 (W = t(90)): C9 u9 t(31) is LATE — its ideal match P3 is lost
    batch((9L, "click", t(31), 0.0))
    q.stop()
    val emitted = spark.table("st_ijoin_t").as[(Long, Long, Long)]
      .collect().toSet
    val expect = Set(
      (1L, base + 300L, base + 0L),      // P1 x C1 same batch
      (1L, base + 300L, base + 180L),    // P1 x C6 purchase-in-state
      (2L, base + 480L, base + 120L),    // P2 x C2 click-in-state
      (9L, base + 2100L, base + 1800L),  // P3 x C5 click-in-state
      (9L, base + 2100L, base + 1620L),  // P3 x C7 purchase-in-state
      (5L, base + 6060L, base + 6000L))  // P5 x C8 same batch
    assert(emitted == expect, s"stream emitted $emitted")
    // the replay with the SAME batch assignment must reproduce every
    // emitted count AND expose the late-input misses streaming hides
    val rows = Seq(
      (0L, 1L, "click", 10L, t(0)), (0L, 2L, "click", 11L, t(2)),
      (0L, 1L, "purchase", 100L, t(5)),
      (1L, 9L, "click", 12L, t(30)),
      (2L, 2L, "purchase", 101L, t(8)), (2L, 9L, "purchase", 102L, t(35)),
      (2L, 1L, "click", 13L, t(3)),
      (3L, 9L, "click", 14L, t(27)),
      (4L, 5L, "click", 15L, t(100)), (4L, 5L, "purchase", 103L, t(101)),
      (5L, 1L, "purchase", 104L, t(6)),
      (6L, 9L, "click", 16L, t(31)))
      .toDF("b", "user_id", "event_type", "event_id", "ts")
    val audit = graft.streaming.Streaming
      .intervalJoinAudit(rows, $"b")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(audit(100L) == ((2L, 2L, 0L)), s"P1: $audit")
    assert(audit(101L) == ((1L, 1L, 0L)), s"P2: $audit")
    assert(audit(102L) == ((3L, 2L, 1L)), s"P3: $audit") // C9 late
    assert(audit(103L) == ((1L, 1L, 0L)), s"P5: $audit")
    assert(audit(104L) == ((2L, 0L, 2L)), s"P6: $audit") // P6 itself late
    // parity: per purchase, the replay's n_stream equals the real run
    val streamCounts = emitted.toSeq.groupBy(_._1)
      .map { case (k, v) => k -> v.size.toLong }
    val replayCounts = audit.collect {
      case (eid, (_, ns, _)) if ns > 0 =>
        eid match { case 100L => 1L -> ns; case 101L => 2L -> ns
          case 102L => 9L -> ns; case 103L => 5L -> ns }
    }
    assert(replayCounts.toMap == streamCounts,
      s"replay $replayCounts vs stream $streamCounts")
  }

  test("streaming OUTER interval join: real run matches intervalJoinOuterAudit incl. null rows") {
    // the inner-parity scenario plus the two purchases that exercise the
    // eviction-emission contract: u7 t(40) unmatched and EVICTED by the
    // final watermark t(90) -> its null row must appear in the real run
    // and as outer_null=1 in the replay; u8 t(99) unmatched but NEVER
    // evicted (99 > 90 never holds... 99 < 90 is false) -> no null row
    // ever (the recent-purchase blind spot)
    implicit val s: SparkSession = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1000000200L
    def t(min: Int) = new java.sql.Timestamp((base + min * 60L) * 1000L)
    val ms = MemoryStream[(Long, String, java.sql.Timestamp, Double)]
    val joined = graft.streaming.Streaming.purchaseAttributionOuter(
      ms.toDF().toDF("user_id", "event_type", "ts", "value"))
      .select($"p_user", unix_timestamp($"p_ts").as("psec"),
        unix_timestamp($"c_ts").as("csec"))
    val q = joined.writeStream.format("memory").queryName("st_oij_t")
      .outputMode("append").start()
    def batch(rows: (Long, String, java.sql.Timestamp, Double)*): Unit = {
      ms.addData(rows: _*); q.processAllAvailable()
    }
    batch((1L, "click", t(0), 0.0), (2L, "click", t(2), 0.0),
      (1L, "purchase", t(5), 9.0))
    batch((9L, "click", t(30), 0.0))
    batch((2L, "purchase", t(8), 9.0), (9L, "purchase", t(35), 9.0),
      (1L, "click", t(3), 0.0), (7L, "purchase", t(40), 9.0))
    batch((9L, "click", t(27), 0.0))
    batch((5L, "click", t(100), 0.0), (5L, "purchase", t(101), 9.0),
      (8L, "purchase", t(99), 9.0))
    batch((1L, "purchase", t(6), 9.0))
    batch((9L, "click", t(31), 0.0))
    q.stop()
    val emitted = spark.table("st_oij_t").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    val matches = Set[(Long, Long, Option[Long])](
      (1L, base + 300L, Some(base + 0L)),
      (1L, base + 300L, Some(base + 180L)),
      (2L, base + 480L, Some(base + 120L)),
      (9L, base + 2100L, Some(base + 1800L)),
      (9L, base + 2100L, Some(base + 1620L)),
      (5L, base + 6060L, Some(base + 6000L)))
    // exactly ONE null row: u7 (evicted, unmatched); u8 stays in state
    assert(emitted == matches + ((7L, base + 2400L, None)),
      s"stream emitted $emitted")
    val rows = Seq(
      (0L, 1L, "click", 10L, t(0)), (0L, 2L, "click", 11L, t(2)),
      (0L, 1L, "purchase", 100L, t(5)),
      (1L, 9L, "click", 12L, t(30)),
      (2L, 2L, "purchase", 101L, t(8)), (2L, 9L, "purchase", 102L, t(35)),
      (2L, 1L, "click", 13L, t(3)), (2L, 7L, "purchase", 105L, t(40)),
      (3L, 9L, "click", 14L, t(27)),
      (4L, 5L, "click", 15L, t(100)), (4L, 5L, "purchase", 103L, t(101)),
      (4L, 8L, "purchase", 106L, t(99)),
      (5L, 1L, "purchase", 104L, t(6)),
      (6L, 9L, "click", 16L, t(31)))
      .toDF("b", "user_id", "event_type", "event_id", "ts")
    val audit = graft.streaming.Streaming
      .intervalJoinOuterAudit(rows, $"b")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(audit(100L) == ((2L, 2L, 0L, 0L)), s"P1: $audit")
    assert(audit(101L) == ((1L, 1L, 0L, 0L)), s"P2: $audit")
    assert(audit(102L) == ((3L, 2L, 1L, 0L)), s"P3 (C9 late): $audit")
    assert(audit(103L) == ((1L, 1L, 0L, 0L)), s"P5: $audit")
    // P6 arrived LATE: no matches AND no null row (dropped before state)
    assert(audit(104L) == ((2L, 0L, 2L, 0L)), s"P6 late purchase: $audit")
    // u7: unmatched, evicted by W_final = t(90) -> the null row
    assert(audit(105L) == ((0L, 0L, 0L, 1L)), s"P7 evicted-null: $audit")
    // u8: unmatched but 99 !< 90 -> never evicted, no null row
    assert(audit(106L) == ((0L, 0L, 0L, 0L)), s"P8 in-state: $audit")
    // parity: the replay's outer_null set IS the real run's null-row set
    val streamNullUsers = emitted.collect { case (u, _, None) => u }
    val replayNullUsers = audit.collect {
      case (105L, (_, _, _, 1L)) => 7L
      case (106L, (_, _, _, 1L)) => 8L
    }.toSet
    assert(replayNullUsers == streamNullUsers,
      s"replay nulls $replayNullUsers vs stream $streamNullUsers")
  }

  test("valueAlerts: real stateful run matches the thresholdAlertsReplay batch face") {
    implicit val s: SparkSession = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1000000200L
    def t(min: Int) = new java.sql.Timestamp((base + min * 60L) * 1000L)
    // per-user in-order arrival (one event per user per batch): the
    // state machine's emissions then equal the canonical-order replay.
    // u1 crosses 100 at event 2 (120) and 200 at event 3 (210); u2
    // jumps two multiples in ONE event (250 -> single emission); u3
    // never crosses (40 + 50 = 90)
    val batches = Seq(
      Seq((1L, 60.0, t(0)), (2L, 250.0, t(0)), (3L, 40.0, t(0))),
      Seq((1L, 60.0, t(1)), (3L, 50.0, t(1))),
      Seq((1L, 90.0, t(2))))
    val ms = MemoryStream[(Long, Double, java.sql.Timestamp)]
    val alerts = graft.streaming.Streaming.valueAlerts(
      ms.toDF().toDF("user_id", "value", "ts"))
    val q = alerts.toDF("user_id", "n", "total").writeStream
      .format("memory").queryName("st_alerts_t").outputMode("append").start()
    batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("st_alerts_t")
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == Set((1L, 2L, 120.0), (1L, 3L, 210.0), (2L, 1L, 250.0)),
      s"streamed $streamed")
    // the batch face on the same rows (event_id = arrival rank) must
    // emit the identical crossing set, in exact centi units
    val rows = batches.zipWithIndex.flatMap { case (b, i) =>
      b.map { case (u, v, ts) => (u, i.toLong * 10 + u, ts, v) }
    }.toDF("user_id", "event_id", "ts", "value")
    val replay = graft.streaming.Streaming.thresholdAlertsReplay(rows)
      .as[(Long, Long, Long)].collect().toSet
    assert(replay == streamed.map { case (u, n, tot) =>
      (u, n, math.round(tot * 100)) }, s"replay $replay vs $streamed")
  }

  test("streaming EWMA converges to the batch closed form per user") {
    implicit val s: SparkSession = spark
    val src = graft.streaming.Streaming.readEvents(spark, eventsStreamDir)
    val out = graft.streaming.Streaming.runToMemory(
      graft.streaming.Streaming.streamingEwma(src).toDF(
        "user_id", "n_events", "ewma"), "t_ewma")
    // one emission per entity per micro-batch: keep the last (max n)
    val got = out.as[(Long, Long, Double)].collect().toSeq
      .groupBy(_._1).map { case (u, rows) => u -> rows.maxBy(_._2) }
    val batch = graft.operators.Timeseries
      .ewma(graft.core.Tables.events(spark, dir),
        "user_id", "ts", "event_id", "value")
      .select($"user_id", $"n_events", $"ewma_micro")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.nonEmpty && got.size == batch.size)
    got.foreach { case (u, (_, n, e)) =>
      val (_, bn, bMicro) = batch(u)
      assert(n == bn, s"user $u event count $n vs batch $bn")
      // recursion vs closed-form sum: same value up to double rounding
      assert(math.abs(e - bMicro / 1e6) < 1e-3,
        s"user $u streamed $e vs batch ${bMicro / 1e6}")
    }
  }

  test("streaming funnel advancement feed equals the batch funnel depths") {
    implicit val s: SparkSession = spark
    val stages = Seq("view", "click", "purchase")
    val w = Some(6L * 3600 * 1000000)
    val src = graft.streaming.Streaming.readEvents(spark, eventsStreamDir)
    val out = graft.streaming.Streaming.runToMemory(
      graft.streaming.Streaming.streamingFunnel(src, stages, w).toDF(
        "user_id", "depth", "ts_us"), "t_funnel")
    // one emission per advancement: per user the depths must be exactly
    // 1..maxDepth with strictly increasing matched micros
    val byUser = out.as[(Long, Int, Long)].collect().toSeq
      .groupBy(_._1).map { case (u, rows) =>
        val sorted = rows.sortBy(_._2)
        assert(sorted.map(_._2) == (1 to sorted.size),
          s"user $u advancement depths not 1..n: $sorted")
        assert(sorted.map(_._3) == sorted.map(_._3).sorted,
          s"user $u matched micros not monotonic")
        u -> sorted.size
      }
    val batch = graft.operators.Funnel.funnelDepthWindowed(
        graft.core.Tables.events(spark, dir), "user_id", "ts", "event_id",
        "event_type", stages, w.get)
      .as[(Long, Int)].collect().toMap
    assert(batch.nonEmpty && byUser.nonEmpty)
    batch.foreach { case (u, d) =>
      assert(byUser.getOrElse(u, 0) == d,
        s"user $u: streaming reached ${byUser.getOrElse(u, 0)}, batch $d")
    }
  }

  test("streaming as-of enrichment equals the batch broadcast asof join") {
    implicit val s: SparkSession = spark
    val ev = graft.core.Tables.events(spark, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"ts").agg(max($"value").as("pval"))
    // stream face: the codegen'd lookup runs inside readStream with no
    // shuffle and no state
    val src = graft.streaming.Streaming.readEvents(spark, eventsStreamDir)
    val streamed = graft.streaming.Streaming.runToMemory(
      graft.streaming.Streaming.streamingAsofEnrich(
        src.select($"event_id", $"user_id", $"ts"),
        purchases, "user_id", "ts", "pval"), "t_asof_enrich")
      .select($"event_id", $"asof_pval")
      .as[(Long, Option[Double])].collect().toMap
    // batch reference: the broadcast asof join, the batch face of the same kernel
    val batch = graft.operators.AsofJoin.asofJoinBroadcast(
        ev.select($"event_id", $"user_id", $"ts"),
        purchases, "user_id", "ts", Seq("pval"))
      .select($"event_id", $"asof_pval")
      .as[(Long, Option[Double])].collect().toMap
    assert(streamed.size == batch.size)
    val diffs = batch.collect {
      case (k, v) if streamed.get(k) != Some(v) => (k, v, streamed.get(k))
    }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(5)}")
    assert(batch.values.exists(_.isDefined) && batch.values.exists(_.isEmpty),
      "fixture should produce both matched and unmatched rows")
  }

  test("streaming near-dup filter: exact dups tagged, uniques kept, state caps") {
    implicit val s: SparkSession = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft_nd_stream").toString
    try {
      // 1 and 2 are byte-identical (simhash dist 0, same block); 3 unique
      Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy dog"),
        (3L, "completely different content about spark plans"))
        .toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val src = spark.readStream
        .schema("doc_id BIGINT, text STRING").parquet(tmp)
      val out = graft.streaming.Streaming.runToMemory(
        graft.streaming.Streaming.streamingNearDupFilter(src, "doc_id", "text")
          .toDF("id", "dup_of", "dist"), "t_neardup")
        .as[(Long, Long, Int)].collect().map(r => r._1 -> r).toMap
      assert(out.size == 3)
      assert(out(3L) == ((3L, -1L, -1)))
      // within-batch group order is engine-chosen: exactly one of {1,2} is
      // the keeper, the other a dist-0 dup pointing at it
      val (k, d) = if (out(1L)._2 == -1L) (out(1L), out(2L)) else (out(2L), out(1L))
      assert(k._2 == -1L && k._3 == -1)
      assert(d._2 == k._1 && d._3 == 0)
      // batch face: maxBucket=1 admits only the first keeper to state; a
      // third identical doc still dedupes against it, and a fourth unique
      // doc in the same block is emitted as keeper despite the full bucket
      val same = Seq((10L, "aa bb cc"), (11L, "aa bb cc"), (12L, "aa bb cc"))
        .toDF("doc_id", "text")
      val got = graft.streaming.Streaming
        .streamingNearDupFilter(same, "doc_id", "text", maxBucket = 1)
        .collect()
      assert(got.count(_._2 == -1L) == 1)
      assert(got.count(r => r._2 != -1L && r._3 == 0) == 2)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("near-dup canonical face == real streaming run fed in id order") {
    // the st_neardup grading premise (r11 verdict Next #5): under the
    // DEFINED arrival order — ascending id, one doc per micro-batch —
    // the live flatMapGroupsWithState run must emit row-for-row what
    // nearDupFilterCanonical computes in batch. Docs engineered so
    // blocks hold real near-dup chains (shared prefixes => simhash
    // proximity) and at least one min-distance tie exercises the
    // latest-keeper tie-break.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the fixture's near-dup cluster lives at the TAIL doc_ids (the
    // generator appends mutated copies) — take the last 60
    val docs = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1).takeRight(60)
    val canon = graft.streaming.Streaming.nearDupFilterCanonical(
        docs.toSeq.toDF("doc_id", "text"), "doc_id", "text")
      .collect().sortBy(_._1).toSeq
    val ms = MemoryStream[(Long, String)]
    val q = graft.streaming.Streaming.streamingNearDupFilter(
        ms.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .toDF("id", "dup_of", "dist")
      .writeStream.format("memory").queryName("t_nd_canon")
      .outputMode("append").start()
    docs.foreach { d => ms.addData(d); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("t_nd_canon").as[(Long, Long, Int)]
      .collect().sortBy(_._1).toSeq
    assert(streamed == canon,
      s"canonical face diverged from the id-ordered stream:\n" +
        s"stream=${streamed.take(8)}\ncanon =${canon.take(8)}")
    assert(canon.exists(_._2 >= 0L), "fixture produced no dup rows — vacuous")
  }

  test("streaming incremental LSH ingest (foreachBatch) = batch corpus pairs") {
    // the production ingest loop: each micro-batch signs its docs, probes
    // the accumulated signature store through the incremental band index
    // (seen-seen pairs never form), then joins the store. After the
    // stream drains, the union of per-batch pair outputs must equal the
    // one-shot batch pipeline over the whole corpus — same differential
    // the batch face pins, here across real micro-batch boundaries.
    implicit val s: SparkSession = spark
    import graft.dedup._
    val docs = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", $"text").localCheckpoint()
    val full = minhashLshPairs(docs, "doc_id", "text")
      .select($"id1", $"id2", $"est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(full.nonEmpty)
    val in = java.nio.file.Files.createTempDirectory("graft_ing_in").toString
    try {
      // three arrival waves as separate files; maxFilesPerTrigger=1
      // makes each its own micro-batch (arrival order is engine-chosen —
      // the differential is order-invariant)
      docs.filter($"doc_id" % 3 === 0).coalesce(1).write.parquet(s"$in/b0")
      docs.filter($"doc_id" % 3 === 1).coalesce(1).write.parquet(s"$in/b1")
      docs.filter($"doc_id" % 3 === 2).coalesce(1).write.parquet(s"$in/b2")
      val pairs = scala.collection.mutable.Set[(Long, Long, Double)]()
      var seen = minhashSignatures(docs.limit(0), "doc_id", "text")
        .localCheckpoint()
      var batches = 0
      val q = spark.readStream
        .schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$in/*")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          // materialize: the batch frame is only valid inside this call,
          // and the store must not re-drag stream lineage
          val newSigs = minhashSignatures(batch, "doc_id", "text")
            .localCheckpoint()
          pairs ++= minhashLshPairsIncremental(newSigs, seen)
            .as[(Long, Long, Double)](
              org.apache.spark.sql.Encoders.tuple(
                org.apache.spark.sql.Encoders.scalaLong,
                org.apache.spark.sql.Encoders.scalaLong,
                org.apache.spark.sql.Encoders.scalaDouble))
            .collect()
          seen = seen.unionByName(newSigs).localCheckpoint()
          batches += 1
        }
        .start()
      q.processAllAvailable(); q.stop()
      assert(batches >= 3, s"expected one micro-batch per file, got $batches")
      assert(pairs.toSet == full,
        s"streamed ${pairs.size} vs batch ${full.size}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(in))
    }
  }

  test("streaming contamination flag: no false negatives, stream = batch") {
    implicit val s: SparkSession = spark
    val docs = graft.core.Tables.documents(spark, dir)
    val train = docs.filter($"doc_id" % 2 === 0)
    val eval = docs.filter($"doc_id" % 2 === 1)
    val flagged = graft.streaming.Streaming
      .streamingContaminationFlag(train, eval, "doc_id", "text", minShared = 2)
    val flaggedIds = flagged.filter($"flagged")
      .select($"doc_id").as[Long].collect().toSet
    // exact shared-shingle counts: every doc truly sharing >= 2 shingles
    // with the eval corpus MUST be flagged (bloom has no false negatives)
    val evalG = eval
      .select(explode(graft.dedup.wordShingles($"text", 2)).as("gs")).distinct()
    val exact = train
      .select($"doc_id", explode(graft.dedup.wordShingles($"text", 2)).as("gs"))
      .join(evalG, "gs").groupBy($"doc_id").count()
      .filter($"count" >= 2).select($"doc_id").as[Long].collect().toSet
    assert(exact.subsetOf(flaggedIds), s"missed: ${exact -- flaggedIds}")
    // false positives bounded: flagged-but-clean stays a small fraction
    val fp = flaggedIds -- exact
    assert(fp.size <= math.max(3, train.count() / 20), s"fp=${fp.size}")
    // the same map-side plan runs unchanged on a stream and agrees row-wise
    val tmp = java.nio.file.Files.createTempDirectory("graft_contam_stream").toString
    try {
      train.select($"doc_id", $"text").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val src = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(tmp)
      val out = graft.streaming.Streaming.runToMemory(
        graft.streaming.Streaming.streamingContaminationFlag(
          src, eval, "doc_id", "text", minShared = 2), "t_contam_flag")
        .as[(Long, Int, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      val batch = flagged.as[(Long, Int, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(out == batch)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("streaming: stateful agg runs on the RocksDB state store") {
    implicit val s: SparkSession = spark
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    graft.streaming.Streaming.withRocksDBState(spark)
    try {
      val src = graft.streaming.Streaming.readEvents(spark, eventsStreamDir)
      val out = graft.streaming.Streaming.runToMemory(
        graft.streaming.Streaming.tumblingCounts(src), "t_rocks")
      assert(out.count() > 0)
    } finally {
      prev.fold(spark.conf.unset(key))(p => spark.conf.set(key, p))
    }
  }

  test("z-ordered write bounds per-file spread in BOTH dims; compaction hits target") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    try {
      // 64x64 grid: every (x, y) combination — uniform 2D data
      val grid = spark.range(4096)
        .select(($"id" % 64).as("x"), ($"id" / 64).cast("long").as("y"))
      graft.io.GraftIO.writeZOrdered(grid, s"$tmp/z", Seq("x", "y"), 16)
      graft.io.GraftIO.toParquet(
        grid.repartitionByRange(16, $"x").sortWithinPartitions($"x"), s"$tmp/linear")
      def spreads(path: String): Seq[(Long, Long)] =
        new java.io.File(path).listFiles.filter(_.getName.endsWith(".parquet"))
          .toSeq.map { f =>
            val r = spark.read.parquet(f.getAbsolutePath)
              .agg(max($"x") - min($"x"), max($"y") - min($"y")).head()
            (r.getLong(0), r.getLong(1))
          }
      // z-order: every file covers a bounded square in both dims
      val zs = spreads(s"$tmp/z")
      assert(zs.size > 8)
      assert(zs.forall { case (sx, sy) => sx <= 32 && sy <= 32 },
        s"z-order spreads: $zs")
      // linear sort on x: y remains full-range in (nearly) every file —
      // the contrast that makes z-order worth its extra sort
      val ls = spreads(s"$tmp/linear")
      assert(ls.count(_._2 >= 48) >= ls.size - 2, s"linear spreads: $ls")
      // compaction: rewrite the z output (16+ small files) as one file
      val n = graft.io.GraftIO.compactParquet(spark, s"$tmp/z", s"$tmp/compact",
        targetFileBytes = 1L << 30)
      assert(n == 1)
      val nf = new java.io.File(s"$tmp/compact").listFiles
        .count(_.getName.endsWith(".parquet"))
      assert(nf == 1)
      assert(spark.read.parquet(s"$tmp/compact").count() == 4096)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("bucketed tables: join + aggregate on the bucket key, zero exchanges") {
    val t1 = "graft_bkt_orders"
    val t2 = "graft_bkt_lines"
    try {
      val nb = spark.sessionState.conf.numShufflePartitions
      graft.io.GraftIO.writeBucketed(
        graft.core.Tables.orders(spark, dir).select($"o_orderkey", $"o_totalprice"),
        t1, Seq("o_orderkey"), nb)
      graft.io.GraftIO.writeBucketed(
        graft.core.Tables.lineitem(spark, dir)
          .select($"l_orderkey", $"l_quantity"),
        t2, Seq("l_orderkey"), nb)
      val q = spark.table(t2).groupBy($"l_orderkey")
        .agg(sum($"l_quantity").as("qty"))
        .join(spark.table(t1), $"l_orderkey" === $"o_orderkey")
        .agg(count(lit(1)).as("n"), round(sum($"qty"), 2).as("q"))
      val want = graft.core.Tables.lineitem(spark, dir)
        .groupBy($"l_orderkey").agg(sum($"l_quantity").as("qty"))
        .join(graft.core.Tables.orders(spark, dir),
          $"l_orderkey" === $"o_orderkey")
        .agg(count(lit(1)), round(sum($"qty"), 2)).as[(Long, Double)].head()
      assert(q.as[(Long, Double)].head() == want)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed layout did not elide the shuffles:\n${plan.take(2000)}")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t1")
      spark.sql(s"DROP TABLE IF EXISTS $t2")
    }
  }

  test("lshBandKeys expression equals the interpreted HOF spelling") {
    val sig = graft.dedup.minHashSignature(
      graft.dedup.wordShingles($"text", 2), 32)
    val hof = array((0 until 8).map { b =>
      struct(lit(b).as("band"),
        aggregate(slice(sig, b * 4 + 1, 4), lit(0L),
          (acc, h) => (acc * 131 + h) % 1000000007L).as("key"))
    }: _*)
    val diff = graft.core.Tables.documents(spark, dir)
      .select(graft.dedup.lshBandKeys(sig, 8, 4).as("fast"), hof.as("slow"))
      .filter(!($"fast" <=> $"slow")).count()
    assert(diff == 0)
    // a malformed (too-short) signature folds the available prefix like the
    // HOF slice form did — no executor-side ArrayIndexOutOfBoundsException
    val short = Seq(Seq(7L, 11L, 13L)).toDF("sig")
    val shortHof = array((0 until 8).map { b =>
      struct(lit(b).as("band"),
        aggregate(slice($"sig", b * 4 + 1, 4), lit(0L),
          (acc, h) => (acc * 131 + h) % 1000000007L).as("key"))
    }: _*)
    val sdiff = short
      .select(graft.dedup.lshBandKeys($"sig", 8, 4).as("fast"), shortHof.as("slow"))
      .filter(!($"fast" <=> $"slow")).count()
    assert(sdiff == 0)
  }

  test("rollingHash expression equals the interpreted HOF spelling") {
    val hof = aggregate(split($"text", ""), lit(0L),
      (acc, ch) => (acc * 131 + ascii(ch)) % 1000000007L)
    val diff = graft.core.Tables.documents(spark, dir)
      .select(graft.text.rollingHash($"text").as("fast"), hof.as("slow"))
      .filter($"fast" =!= $"slow").count()
    assert(diff == 0)
  }

  test("repetitionMetrics: hand-computed fractions, nulls for tiny docs") {
    val docs = Seq(
      (1L, "a b a b c"),  // top bigram "a b" 2/4; trigrams all distinct
      (2L, "x x x x"),    // one bigram 3/3; trigram "x x x" twice -> 0.5
      (3L, "one")         // no bigrams/trigrams -> nulls
    ).toDF("doc_id", "text")
    val got = graft.text.repetitionMetrics(docs, "doc_id", "text")
      .as[(Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((Some(0.5), Some(0.0))))
    assert(got(2L) == ((Some(1.0), Some(0.5))))
    assert(got(3L) == ((None, None)))
  }

  test("redactPii/piiCounts: each class fires once, no double-redaction") {
    val rows = Seq(
      (1L, "mail bob.smith+x@sub.example.co.uk now"),
      (2L, "host 192.168.001.7 and phone +555 123 4567"),
      (3L, "call 555-123-4567 then ssn 078-05-1120"),
      (4L, "nothing here at all"),
      (5L, "a@b.io c@d.ai")).toDF("id", "t")
    val got = rows
      .select($"id", graft.text.redactPii($"t").as("red"),
        graft.text.piiCounts($"t").as("c"))
      .select($"id", $"red", $"c.email", $"c.ipv4", $"c.phone", $"c.ssn")
      .as[(Long, String, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._2 == "mail <EMAIL> now")
    assert((got(1L)._3, got(1L)._4, got(1L)._5, got(1L)._6) == ((1, 0, 0, 0)))
    assert(got(2L)._2 == "host <IP> and phone <PHONE>")
    assert(got(3L)._2 == "call <PHONE> then ssn <SSN>")
    // phone redacts BEFORE ssn: "555-123-4567" must not half-match as ssn
    assert((got(3L)._5, got(3L)._6) == ((1, 1)))
    assert(got(4L)._2 == "nothing here at all")
    assert(got(5L)._2 == "<EMAIL> <EMAIL>")
    assert(got(5L)._3 == 2)
  }

  test("hashSplit/mixtureKeep: deterministic, repartition-stable, monotone") {
    val docs = graft.core.Tables.documents(spark, dir).select($"doc_id", $"lang", $"text")
    val split = docs.select($"doc_id", graft.text.hashSplit($"text").as("s"))
    // stable under a different partitioning — the reproducibility contract
    val again = docs.repartition(7).select($"doc_id", graft.text.hashSplit($"text").as("s"))
    assert(split.as[(Long, String)].collect().toMap ==
      again.as[(Long, String)].collect().toMap)
    // fractions land near 80/10/10 (hash uniformity, 500 docs)
    val frac = split.groupBy($"s").count().as[(String, Long)].collect().toMap
    val n = frac.values.sum.toDouble
    assert(math.abs(frac("train") / n - 0.8) < 0.08, frac.toString)
    assert(math.abs(frac("valid") / n - 0.1) < 0.06, frac.toString)
    assert(math.abs(frac("test") / n - 0.1) < 0.06, frac.toString)
    // mixture: kept set is monotone in the weight, fraction tracks it
    def kept(w: Double) = docs
      .filter(graft.text.mixtureKeep($"text", $"lang", Map("en" -> w)))
      .filter($"lang" === "en").select($"doc_id").as[Long].collect().toSet
    val (k25, k50, k100) = (kept(0.25), kept(0.5), kept(1.0))
    assert(k25.subsetOf(k50) && k50.subsetOf(k100))
    val en = docs.filter($"lang" === "en").count().toDouble
    assert(k100.size == en.toLong)
    assert(math.abs(k50.size / en - 0.5) < 0.15, s"${k50.size} of $en")
    // upsampling face: weight 2.5 gives every doc 2 or 3 copies, mean ~2.5,
    // and integer weights are exact for every doc
    val copies = docs.filter($"lang" === "en")
      .select(graft.text.mixtureRepeat($"text", $"lang", Map("en" -> 2.5)).as("c"))
      .as[Int].collect()
    assert(copies.forall(c => c == 2 || c == 3))
    assert(math.abs(copies.map(_.toDouble).sum / copies.length - 2.5) < 0.2)
    val exact = docs.select(
      graft.text.mixtureRepeat($"text", $"lang", Map.empty, default = 3.0).as("c"))
      .as[Int].collect()
    assert(exact.forall(_ == 3))
  }

  test("skewReport/joinCardinality: exact diagnostics, prediction matches the real join") {
    import graft.inspect.Inspect
    // skew: a=6, b=2, c=2, d=2 -> median 2 (x2=4), total 12
    val sk = Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq.fill(2)("c") ++
      Seq.fill(2)("d")
    val rep = Inspect.skewReport(sk.toDF("key2").select($"key2".as("key")),
        "key", k = 2)
      .select($"rank", $"key", $"cnt", $"share_ppm",
        $"ratio_to_median_x100", $"n_keys")
      .as[(Int, String, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(rep == Seq((1, "a", 6L, 500000L, 300L, 4L),
      (2, "b", 2L, 166666L, 100L, 4L)), rep.toString)
    // join cardinality: key 1 fans out 2x3; 2,3 left-only; 4 right-only
    val a = Seq((1L, "x"), (1L, "y"), (2L, "z"), (3L, "w")).toDF("k", "va")
    val b = Seq((1L, "p"), (1L, "q"), (1L, "r"), (4L, "s")).toDF("k", "vb")
    val jc = Inspect.joinCardinality(a, b, "k", "k").collect()(0)
    assert(jc.getLong(0) == 6 && jc.getLong(1) == 1, jc.toString)
    assert(jc.getLong(2) == 2 && jc.getLong(3) == 1, jc.toString)
    assert(jc.getLong(4) == 6 && jc.getString(5) == "1", jc.toString)
    // the whole point: the prediction equals the join it never ran
    assert(a.join(b, "k").count() == jc.getLong(0))
  }

  test("globalRankBy/quantileNormalize/featureHash: exact ranks, ppm bounds, hash lanes") {
    // globalRankBy: arbitrary string key, exact 1..N, repartition-stable
    val df = Seq((3L, "bb"), (1L, "aa"), (2L, "aa"), (4L, "cc"))
      .toDF("id", "k")
    def ranks(d: org.apache.spark.sql.DataFrame) =
      graft.core.Partitions.globalRankBy(d, $"k", "id")
        .select($"id", $"rn").as[(Long, Long)].collect().toMap
    val r = ranks(df)
    assert(r == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L), r.toString)
    assert(ranks(df.repartition(5)) == r)
    // quantileNormalize: ties split by id; endpoints exactly 0 and 1e6
    val q = graft.text.quantileNormalize(
        Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 30L)).toDF("id", "v"),
        "v", "id")
      .select($"id", $"pct_ppm").as[(Long, Long)].collect().toMap
    assert(q == Map(1L -> 0L, 2L -> 333333L, 3L -> 666666L, 4L -> 1000000L),
      q.toString)
    assert(graft.text.quantileNormalize(Seq((1L, 5L)).toDF("id", "v"),
      "v", "id").select($"pct_ppm").as[Long].head() == 0L)
    // featureHash: lanes sum to the token count; buckets match the
    // reference hash; deterministic across partitionings
    val texts = Seq((1L, "the quick brown fox"), (2L, "a a b"))
    val lanes = texts.toDF("id", "text")
      .select($"id", graft.text.featureHash($"text", 8).as("f"))
      .as[(Long, Seq[Long])].collect().toMap
    for ((id, t) <- texts) {
      val toks = t.trim.toLowerCase.split("\\s+").toSeq
      val want = toks.groupBy(w =>
        graft.functions.HashExprs.polyHash(w) % 8).view.mapValues(_.size.toLong)
      assert(lanes(id).sum == toks.size)
      assert(lanes(id).zipWithIndex.forall { case (c, j) =>
        c == want.getOrElse(j.toLong, 0L) }, s"doc $id: ${lanes(id)}")
    }
  }

  test("weightedSampleK: brute-force differential, weight monotone, TakeOrdered plan") {
    val docs = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", $"text", $"n_chars")
    val sampled = graft.text.weightedSampleK(
      docs, $"text", "doc_id", $"n_chars", k = 40)
    val got = sampled.select($"doc_id").as[Long].collect().toSet
    assert(got.size == 40)
    // brute-force reference model: same hash-uniform, same priority
    val prios = docs.select($"doc_id", $"n_chars",
        graft.functions.HashExprs.polyHashFast($"text").as("h"))
      .as[(Long, Long, Long)].collect()
      .map { case (id, w, h) => id -> (h + 1).toDouble / 1000000007.0 / w }
    val want = prios.sortBy { case (id, p) => (p, id) }.take(40).map(_._1).toSet
    assert(got == want, s"diff: ${(got diff want) ++ (want diff got)}")
    // repartition-stable (the seedless-determinism contract)
    val again = graft.text.weightedSampleK(docs.repartition(7),
      $"text", "doc_id", $"n_chars", k = 40)
      .select($"doc_id").as[Long].collect().toSet
    assert(again == got)
    // inclusion is monotone in weight: boosting one excluded doc's weight
    // 1000x pulls it in without touching other priorities
    val outsider = prios.sortBy { case (id, p) => (p, id) }.last._1
    assert(!got.contains(outsider))
    val boosted = graft.text.weightedSampleK(
      docs.withColumn("n_chars",
        when($"doc_id" === outsider, $"n_chars" * 100000).otherwise($"n_chars")),
      $"text", "doc_id", $"n_chars", k = 40)
      .select($"doc_id").as[Long].collect().toSet
    assert(boosted.contains(outsider), "weight boost failed to pull the row in")
    // per-partition heaps + one k-row merge — no global sort, no exchange
    val plan = sampled.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrdered, got:\n${plan.take(1200)}")
  }

  test("partitionHistogram: counts per partition, sums to the row count") {
    val df = graft.core.Tables.orders(spark, dir).repartition(4)
    val h = graft.inspect.Inspect.partitionHistogram(df)
    assert(h.size == 4 && h.sum == df.count())
    // a skewed repartition shows up as outlier buckets — the diagnostic's job
    val skewed = graft.core.Tables.orders(spark, dir)
      .repartition(4, when($"o_orderkey" % 100 === 0, $"o_orderkey").otherwise(lit(0L)))
    val hs = graft.inspect.Inspect.partitionHistogram(skewed)
    assert(hs.max > hs.sum / 2, hs.toString)
  }

  test("chunkText: hand-computed windows, overlap, tiling, degenerate docs") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 toks
      (2L, "only"),                                   // 1 tok
      (3L, ""),                                       // empty -> [""] (1 tok)
      (4L, null.asInstanceOf[String]))                // null -> 1 empty chunk
      .toDF("doc_id", "text")
    val got = graft.text.chunkText(docs, "doc_id", "text", size = 4, stride = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // doc 1: starts 0,3,6,9 -> 4,4,4,1 tokens; windows overlap by 1
    assert(got(1L -> 0L) == ((4L, "w1 w2 w3 w4")))
    assert(got(1L -> 1L) == ((4L, "w4 w5 w6 w7")))
    assert(got(1L -> 2L) == ((4L, "w7 w8 w9 w10")))
    assert(got(1L -> 3L) == ((1L, "w10")))
    assert(got(2L -> 0L) == ((1L, "only")))
    // split("") yields [""] — same 1-token convention as qualityScore
    assert(got(3L -> 0L) == ((1L, "")))
    assert(got(4L -> 0L) == ((0L, "")))
    assert(got.size == 7)
    // stride == size tiles exactly: concatenation rebuilds the doc
    val tiled = graft.text.chunkText(docs.filter($"doc_id" === 1), "doc_id",
        "text", size = 3, stride = 3)
      .orderBy($"chunk_id").as[(Long, Long, Long, String)].collect()
    assert(tiled.map(_._3).sum == 10L)
    assert(tiled.map(_._4).mkString(" ") == (1 to 10).map(i => s"w$i").mkString(" "))
    // differential vs a brute model over random token counts
    val rnd = new scala.util.Random(11)
    val rdocs = (0 until 80).map { i =>
      (i.toLong, (0 until (1 + rnd.nextInt(90))).map(j => s"t${i}_$j").mkString(" "))
    }
    val rdf = rdocs.toDF("doc_id", "text").repartition(5)
    val rgot = graft.text.chunkText(rdf, "doc_id", "text", size = 16, stride = 7)
      .as[(Long, Long, Long, String)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val model = rdocs.flatMap { case (id, t) =>
      val ts = t.split("\\s+")
      (0 to (ts.length - 1) / 7).map { c =>
        val ck = ts.slice(c * 7, math.min(c * 7 + 16, ts.length))
        (id, c.toLong) -> ((ck.length.toLong, ck.mkString(" ")))
      }
    }.toMap
    assert(rgot == model)
    intercept[IllegalArgumentException] {
      graft.text.chunkText(docs, "doc_id", "text", size = 4, stride = 5)
    }
  }

  test("toParquetWithMetadata: sidecar aggregates exact footer stats") {
    val d = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    val df = Seq((1L, 4.5, "a"), (2L, 1.5, "b"),
      (3L, 9.0, null.asInstanceOf[String]), (4L, 2.0, "c"))
      .toDF("id", "v", "s").repartition(2)
    val man = graft.io.GraftIO.toParquetWithMetadata(df, d)
    assert(man.count() == 2, "one manifest row per part file")
    // sidecar round-trips exactly
    val rt = graft.io.GraftIO.fromParquetManifest(spark, d)
    assert(rt.orderBy($"file").collect().toSeq ==
      man.orderBy($"file").collect().toSeq)
    assert(rt.agg(sum($"n_rows")).as[Long].head() == 4L)
    // merged column stats recover the exact data min/max/null counts
    val vs = rt.select(explode($"col_stats")).filter($"key" === "v")
      .select($"value.min".cast("double"), $"value.max".cast("double"),
        $"value.nulls").as[(Double, Double, Long)].collect()
    assert(vs.map(_._1).min == 1.5 && vs.map(_._2).max == 9.0)
    assert(vs.map(_._3).sum == 0L)
    val sn = rt.select(explode($"col_stats")).filter($"key" === "s")
      .select($"value.nulls").as[Long].collect().sum
    assert(sn == 1L, "string column null count from footers")
    // the underscore sidecar is invisible to the data scan
    assert(spark.read.parquet(d).count() == 4L)
  }

  test("fromParquetSkipping: sidecar min/max skips files, results exact") {
    val d = java.nio.file.Files.createTempDirectory("graft_skip").toString
    // range-partitioned on v => disjoint per-file ranges, skippable
    val df = (1 to 400).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
      .repartitionByRange(4, $"v")
    graft.io.GraftIO.toParquetWithMetadata(df, d)
    val man = graft.io.GraftIO.fromParquetManifest(spark, d)
    assert(man.count() == 4)
    // a range inside one file's span: the skipping read must return the
    // same rows as a full-scan filter...
    val got = graft.io.GraftIO
      .fromParquetSkipping(spark, d, "v", 120.0, 130.0, "double")
      .filter($"v".between(120.0, 130.0))
      .as[(Long, Double)].collect().toSet
    assert(got == (120 to 130).map(i => (i.toLong, i.toDouble)).toSet)
    // ...while reading strictly fewer files than exist
    val nScanned = graft.io.GraftIO
      .fromParquetSkipping(spark, d, "v", 120.0, 130.0, "double")
      .select(input_file_name()).distinct().count()
    assert(nScanned < 4, s"expected skipping, scanned $nScanned of 4 files")
    // out-of-range => schema-preserving empty
    val none = graft.io.GraftIO
      .fromParquetSkipping(spark, d, "v", 1e9, 2e9, "double")
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "v"))
    // conservative-keep under a bad cast: "v" stats are doubles; asking
    // for them as DATE nulls every cast, and the contract is keep-all
    // (fall back to a full scan), never silently drop files
    val badCast = graft.io.GraftIO
      .fromParquetSkipping(spark, d, "v", "2001-01-01", "2001-01-02", "date")
    assert(badCast.count() == 400L,
      "files with non-castable stats must be kept, not dropped")
    // partitionBy layout: manifest walks the key=value subdirs and the
    // skipping read keeps the partition column alive via basePath
    val pd = java.nio.file.Files.createTempDirectory("graft_skip_part").toString
    (1 to 100).map(i => (i.toLong, i.toDouble, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "v", "lang")
      .write.mode("overwrite").partitionBy("lang").parquet(pd)
    val pman = graft.io.GraftIO.writeManifest(spark, pd)
    assert(pman.count() >= 2, "one manifest row per leaf file")
    assert(pman.select($"file").as[String].collect().forall(_.contains("lang=")))
    assert(pman.agg(sum($"n_rows")).as[Long].head() == 100L)
    val pread = graft.io.GraftIO
      .fromParquetSkipping(spark, pd, "v", 10.0, 20.0, "double")
      .filter($"v".between(10.0, 20.0))
    assert(pread.columns.contains("lang"), "partition column must survive")
    assert(pread.count() == 11L)
  }

  test("upsertParquet: manifest routes the rewrite to affected files only") {
    val d = java.nio.file.Files.createTempDirectory("graft_upsert_t")
      .toString + "/t"
    val df = (1 to 400).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .repartitionByRange(4, $"id")
    graft.io.GraftIO.toParquetWithMetadata(df, d)
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listFiles() = fs.listStatus(new org.apache.hadoop.fs.Path(d))
      .filter(_.getPath.getName.startsWith("part-"))
      .map(s => s.getPath.getName -> s.getLen).toMap
    val before = listFiles()
    // one key update landing in ONE range file + one brand-new key
    // beyond every file's max
    val updates = Seq((10L, -1.0), (420L, -2.0)).toDF("id", "v")
    val (aff, tot) = graft.io.GraftIO.upsertParquet(spark, d, updates, "id")
    assert(tot == 4 && aff == 1, s"expected 1 of 4 files rewritten, got $aff/$tot")
    val after = listFiles()
    // the three unaffected files survive byte-identical (same name+len)
    val untouched = before.filter { case (n, len) => after.get(n).contains(len) }
    assert(untouched.size == 3, s"3 files must be untouched: $before -> $after")
    // merge semantics: update replaced, new key appended, row count +1
    val rt = spark.read.parquet(d)
    assert(rt.count() == 401L)
    assert(rt.filter($"id" === 10L).select($"v").as[Double].head() == -1.0)
    assert(rt.filter($"id" === 420L).count() == 1L)
    // sidecar was refreshed incrementally and reflects the merge
    assert(graft.io.GraftIO.fromParquetManifest(spark, d)
      .agg(sum($"n_rows")).as[Long].head() == 401L)
  }

  test("snapshots: every version reads back exactly, vacuum reclaims only dead files") {
    import graft.io.GraftIO
    val d = java.nio.file.Files.createTempDirectory("graft_snap").toString + "/t"
    val base = (1L to 400L).map(i => (i, i.toDouble)).toDF("id", "v")
    GraftIO.toParquetWithMetadata(base.repartitionByRange(8, $"id"), d)
    assert(GraftIO.initSnapshots(spark, d) == 0)
    // v1: update a narrow key range + insert one key
    val (rw1, tot1, v1) = GraftIO.upsertParquetSnapshot(spark, d,
      Seq((5L, -5.0), (7L, -7.0), (9000L, 1.0)).toDF("id", "v"), "id")
    assert(v1 == 1 && tot1 == 8)
    assert(rw1 < tot1, s"manifest ranges should keep the upsert delta-" +
      s"proportional: rewrote $rw1 of $tot1")
    // v2: touch a different range
    val (_, _, v2) = GraftIO.upsertParquetSnapshot(spark, d,
      Seq((395L, -395.0)).toDF("id", "v"), "id")
    assert(v2 == 2)
    def state(ver: Int): Map[Long, Double] =
      GraftIO.fromParquetSnapshot(spark, d, ver)
        .as[(Long, Double)].collect().toMap
    val want0 = (1L to 400L).map(i => i -> i.toDouble).toMap
    val want1 = want0 ++ Map(5L -> -5.0, 7L -> -7.0, 9000L -> 1.0)
    val want2 = want1 + (395L -> -395.0)
    assert(state(0) == want0, "v0 must be untouched by later upserts")
    assert(state(1) == want1 && state(2) == want2)
    assert(GraftIO.fromParquetSnapshot(spark, d).as[(Long, Double)]
      .collect().toMap == want2, "default read = latest")
    // lineage is recorded
    assert(GraftIO.snapshotVersions(spark, d).map(t => (t._1, t._2)) ==
      Seq((0, -1), (1, 0), (2, 1)))
    // vacuum to the last two versions: v0-only files die, v1/v2 intact
    val deleted = GraftIO.vacuumSnapshots(spark, d, keepLast = 2)
    assert(deleted > 0, "v0's rewritten files should have been reclaimed")
    assert(state(1) == want1 && state(2) == want2)
    intercept[RuntimeException] { GraftIO.fromParquetSnapshot(spark, d, 0) }
    // the manifest sidecar tracked the deletions (no vanished files)
    val files = GraftIO.fromParquetManifest(spark, d)
      .select($"file").as[String].collect().toSet
    assert(files == GraftIO.snapshotVersions(spark, d)
      .flatMap(_._3).toSet, "manifest out of sync with live files")
  }

  test("snapshots: concurrent version claim conflicts error, store stays intact") {
    import graft.io.GraftIO
    val d = java.nio.file.Files.createTempDirectory("graft_cc").toString + "/t"
    val base = (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "v")
    GraftIO.toParquetWithMetadata(base.repartitionByRange(4, $"id"), d)
    GraftIO.initSnapshots(spark, d)
    // simulate the race deterministically: another writer claimed the next
    // version (exclusive marker exists) after our log read — the commit
    // must FAIL LOUDLY, never overwrite the winner's log line
    val marker = new java.io.File(s"$d/_graft_commits/v1")
    assert(marker.getParentFile.mkdirs() || marker.getParentFile.isDirectory)
    assert(marker.createNewFile())
    val e = intercept[java.util.ConcurrentModificationException] {
      GraftIO.upsertParquetSnapshot(spark, d,
        Seq((5L, -5.0)).toDF("id", "v"), "id")
    }
    assert(e.getMessage.contains("version 1") &&
      e.getMessage.contains("_graft_commits"), e.getMessage)
    // the losing attempt left the recorded history untouched and readable
    assert(GraftIO.snapshotVersions(spark, d).map(_._1) == Seq(0))
    assert(GraftIO.fromParquetSnapshot(spark, d)
      .as[(Long, Double)].collect().toMap ==
      (1L to 100L).map(i => i -> i.toDouble).toMap)
    // its orphaned data files are reclaimable: vacuum deletes anything no
    // version references
    val deleted = GraftIO.vacuumSnapshots(spark, d, keepLast = 1)
    assert(deleted > 0, "loser's appended files should be vacuumable")
    // recovery path from the error message: delete the marker and retry
    assert(marker.delete())
    val (_, _, v1) = GraftIO.upsertParquetSnapshot(spark, d,
      Seq((5L, -5.0)).toDF("id", "v"), "id")
    assert(v1 == 1)
    assert(GraftIO.fromParquetSnapshot(spark, d)
      .filter($"id" === 5L).select($"v").as[Double].head() == -5.0)
  }

  test("snapshot delete + diff: exact change feeds, compaction rows invisible") {
    import graft.io.GraftIO
    val d = java.nio.file.Files.createTempDirectory("graft_cdc2").toString + "/t"
    val base = (1L to 300L).map(i => (i, i.toDouble)).toDF("id", "v")
    GraftIO.toParquetWithMetadata(base.repartitionByRange(6, $"id"), d)
    GraftIO.initSnapshots(spark, d)
    // v1: one real update, one insert, and one SAME-VALUE rewrite (pure
    // compaction traffic — must be invisible to the diff)
    GraftIO.upsertParquetSnapshot(spark, d,
      Seq((10L, -10.0), (900L, 9.0), (11L, 11.0)).toDF("id", "v"), "id")
    val d01 = GraftIO.snapshotDiff(spark, d, 0, 1, "id")
      .select($"_op", $"id").as[(String, Long)].collect().toSet
    assert(d01 == Set(("update", 10L), ("insert", 900L)),
      s"diff(0,1) wrong: $d01")
    // v2: delete a narrow range — delta-proportional rewrite
    val (rw, tot, v2) = GraftIO.deleteParquetSnapshot(spark, d,
      Seq(10L, 11L, 900L).toDF("id"), "id")
    assert(v2 == 2 && rw < tot, s"delete rewrote $rw of $tot")
    val s2 = GraftIO.fromParquetSnapshot(spark, d, 2)
      .as[(Long, Double)].collect().toMap
    assert(!s2.contains(10L) && !s2.contains(11L) && !s2.contains(900L))
    assert(s2.size == 298 && s2(12L) == 12.0)
    // parent untouched; diff(1,2) is exactly the three deletes
    assert(GraftIO.fromParquetSnapshot(spark, d, 1).count() == 301)
    val d12 = GraftIO.snapshotDiff(spark, d, 1, 2, "id")
      .select($"_op", $"id").as[(String, Long)].collect().toSet
    assert(d12 == Set(("delete", 10L), ("delete", 11L), ("delete", 900L)),
      s"diff(1,2) wrong: $d12")
    // transitive feed 0->2: the net change
    val d02 = GraftIO.snapshotDiff(spark, d, 0, 2, "id")
      .select($"_op", $"id").as[(String, Long)].collect().toSet
    assert(d02 == Set(("delete", 10L), ("delete", 11L)),
      s"diff(0,2) wrong: $d02")
  }

  test("compactSnapshot: fewer files, identical rows, EMPTY change feed") {
    import graft.io.GraftIO
    val d = java.nio.file.Files.createTempDirectory("graft_csn").toString + "/t"
    val base = (1L to 500L).map(i => (i, i * 2.0)).toDF("id", "v")
    GraftIO.toParquetWithMetadata(base.repartition(16), d)
    GraftIO.initSnapshots(spark, d)
    val filesBefore = GraftIO.snapshotVersions(spark, d).last._3.size
    val (out, v1) = GraftIO.compactSnapshot(spark, d, targetFileBytes = 1L << 30)
    assert(v1 == 1 && out < filesBefore,
      s"compaction produced $out files from $filesBefore")
    assert(GraftIO.fromParquetSnapshot(spark, d, 1)
      .as[(Long, Double)].collect().toMap ==
      (1L to 500L).map(i => i -> i * 2.0).toMap)
    // the compaction snapshot is pure layout: the change feed is EMPTY
    assert(GraftIO.snapshotDiff(spark, d, 0, 1, "id").count() == 0,
      "compaction rows leaked into the change feed")
    // and history still reads (until vacuumed)
    assert(GraftIO.fromParquetSnapshot(spark, d, 0).count() == 500)
    val deleted = GraftIO.vacuumSnapshots(spark, d, keepLast = 1)
    assert(deleted == filesBefore, s"vacuum reclaimed $deleted")
  }

  test("IncrementalAgg: merged batch states equal the one-pass aggregate") {
    import graft.operators.IncrementalAgg
    val li = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val groups = Seq("l_returnflag")
    val ms = Seq("l_quantity", "l_extendedprice")
    // three batches in arbitrary order vs one pass over everything
    val batches = Seq(0, 1, 2).map(r =>
      IncrementalAgg.buildState(li.filter($"l_orderkey" % 3 === r), groups, ms))
    val full = IncrementalAgg.buildState(li, groups, ms)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select($"l_returnflag", $"_n", round($"_sum_l_quantity", 4),
        $"_min_l_quantity", $"_max_l_quantity",
        round($"_sum_l_extendedprice", 2), $"_min_l_extendedprice",
        $"_max_l_extendedprice")
      .orderBy($"l_returnflag").collect().toSeq
    assert(norm(IncrementalAgg.mergeState(batches, groups, ms)) == norm(full))
    assert(norm(IncrementalAgg.mergeState(batches.reverse, groups, ms)) ==
      norm(full), "merge must be order-independent")
    // a state is itself mergeable state: re-merging a merged state with
    // an empty-group-disjoint state keeps both groups intact
    val merged = IncrementalAgg.mergeState(batches, groups, ms)
    assert(IncrementalAgg.mergeState(Seq(merged), groups, ms).count() ==
      full.count())
  }

  test("IncrementalAgg.deltaJoin: maintained view equals the from-scratch join") {
    import graft.operators.IncrementalAgg
    val rnd = new scala.util.Random(71)
    // keys deliberately include: base-only, delta-only (on each side),
    // and keys whose matches exist ONLY across the delta x delta term
    val a = (0 until 300).map(i => (rnd.nextInt(40).toLong, i.toLong))
      .toDF("k", "av")
    val b = (0 until 200).map(i => (rnd.nextInt(40).toLong, i * 10L))
      .toDF("k", "bv")
    val (aB, aD) = (a.filter($"av" % 4 =!= 0), a.filter($"av" % 4 === 0))
    val (bB, bD) = (b.filter($"bv" % 30 =!= 0), b.filter($"bv" % 30 === 0))
    val maintained = aB.join(bB, Seq("k"))
      .unionByName(IncrementalAgg.deltaJoin(aB, aD, bB, bD, Seq("k")))
    val full = a.join(b, Seq("k"))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
    assert(norm(maintained) == norm(full),
      s"maintained ${maintained.count()} rows vs full ${full.count()}")
  }

  test("writeManifestIncremental: delta scan equals a full rebuild") {
    val d = java.nio.file.Files.createTempDirectory("graft_incman").toString
    val df1 = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
      .repartition(2)
    graft.io.GraftIO.toParquetWithMetadata(df1, d)
    // append a second generation of files (mode append => new part- names)
    (101 to 160).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
      .repartition(2).write.mode("append").parquet(d)
    val inc = graft.io.GraftIO.writeManifestIncremental(spark, d)
      .orderBy($"file").collect().toSeq
    val full = graft.io.GraftIO.writeManifest(spark, d)
      .orderBy($"file").collect().toSeq
    assert(inc == full, "incremental manifest must equal a from-scratch scan")
    assert(inc.size == 4)
    // sidecar totals reflect both generations
    assert(graft.io.GraftIO.fromParquetManifest(spark, d)
      .agg(sum($"n_rows")).as[Long].head() == 160L)
    // vanished files (compaction) leave the manifest: delete generation-2
    // files, incremental again, rows drop back to generation 1
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = inc.size
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(d))
      .filter(_.getPath.getName.startsWith("part-")).map(_.getPath)
    files.take(2).foreach(f => fs.delete(f, false))
    val after = graft.io.GraftIO.writeManifestIncremental(spark, d)
    assert(after.count() == before - 2,
      "deleted files must leave the manifest")
  }

  test("fromParquetSkippingEq: bloom sidecar skips files on a hash layout") {
    val d = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    // HASH-distributed on k => every file's [min,max] spans the whole
    // domain (range skipping would keep all 8); the bloom still prunes
    val df = (1 to 4000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "id")
      .repartition(8, $"k")
    graft.io.GraftIO.toParquet(df, d)
    graft.io.GraftIO.writeBloomSidecar(spark, d, Seq("k"), bits = 4096)
    val full = df.filter($"k" === 13L).as[(Long, Long)].collect().toSet
    val skd = graft.io.GraftIO.fromParquetSkippingEq(spark, d, Seq(("k", 13L)))
    assert(skd.filter($"k" === 13L).as[(Long, Long)].collect().toSet == full)
    val nScanned = skd.select(input_file_name()).distinct().count()
    assert(nScanned < 8, s"expected bloom skipping, scanned $nScanned of 8")
    // a value absent from the data: whatever files survive (false
    // positives allowed), the filtered result is exactly empty
    val absent = graft.io.GraftIO
      .fromParquetSkippingEq(spark, d, Seq(("k", 98765L)))
      .filter($"k" === 98765L)
    assert(absent.count() == 0L)
    // conjunction: both columns' blooms must admit the file
    graft.io.GraftIO.writeBloomSidecar(spark, d, Seq("k", "id"), bits = 4096)
    val both = graft.io.GraftIO
      .fromParquetSkippingEq(spark, d, Seq(("k", 13L), ("id", 110L)))
      .filter($"k" === 13L && $"id" === 110L)
    assert(both.as[(Long, Long)].collect().toSeq == Seq((13L, 110L)))
    // no sidecar for a column => conservative keep-all, results exact
    val noSide = graft.io.GraftIO
      .fromParquetSkippingEq(spark, d, Seq(("missing_col_bloom", 1L)))
    assert(noSide.count() == 4000L)
  }

  test("round-7 operators are total on empty and degenerate corpora") {
    // empty-corpus robustness: every operator must return an empty (or
    // rule-free) frame, not throw — the behavior a pipeline stage needs
    // when an upstream filter leaves nothing
    val docs = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
    assert(graft.text.chunkText(docs, "doc_id", "text", 32, 24).count() == 0)
    assert(graft.text.bpeTrainMerges(docs, "text", 10, 3).count() == 0)
    assert(graft.text.bpeSegmentCounts(docs, "doc_id", "text",
      Seq(("a", "b"))).count() == 0)
    assert(graft.text.dsirScore(docs, docs, "doc_id", "text", 64).count() == 0)
    val emb = spark.emptyDataset[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(graft.similarity.mmrRerank(emb, emb, "vec_id", "embedding",
      nCand = 4, kOut = 2).count() == 0)
    // empty TARGET, non-empty raw: every raw doc still scores (tt = 0
    // rides on the smoothing), nothing NaN/throws
    val raw = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val scored = graft.text.dsirScore(raw, docs, "doc_id", "text", 64)
      .as[(Long, Long, Double)].collect()
    assert(scored.length == 2 && scored.forall(r => !r._3.isNaN))
  }

  test("chunkText is stateless: identical output under Structured Streaming") {
    // the generator expression runs unmodified on a stream — no state, no
    // watermark, no shuffle; append-mode output must equal the batch run
    val d = java.nio.file.Files.createTempDirectory("graft_chunk_stream").toString
    val batchIn = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", $"text").limit(100)
    batchIn.write.mode("overwrite").parquet(d)
    val stream = spark.readStream.schema(batchIn.schema).parquet(d)
    val q = graft.text.chunkText(stream, "doc_id", "text", size = 8, stride = 6)
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("chunk_stream")
      .as[(Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    val want = graft.text.chunkText(spark.read.parquet(d), "doc_id", "text",
        size = 8, stride = 6)
      .as[(Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("bpeTrainMerges: hand-computed Sennrich example; segment counts") {
    // the classic BPE fixture: low:7, lower:2(within low's 7? no) —
    // counts: low x5, lower x2, newest x6, widest x3
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val merges = graft.text.bpeTrainMerges(docs, "text",
        vocabCap = 10, nMerges = 4)
      .orderBy($"merge_rank")
      .as[(Int, String, String, String, Long)].collect().toSeq
    // r1: es/st tie at 9 -> lex ("e","s"); r2: ("es","t") 9; r3: lo/ow tie
    // at 7 -> ("l","o"); r4: ("lo","w") 7
    assert(merges == Seq(
      (1, "e", "s", "es", 9L), (2, "es", "t", "est", 9L),
      (3, "l", "o", "lo", 7L), (4, "lo", "w", "low", 7L)), merges.toString)
    // segmentation with the learned rules: lower = [low,e,r] (3),
    // newest = [n,e,w,est] (4); non-alphanumeric words count 1
    val rules = merges.map(m => (m._2, m._3))
    val seg = graft.text.bpeSegmentCounts(
        Seq((1L, "lower newest"), (2L, "Hello! low"), (3L, ""),
          (4L, null.asInstanceOf[String]))
          .toDF("doc_id", "text"),
        "doc_id", "text", rules)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(seg(1L) == ((2L, 7L)), seg.toString)
    // "hello!" (lowered) has '!' -> unknown (1); "low" -> 1 symbol
    assert(seg(2L) == ((2L, 2L)), seg.toString)
    // empty text: one ''-token, unmatched -> 1
    assert(seg(3L) == ((1L, 1L)), seg.toString)
    // null text: (0, 0) — the oracle mirrors both coalesces
    assert(seg(4L) == ((0L, 0L)), seg.toString)
    // all-single-symbol vocab: no pairs -> early stop, empty rule table
    val none = graft.text.bpeTrainMerges(
      Seq((1L, "a b c a")).toDF("doc_id", "text"), "text", 10, 5)
    assert(none.count() == 0)
    assert(none.columns.toSeq ==
      Seq("merge_rank", "sym_a", "sym_b", "merged", "pair_count"))
    // the codegen'd BpeCount expression == the HOF replace-fold spelling,
    // on the real corpus with REAL trained rules (mixed punctuation,
    // uppercase, empty lines all present)
    val corpus = graft.core.Tables.documents(spark, dir)
    val realRules = graft.text.bpeTrainMerges(corpus, "text", 200, 12)
      .orderBy($"merge_rank").select($"sym_a", $"sym_b")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val fast = graft.text.bpeSegmentCounts(corpus, "doc_id", "text", realRules)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val hof = graft.HofWitness.bpeSegmentCountsHof(corpus, "doc_id", "text", realRules)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(fast == hof, "expression and HOF spellings diverged")
    assert(fast.nonEmpty && fast.exists(_._3 > 0))
  }

  test("dsirScore: target-domain docs outscore off-domain; model-exact") {
    val rows = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "der hund lief schnell im park heute", "de"),
      (3L, "the dog sat on the rug", "en"),
      (4L, "le chat est sur le tapis", "fr"),
      (5L, "", "en")) // empty text: one ''-unigram feature, no bigram
    val raw = rows.toDF("doc_id", "text", "lang")
    val got = graft.text.dsirScore(raw, raw.filter($"lang" === "en"),
        "doc_id", "text", nBuckets = 64)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // driver-side model of the whole pipeline
    def fs(t: String): Seq[String] = {
      val ts = t.trim.toLowerCase.split("\\s+").toSeq
      ts ++ ts.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    val B = 64
    def bk(f: String): Int = (graft.functions.HashExprs.polyHash(f) % B).toInt
    val rawB = rows.map { case (id, t, _) => id -> fs(t).map(bk) }.toMap
    val rcnt = rawB.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val tcnt = rows.filter(_._3 == "en")
      .flatMap(r => fs(r._2).map(bk)).groupBy(identity).view.mapValues(_.size).toMap
    val tr = rcnt.values.sum.toLong; val tt = tcnt.values.sum.toLong
    def w(b: Int): Double =
      math.log((tcnt.getOrElse(b, 0).toDouble + 1.0) / (tt + B).toDouble) -
        math.log((rcnt(b).toDouble + 1.0) / (tr + B).toDouble)
    rows.foreach { case (id, t, _) =>
      val bs = rawB(id)
      assert(got(id)._1 == bs.size.toLong, s"n_feats for $id")
      assert(math.abs(got(id)._2 - bs.map(w).sum) < 1e-9, s"score for $id")
      assert(got(id)._1 == 2L * fs(t).count(!_.contains(' ')) - 1,
        s"unigram+bigram count for $id")
    }
    // the selection property DSIR exists for: target-domain docs rank first
    assert(Seq(1L, 3L).map(got(_)._2).min > Seq(2L, 4L).map(got(_)._2).max,
      got.toString)
  }

  test("packSequences: hand-computed layout; two-level scan = global window") {
    val docs = Seq((1L, 10L), (2L, 5L), (3L, 2000L), (4L, 100L))
      .toDF("doc_id", "nt")
    val got = graft.text.packSequences(docs, "doc_id", "nt", budget = 16)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    // starts: 0, 10, 15, 2015 -> seqs 0, 0, 0, 125
    assert(got == Map(1L -> ((0L, 0L)), 2L -> ((10L, 0L)),
      3L -> ((15L, 0L)), 4L -> ((2015L, 125L))))
    // null/negative counts clamp to 0 instead of nulling the prefix sums
    val withNull = Seq((1L, Some(10L)), (2L, None), (3L, Some(-5L)), (4L, Some(6L)))
      .toDF("doc_id", "nt")
    val gotN = graft.text.packSequences(withNull, "doc_id", "nt", 16)
      .select($"doc_id", $"start_tok").as[(Long, Long)].collect().toMap
    assert(gotN == Map(1L -> 0L, 2L -> 10L, 3L -> 10L, 4L -> 10L))
    // the two-level decomposition must equal one global window cumsum, with
    // ids spread wide and a partitioning the scan can't rely on
    val rnd = new scala.util.Random(7)
    val big = (0 until 500).map(i => (rnd.nextInt(100000).toLong * 7 + i, rnd.nextInt(300).toLong))
    val bigDf = big.toDF("doc_id", "nt").repartition(7)
    val twoLevel = graft.text.packSequences(bigDf, "doc_id", "nt", 2048)
      .select($"doc_id", $"start_tok").as[(Long, Long)].collect().toMap
    import org.apache.spark.sql.expressions.Window
    val global = bigDf.withColumn("cum",
        sum($"nt").over(Window.orderBy($"doc_id")) - $"nt")
      .select($"doc_id", $"cum").as[(Long, Long)].collect().toMap
    assert(twoLevel == global)
    // hashed/sparse ids (full long range, negatives): ordinals still match
    // the global window exactly
    val hashed = (0 until 300).map(_ => (rnd.nextLong(), rnd.nextInt(50).toLong))
      .distinctBy(_._1).toDF("doc_id", "nt").repartition(5)
    val twoH = graft.text.packSequences(hashed, "doc_id", "nt", 1024)
      .select($"doc_id", $"start_tok").as[(Long, Long)].collect().toMap
    val globH = hashed.withColumn("cum",
        sum($"nt").over(Window.orderBy($"doc_id")) - $"nt")
      .select($"doc_id", $"cum").as[(Long, Long)].collect().toMap
    assert(twoH == globH)
  }

  test("withRowIndex/sliceRows: exact ordinals on sparse ids, matches offset/limit") {
    val orders = graft.core.Tables.orders(spark, dir)
    val viaIndex = graft.core.Partitions.sliceRows(orders, "o_orderkey", 37L, 59L)
      .select($"o_orderkey").as[Long].collect().sorted.toSeq
    val viaLimit = orders.orderBy($"o_orderkey").offset(37).limit(22)
      .select($"o_orderkey").as[Long].collect().sorted.toSeq
    assert(viaIndex == viaLimit && viaIndex.size == 22)
    // ordinal is dense 0..n-1 even when ids are sparse/negative
    val sparse = Seq(-50L, 3L, 7L, 100000L, 999L).toDF("id")
    val got = graft.core.Partitions.withRowIndex(sparse, "id")
      .as[(Long, Long)].collect().sortBy(_._2).map(_._1).toSeq
    assert(got == Seq(-50L, 3L, 7L, 999L, 100000L))
    // fractional keys (whose equalities, 0.0 = -0.0 and NaN = NaN, tie
    // distinct values on the join back) are rejected up front
    intercept[IllegalArgumentException] {
      graft.core.Partitions.withRowIndex(Seq(1.5, 2.5).toDF("id"), "id")
    }
    // an orderCol named like an internal column must not collide with it
    // (a collision with the old count column "one" made every key the
    // constant 1: wrong ordinals plus row multiplication on the join back);
    // "id", "k", "n" and "rn" are the rank call's own column names
    for (name <- Seq("one", "id", "k", "n", "rn", "cum_n")) {
      val named = graft.core.Partitions.withRowIndex(
          Seq(9L, 2L, 5L).toDF(name), name)
        .as[(Long, Long)].collect().sortBy(_._2).map(_._1).toSeq
      assert(named == Seq(2L, 5L, 9L), name)
    }
    intercept[IllegalArgumentException] {
      graft.core.Partitions.withRowIndex(Seq(1L).toDF("__graft_one"), "__graft_one")
    }
  }

  test("repartitionDivisions: exact row-offset boundaries, ordered within partitions") {
    import org.apache.spark.sql.functions.spark_partition_id
    // sparse shuffled ids so ordinal != id: placement must follow the ORDINAL
    val ids = scala.util.Random.shuffle((0 until 100).map(i => i * 7L - 50)).toDF("id")
    val placed = graft.core.Partitions.repartitionDivisions(
      ids, "id", Seq(0L, 10L, 35L, Long.MaxValue))
    assert(placed.rdd.getNumPartitions == 3)
    val byPart = placed.withColumn("p", spark_partition_id())
      .as[(Long, Int)].collect().groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap
    val sortedIds = (0 until 100).map(i => i * 7L - 50)
    assert(byPart(0) == sortedIds.slice(0, 10))   // exact sizes AND order
    assert(byPart(1) == sortedIds.slice(10, 35))  // preserved inside each
    assert(byPart(2) == sortedIds.slice(35, 100)) // physical partition
    // malformed divisions rejected up front
    intercept[IllegalArgumentException] {
      graft.core.Partitions.repartitionDivisions(ids, "id", Seq(5L, 10L))
    }
    intercept[IllegalArgumentException] {
      graft.core.Partitions.repartitionDivisions(ids, "id", Seq(0L, 10L, 10L))
    }
  }

  test("writeTokenSharded: shards hold ~budget tokens, ids stay contiguous") {
    val docs = graft.core.Tables.documents(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft_shards").toString
    graft.io.GraftIO.writeTokenSharded(docs, "doc_id", "text", tmp, budget = 5000)
    val back = spark.read.parquet(tmp)
      .select($"shard".cast("long").as("shard"), $"doc_id",
        graft.text.countTokensWs($"text").cast("long").as("nt"))
    val perShard = back.groupBy($"shard")
      .agg(sum($"nt").as("tok"), min($"doc_id").as("lo"), max($"doc_id").as("hi"),
        count(lit(1)).as("n"))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // every doc present exactly once
    assert(perShard.map(_._5).sum == docs.count())
    // every shard except the last holds >= budget - (max doc len) and
    // overflows by < one doc; id ranges of consecutive shards don't overlap
    // (packing is in id order)
    val maxDoc = back.agg(max($"nt")).as[Long].head()
    perShard.dropRight(1).foreach { case (s, tok, _, _, _) =>
      assert(tok > 5000 - maxDoc && tok < 5000 + maxDoc, s"shard $s: $tok")
    }
    perShard.sliding(2).foreach {
      case Array((_, _, _, hi1, _), (_, _, lo2, _, _)) => assert(hi1 < lo2)
      case _ =>
    }
    // an input id column literally named "id" must survive the write
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_shards_id").toString
    graft.io.GraftIO.writeTokenSharded(
      docs.withColumnRenamed("doc_id", "id"), "id", "text", tmp2, budget = 5000)
    val cols2 = spark.read.parquet(tmp2).columns.toSet
    assert(cols2.contains("id") && cols2.contains("shard"), cols2.toString)
    // non-integral ids would null the join and overwrite dest empty —
    // rejected up front
    intercept[IllegalArgumentException] {
      graft.io.GraftIO.writeTokenSharded(
        docs.withColumn("sid", concat(lit("doc-"), $"doc_id".cast("string"))),
        "sid", "text", tmp2, budget = 5000)
    }
    // duplicate ids would give tied prefix sums and the join back would
    // write n*n copies of each duplicated doc — rejected up front, and the
    // existing dest is left untouched
    intercept[IllegalArgumentException] {
      graft.io.GraftIO.writeTokenSharded(
        docs.limit(10).union(docs.limit(10)), "doc_id", "text", tmp2, budget = 5000)
    }
    assert(spark.read.parquet(tmp2).columns.toSet.contains("id"))
  }

  test("tfidfTopTerms/unigramLogProb match brute-force models") {
    val docs = graft.core.Tables.documents(spark, dir).limit(60)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val toks = docs.map { case (id, t) =>
      id -> t.trim.toLowerCase.split("\\s+").toSeq }.toMap
    // tfidf model
    val tf = toks.map { case (id, ts) =>
      id -> ts.groupBy(identity).view.mapValues(_.size.toLong).toMap }
    val dfreq = tf.values.flatMap(_.keys).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val expTop = tf.flatMap { case (id, m) =>
      m.toSeq.map { case (tok, f) => (id, tok, f, dfreq(tok)) }
        .sortBy { case (_, tok, f, d) => (-f, d, tok) }.take(3).zipWithIndex
        .map { case ((i, tok, f, d), r) => (i, tok, f, d, r + 1) }
    }.toSet
    val df60 = docs.toSeq.toDF("doc_id", "text")
    val gotTop = graft.text.tfidfTopTerms(df60, "doc_id", "text", 3)
      .select($"doc_id", $"tok", $"tf", $"df", $"rank")
      .as[(Long, String, Long, Long, Int)].collect().toSet
    assert(gotTop == expTop)
    // unigram logprob model
    val ctf = toks.values.flatten.groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val tot = ctf.values.sum.toDouble
    val expLp = toks.map { case (id, ts) =>
      id -> ts.map(t => math.log(ctf(t) / tot)).sum / ts.size }
    val gotLp = graft.text.unigramLogProb(df60, "doc_id", "text")
      .select($"doc_id", $"logprob").as[(Long, Double)].collect().toMap
    assert(expLp.forall { case (id, e) => math.abs(gotLp(id) - e) < 1e-9 })
  }

  test("bm25TopK matches a brute-force BM25 model") {
    val docs = graft.core.Tables.documents(spark, dir).limit(80)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val toks = docs.map { case (id, t) =>
      id -> t.trim.toLowerCase.split("\\s+").toSeq }.toMap
    val tf = toks.map { case (id, ts) =>
      id -> ts.groupBy(identity).view.mapValues(_.size.toLong).toMap }
    val dfreq = tf.values.flatMap(_.keys).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val ctf = toks.values.flatten.groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val n = docs.length
    val avgdl = toks.values.map(_.size.toLong).sum.toDouble / n
    val terms = ctf.toSeq.filter(_._1.length >= 4)
      .sortBy { case (t, c) => (-c, t) }.take(6)
    val (k1, b) = (1.2, 0.75)
    val df80 = docs.toSeq.toDF("doc_id", "text")
    val got = graft.text.bm25TopK(df80, "doc_id", "text")
      .select($"qid", $"rank", $"doc_id", $"score")
      .as[(Int, Int, Long, Double)].collect()
    assert(got.nonEmpty && got.map(_._1).distinct.sorted.toSeq == Seq(0, 1, 2))
    // per query: ranks are 1..k, scores non-increasing, all docs distinct
    got.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq)
      assert(sorted.sliding(2).forall {
        case Array(a, bb) => a._4 >= bb._4; case _ => true })
      assert(rows.map(_._3).distinct.length == rows.length)
    }
    // direct model for the top-scoring doc of each query
    val dls = toks.view.mapValues(_.size.toLong).toMap
    def bm25(qid: Int, id: Long): Double = {
      val ts2 = terms.slice(qid * 2, qid * 2 + 2)
      val s = ts2.map { case (t, _) =>
        tf(id).get(t).fold(0.0) { f =>
          val d = dfreq(t).toDouble
          math.log(1.0 + (n - d + 0.5) / (d + 0.5)) *
            (f * (k1 + 1.0) / (f + k1 * ((1.0 - b) + b * dls(id) / avgdl)))
        }
      }.sum
      math.rint(s * 1e4) / 1e4
    }
    val expTop = (0 to 2).map { qid =>
      val best = tf.keys.map(id => (id, bm25(qid, id)))
        .filter(_._2 > 0).toSeq.sortBy { case (id, s) => (-s, id) }.head
      qid -> best
    }.toMap
    got.filter(_._2 == 1).foreach { case (qid, _, id, sc) =>
      assert((id, sc) == expTop(qid), s"q$qid top-1 mismatch")
    }
  }

  test("perplexityBuckets: tiers partition the corpus, ordered by score") {
    val docs = graft.core.Tables.documents(spark, dir)
    val got = graft.text.perplexityBuckets(docs, "doc_id", "text", 3)
      .select($"doc_id", $"logprob", $"bucket").as[(Long, Double, Int)].collect()
    assert(got.length == docs.count())
    val byBucket = got.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet == Set(0, 1, 2))
    // tiers are ordered: every bucket-0 score >= every bucket-1 score, etc.
    assert(byBucket(0).min >= byBucket(1).max - 1e-12)
    assert(byBucket(1).min >= byBucket(2).max - 1e-12)
    // roughly even tiers (exact percentile cuts; ties can skew slightly)
    val n = got.length.toDouble
    byBucket.values.foreach(v => assert(math.abs(v.size / n - 1.0 / 3) < 0.1))
  }

  test("dedupSentences: keep-first across docs, within-doc repeats, order") {
    val docs = Seq(
      (1L, "Buy now. Unique alpha! Buy now."),   // dup sentence, first wins
      (2L, "Buy now? Unique beta."),             // same dup, later doc drops it
      (3L, "Unique gamma.")
    ).toDF("doc_id", "text")
    val got = graft.text.dedupSentences(docs, "doc_id", "text")
      .as[(Long, Long, Long, Seq[String])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1: "Buy now" kept once (first occurrence), second dropped
    assert(got(1L) == ((3L, 2L, Seq("Buy now", "Unique alpha"))))
    assert(got(2L) == ((2L, 1L, Seq("Unique beta"))))
    assert(got(3L) == ((1L, 1L, Seq("Unique gamma"))))
    // null text: every output column zeros/empties consistently — n_sent
    // was the one column that leaked the null through size(sentences(null))
    val withNull = Seq((1L, "One sentence."), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val nres = graft.text.dedupSentences(withNull, "doc_id", "text")
      .as[(Long, Long, Long, Seq[String])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(nres(2L) == ((0L, 0L, Seq.empty[String])))
  }

  test("dedupSpans: shared, within-doc, and absent spans; full coverage") {
    val docs = Seq(
      (1L, "a b c d e f g"),             // shares "a b c d e" with doc 2
      (2L, "x a b c d e y"),
      (3L, "p q r s t u v"),             // untouched
      (4L, "m n o p q m n o p q")        // within-doc repeat: fully covered
    ).toDF("doc_id", "text")
    val got = graft.text.dedupSpans(docs, "doc_id", "text", w = 5)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((7L, 2L, "f g")))
    assert(got(2L) == ((7L, 2L, "x y")))
    assert(got(3L) == ((7L, 7L, "p q r s t u v")))
    assert(got(4L) == ((10L, 0L, "")))
    // matching is case-insensitive, but survivors keep ORIGINAL case
    val mixed = Seq(
      (1L, "A b C d E f g"), (2L, "x a B c D e y"), (3L, "P q R s T")
    ).toDF("doc_id", "text")
    val gotM = graft.text.dedupSpans(mixed, "doc_id", "text", w = 5)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(gotM(1L) == "f g" && gotM(2L) == "x y" && gotM(3L) == "P q R s T")
    // the 8-byte-key scale path must produce identical output on a real
    // corpus slice (hash collisions aside — none at this size)
    val docs2 = graft.core.Tables.documents(spark, dir).limit(200)
    val a = graft.text.dedupSpans(docs2, "doc_id", "text", w = 5)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    val b = graft.text.dedupSpans(docs2, "doc_id", "text", w = 5, hashKeys = true)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("streaming: checkpointed file sink resumes after restart, no dupes") {
    implicit val s: SparkSession = spark
    val base = java.nio.file.Files.createTempDirectory("graft_ss").toString
    val (src, out, chk) = (s"$base/src", s"$base/out", s"$base/chk")
    new java.io.File(src).mkdirs()
    val ev = graft.core.Tables.events(spark, dir)
    def land(half: Int): Unit = ev.filter($"event_id" % 2 === half)
      .coalesce(1).write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val q = spark.readStream.schema(graft.streaming.Streaming.eventsSchema)
        .parquet(src)
        .select($"event_id", $"user_id", $"value")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    land(0); runOnce()     // first run consumes half the events
    val afterFirst = spark.read.parquet(out).count()
    land(1); runOnce()     // RESTARTED query resumes from the checkpoint
    val fin = spark.read.parquet(out)
    assert(afterFirst > 0 && afterFirst < ev.count())
    // exactly-once across the restart: every event exactly one row
    assert(fin.count() == ev.count())
    assert(fin.select($"event_id").distinct().count() == ev.count())
  }

  test("streaming: dedup state survives restart — post-restart duplicates dropped") {
    // the dedup-specific recovery claim: a key first seen BEFORE the kill
    // must still be recognized as a duplicate when it arrives again AFTER
    // the restart — i.e. the dropDuplicatesWithinWatermark state store
    // reloads, not just the source offsets. Events are landed so half 1
    // repeats every key of half 0 (same (user_id, event_type) space).
    // The dedup horizon is set past the whole event range: within-horizon
    // semantics are what the recovery claim is about — with a short delay
    // the engine CORRECTLY re-emits far-apart duplicates (state evicted)
    // and drops late rows, which would test eviction, not recovery.
    implicit val s: SparkSession = spark
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    graft.streaming.Streaming.withRocksDBState(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_ddrec").toString
    try {
      val ev = graft.core.Tables.events(spark, dir)
      val (src, out, chk) = (s"$base/src", s"$base/out", s"$base/chk")
      new java.io.File(src).mkdirs()
      def land(half: Int): Unit = ev.filter($"event_id" % 2 === half)
        .coalesce(1).write.mode("append").parquet(src)
      def runOnce(): Unit = {
        val q = graft.streaming.Streaming.dedupedByKey(
            spark.readStream.schema(graft.streaming.Streaming.eventsSchema)
              .parquet(src), delay = "3650 days")
          .select($"user_id", $"event_type")
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", chk).start()
        q.processAllAvailable(); q.stop()
      }
      land(0); runOnce() // first run emits half 0's key set, then is killed
      val afterFirst = spark.read.parquet(out)
        .as[(Long, String)].collect()
      land(1); runOnce() // restart; half 1's keys overlap half 0's heavily
      val fin = spark.read.parquet(out).as[(Long, String)].collect()
      val expect = ev.select($"user_id", $"event_type")
        .distinct().as[(Long, String)].collect().toSet
      assert(afterFirst.nonEmpty && afterFirst.length < expect.size + 1)
      assert(fin.length == fin.toSet.size,
        "a key was emitted twice across the restart — dedup state was lost")
      assert(fin.toSet == expect, "emitted key set != batch distinct keys")
    } finally {
      prev.fold(spark.conf.unset(key))(p => spark.conf.set(key, p))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("streaming funnel state survives restart — depth continues, never resets") {
    // the funnel-specific recovery claim: a user whose depth advanced
    // BEFORE the kill must CONTINUE from that depth when later stages
    // arrive AFTER the restart — i.e. the flatMapGroupsWithState store
    // reloads, not just source offsets. Events are landed in two
    // time-ordered halves so cross-batch arrival respects event order
    // and the streamed result must equal the batch fold exactly. A lost
    // state would re-emit depth 1 after the restart (duplicate depths
    // per user); a reset would break the 1..maxDepth contiguity.
    implicit val s: SparkSession = spark
    // 5 strict stages and an early cut so advancement genuinely spans
    // the restart (a 3-stage funnel completes inside the first half)
    val stages = Seq("view", "click", "purchase", "signup", "error")
    val base = java.nio.file.Files.createTempDirectory("graft_fnrec").toString
    try {
      val ev = graft.core.Tables.events(spark, dir)
      val cut = ev.agg(expr("percentile(unix_micros(ts), 0.25)")).head().getDouble(0)
      val (src, out, chk) = (s"$base/src", s"$base/out", s"$base/chk")
      new java.io.File(src).mkdirs()
      def land(second: Boolean): Unit = ev.filter(
          if (second) unix_micros($"ts") > cut else unix_micros($"ts") <= cut)
        .coalesce(1).write.mode("append").parquet(src)
      def runOnce(): Unit = {
        val q = graft.streaming.Streaming.streamingFunnel(
            spark.readStream.schema(graft.streaming.Streaming.eventsSchema)
              .parquet(src), stages,
            // idle horizon past the whole corpus: this test is about
            // RESTART recovery, not idle eviction (the 1h-horizon
            // variant is what the pre-fix epoch-anchored timeout broke)
            idleTimeoutMs = 90L * 24 * 3600 * 1000)
          .toDF("user_id", "depth", "ts_us")
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", chk).start()
        q.processAllAvailable(); q.stop()
      }
      land(second = false); runOnce() // advance some depths, then "kill"
      val afterFirst = spark.read.parquet(out).count()
      land(second = true); runOnce()  // restart from the checkpoint
      val byUser = spark.read.parquet(out)
        .as[(Long, Int, Long)].collect().toSeq.groupBy(_._1)
      val batch = graft.operators.Funnel.funnelDepth(
          ev, "user_id", "ts", "event_id", "event_type", stages)
        .as[(Long, Int)].collect().toMap
      assert(afterFirst > 0 && afterFirst < byUser.values.map(_.size).sum,
        "both runs must contribute advancements")
      byUser.foreach { case (u, rows) =>
        val depths = rows.map(_._2).sorted
        assert(depths == (1 to depths.size),
          s"user $u advancement depths not contiguous (state lost?): $depths")
      }
      batch.foreach { case (u, d) =>
        assert(byUser.get(u).map(_.size).getOrElse(0) == d,
          s"user $u: streamed ${byUser.get(u).map(_.size).getOrElse(0)}, batch $d")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("streaming: RocksDB stateful sessions survive kill-and-restart exactly-once") {
    // recovery is the streaming claim a production operator actually
    // relies on: the stateful (session-window) query is KILLED between
    // batches and restarted from its checkpoint on the RocksDB state
    // store, and its total output must be multiset-identical to an
    // uninterrupted control run over the same data with the same batch
    // boundaries — no dropped sessions (state loss), no repeated ones
    // (sink replay).
    implicit val s: SparkSession = spark
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    graft.streaming.Streaming.withRocksDBState(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_rec").toString
    try {
      val ev = graft.core.Tables.events(spark, dir)
      def land(src: String, half: Int): Unit = ev
        .filter($"event_id" % 2 === half)
        .coalesce(1).write.mode("append").parquet(src)
      def start(src: String, out: String, chk: String) =
        graft.streaming.Streaming.userSessions(
            spark.readStream.schema(graft.streaming.Streaming.eventsSchema)
              .parquet(src))
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", chk).start()
      // control: ONE query instance sees both halves as two batches
      new java.io.File(s"$base/srcC").mkdirs()
      land(s"$base/srcC", 0)
      val qc = start(s"$base/srcC", s"$base/outC", s"$base/chkC")
      qc.processAllAvailable()
      land(s"$base/srcC", 1)
      qc.processAllAvailable()
      qc.stop()
      // interrupted: same data, same batch boundary, killed in between
      new java.io.File(s"$base/srcI").mkdirs()
      land(s"$base/srcI", 0)
      val q1 = start(s"$base/srcI", s"$base/outI", s"$base/chkI")
      q1.processAllAvailable(); q1.stop()
      land(s"$base/srcI", 1)
      val q2 = start(s"$base/srcI", s"$base/outI", s"$base/chkI")
      q2.processAllAvailable(); q2.stop()
      // compare (start, end, user, n_events) exactly; the double sum at
      // 4dp (reduce order may differ between physical runs)
      def rows(out: String) = spark.read.parquet(out)
        .select($"session_start", $"session_end", $"user_id", $"n_events",
          round($"session_value", 4))
        .collect().map(_.toSeq).toSeq
      val ctl = rows(s"$base/outC")
      val rec = rows(s"$base/outI")
      assert(ctl.nonEmpty, "control emitted nothing — fixture too small")
      val ctlM = ctl.groupBy(identity).view.mapValues(_.size).toMap
      val recM = rec.groupBy(identity).view.mapValues(_.size).toMap
      assert(recM == ctlM,
        s"recovered output != control: missing=${(ctlM.keySet -- recM.keySet).take(3)} " +
          s"extra=${(recM.keySet -- ctlM.keySet).take(3)}")
      // and exactly-once on its own terms: a (user, session_start) key
      // appears once
      assert(rec.map(r => (r(0), r(2))).distinct.size == rec.size)
    } finally {
      prev.fold(spark.conf.unset(key))(p => spark.conf.set(key, p))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("streaming: windowed HLL sketches union into the cross-window distinct") {
    implicit val s: SparkSession = spark
    val src = graft.streaming.Streaming.readEvents(spark, eventsStreamDir)
    val out = graft.streaming.Streaming.runToMemory(
      graft.streaming.Streaming.windowedUserSketches(src), "t_sketch")
    val rows = out.select($"ws", $"approx_users").collect()
    assert(rows.nonEmpty, "watermark should close at least one window")
    val emitted = rows.map(_.getTimestamp(0)).toSet
    val batch = graft.core.Tables.events(spark, dir)
      .select(window($"ts", "5 minutes")("start").as("ws"), $"user_id")
      .filter($"ws".isInCollection(emitted))
    // per-window estimates agree with exact per-window distincts
    val exactPerW = batch.groupBy($"ws").agg(countDistinct($"user_id").as("d"))
      .as[(java.sql.Timestamp, Long)].collect().toMap
    rows.foreach { r =>
      val exact = exactPerW(r.getTimestamp(0))
      assert(math.abs(r.getLong(1) - exact) <= math.max(1L, exact / 20),
        s"window ${r.getTimestamp(0)}: approx=${r.getLong(1)} exact=$exact")
    }
    // the persisted sketch states union into the CROSS-window distinct
    // (which per-window counts cannot give — users repeat across windows)
    val merged = out.select(graft.sketches.Sketches.hllUnion($"user_sketch"))
      .as[Long].head()
    val exactAll = batch.select(countDistinct($"user_id")).as[Long].head()
    val sumPerW = exactPerW.values.sum
    assert(sumPerW > exactAll, "fixture: users must repeat across windows")
    assert(math.abs(merged - exactAll) <= math.max(1L, exactAll / 50),
      s"merged=$merged exactAll=$exactAll")
  }

  test("streaming: session windows produce plausible sessions") {
    implicit val s: SparkSession = spark
    val src = graft.streaming.Streaming.readEvents(spark, eventsStreamDir)
    val out = graft.streaming.Streaming.runToMemory(
      graft.streaming.Streaming.userSessions(src), "t_sess")
    assert(out.count() > 0)
    assert(out.filter($"session_end" < $"session_start").count() == 0)
  }

  test("streaming: dropDuplicatesWithinWatermark dedups a doubled stream") {
    implicit val s: SparkSession = spark
    val src = graft.streaming.Streaming.readEvents(spark, eventsStreamDir)
    val out = graft.streaming.Streaming.runToMemory(
      graft.streaming.Streaming.dedupedEvents(
        src.union(src)), "t_dedup")
    val n = graft.core.Tables.events(spark, dir).count()
    assert(out.count() == n, s"expected $n deduped events")
  }

  test("streaming: keyed dedup emits exactly the batch-face key set") {
    implicit val s: SparkSession = spark
    val src = graft.streaming.Streaming.readEvents(spark, eventsStreamDir)
    val out = graft.streaming.Streaming.runToMemory(
      graft.streaming.Streaming.dedupedByKey(src.union(src)), "t_keydedup")
    val batchKeys = graft.queries.EventQueries.queries("st_dedup")(spark, dir)
      .select($"user_id", $"event_type").as[(Long, String)].collect().toSet
    val streamKeys = out.select($"user_id", $"event_type")
      .as[(Long, String)].collect()
    assert(streamKeys.length == streamKeys.toSet.size, "duplicate keys emitted")
    assert(streamKeys.toSet == batchKeys, "streamed key set != batch face")
  }

  test("streaming: stream-stream interval join matches the batch join") {
    implicit val s: SparkSession = spark
    val streamed = graft.streaming.Streaming.runToMemory(
      graft.streaming.Streaming.purchaseAttribution(
        graft.streaming.Streaming.readEvents(spark, eventsStreamDir)),
      "attribution")
    val batch = graft.streaming.Streaming.purchaseAttribution(
      graft.core.Tables.events(spark, dir))
    assert(streamed.count() == batch.count() && batch.count() > 0)
  }

  test("streaming: flatMapGroupsWithState alerting emits on threshold crossings") {
    implicit val s: SparkSession = spark
    val alerts = graft.streaming.Streaming.valueAlerts(
      graft.streaming.Streaming.readEvents(spark, eventsStreamDir), step = 100.0)
    val got = graft.streaming.Streaming.runToMemory(alerts.toDF(), "alerts")
    // batch replica of the same state machine
    val byUser = graft.core.Tables.events(spark, dir)
      .select($"user_id".as[Long], $"value".as[Double], $"ts".cast("long").as[Long])
      .collect().sortBy(_._3).groupBy(_._1)
    var expected = 0L
    byUser.foreach { case (_, rows) =>
      var total = 0.0
      rows.sortBy(_._3).foreach { r =>
        val before = (total / 100.0).toLong; total += r._2
        if ((total / 100.0).toLong > before) expected += 1
      }
    }
    assert(got.count() == expected && expected > 0,
      s"alerts=${got.count()} expected=$expected")
  }

  test("salted ragged build is bit-identical to the direct collect_list") {
    val li = graft.core.Tables.lineitem(spark, dir)
    val direct = graft.core.Tables.ordersNested(spark, dir)
    val vstruct = struct($"l_linenumber".as("linenumber"),
      $"l_quantity".as("quantity"), $"l_extendedprice".as("extendedprice"),
      $"l_discount".as("discount"), $"l_returnflag".as("returnflag"))
    val salted = graft.core.Skew.saltedCollectSortedList(
      li.withColumn("o_orderkey", $"l_orderkey"), "o_orderkey",
      vstruct, "items", salts = 7, saltCols = Seq($"l_linenumber"))
    assert(salted.count() == direct.count())
    val diff = direct.join(salted.withColumnRenamed("items", "items2"),
        "o_orderkey")
      .filter($"items" =!= $"items2").count()
    assert(diff == 0, s"$diff orders differ between salted and direct build")
  }

  test("Tables plan cache is per-session (advisor finding)") {
    // a second session in the same JVM must get its own plans, not the
    // first session's cached ones
    val s2 = spark.newSession()
    val a = graft.core.Tables.orders(spark, "/root/testdata/sf0.001")
    val b = graft.core.Tables.orders(s2, "/root/testdata/sf0.001")
    assert(a.sparkSession eq spark)
    assert(b.sparkSession eq s2)
    assert(b.count() == a.count())
  }

  test("inspect: necessaryColumns reports the pruned scan schema") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val q = li.filter($"l_quantity" > 10).select($"l_orderkey")
    val nc = graft.inspect.Inspect.necessaryColumns(q)
    assert(nc.size == 1)
    val cols = nc.values.head.toSet
    assert(cols == Set("l_orderkey", "l_quantity"),
      s"scan should read exactly the needed columns, got $cols")
  }

  test("json column projection reaches the scan's requiredSchema (flat + nested)") {
    // the reference pins its crown-jewel projection on JSON explicitly
    // (tests/test_io_json.py:106-140 test_json_column_projection1/2);
    // this is the Spark-side equivalent: untouched fields must be absent
    // from the JSON scan's requiredSchema (never tokenized), and the
    // pruned read must still produce the full-read values
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsproj").toString
    graft.core.Tables.documents(spark, dir)
      .select($"doc_id",
        struct($"lang", $"n_chars", $"text").as("meta"))
      .write.mode("overwrite").json(tmp)
    val ddl = "doc_id BIGINT, meta STRUCT<lang: STRING, n_chars: BIGINT, text: STRING>"
    val sch = org.apache.spark.sql.types.StructType.fromDDL(ddl)

    // flat: a top-level projection prunes natively through Catalyst
    val flat = graft.io.GraftIO.fromJson(spark, tmp, Some(sch))
      .select($"doc_id")
    val ncf = graft.inspect.Inspect.necessaryColumns(flat).values.head.toSet
    assert(ncf == Set("doc_id"),
      s"flat JSON projection should read exactly doc_id, got $ncf")

    // nested: fromJsonProjected prunes INSIDE the record — the text
    // sibling must vanish from the scan schema
    val proj = graft.io.GraftIO.fromJsonProjected(spark, tmp,
      Seq("meta.lang", "meta.n_chars"), Some(sch))
    val ncp = graft.inspect.Inspect.necessaryColumns(proj).values.head.mkString(";")
    assert(ncp.contains("meta.lang") && ncp.contains("meta.n_chars") &&
      !ncp.contains("text") && !ncp.contains("doc_id"),
      s"nested JSON projection should read exactly the two meta leaves, got $ncp")

    // and the pruned read recovers the full-read values
    val a = proj.groupBy($"meta.lang".as("lang"))
      .agg(sum($"meta.n_chars").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = graft.io.GraftIO.fromJson(spark, tmp, Some(sch))
      .groupBy($"meta.lang".as("lang"))
      .agg(sum($"meta.n_chars").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b, s"pruned read changed the answer: $a vs $b")
  }

  test("inspect: nested-field pruning reaches the scan (SchemaPruning)") {
    import graft.reducers.sumList
    // write a nested file, then project one leaf — scan must prune to it
    val tmp = java.nio.file.Files.createTempDirectory("graft_nested").toString
    graft.core.Tables.ordersNested(spark, dir).write
      .mode("overwrite").parquet(tmp)
    val nested = spark.read.parquet(tmp)

    // direct nested access (GetArrayStructFields) prunes natively
    val direct = nested.select($"items.quantity")
    val ncd = graft.inspect.Inspect.necessaryColumns(direct).values.head.mkString(";")
    assert(ncd.contains("quantity") && !ncd.contains("extendedprice"),
      s"native nested pruning failed: $ncd")

    // HOF lambdas defeat SchemaPruning (known Catalyst limitation) — our
    // TransformFieldPruning optimizer rule rewrites the single-field case
    // to GetArrayStructFields, restoring native pruning
    val hof = nested.select(sumList(
      transform($"items", _.getField("quantity"))).as("s"))
    val nch = graft.inspect.Inspect.necessaryColumns(hof).values.head.mkString(";")
    assert(nch.contains("quantity") && !nch.contains("extendedprice"),
      s"TransformFieldPruning rule failed to restore pruning: $nch")

    val projected = graft.io.GraftIO.fromParquetProjected(spark, tmp,
      Seq("o_orderkey", "items.quantity"))
    val q2 = projected.select(sumList(
      transform($"items", _.getField("quantity"))).as("s"))
    val ncp = graft.inspect.Inspect.necessaryColumns(q2).values.head.mkString(";")
    assert(ncp.contains("quantity") && !ncp.contains("extendedprice"),
      s"projected read failed to prune: $ncp")
    // and the values still come out right
    val a = q2.as[Double].head
    val b = hof.as[Double].head
    assert(a == b)
  }

  test("LambdaFieldPruning: multi-field/aggregate/exists lambdas prune the scan") {
    // the general rule: lambda bodies that USE the element variable only
    // through field accesses get their array input narrowed to an
    // arrays_zip of the touched leaves — SchemaPruning then prunes the
    // parquet scan even though the access sits inside a HOF lambda
    val tmp = java.nio.file.Files.createTempDirectory("graft_lfp").toString
    graft.core.Tables.ordersNested(spark, dir).write
      .mode("overwrite").parquet(tmp)
    val nested = spark.read.parquet(tmp)
    def leaves(df: org.apache.spark.sql.DataFrame): String =
      graft.inspect.Inspect.necessaryColumns(df).values.head.mkString(";")

    // multi-field transform: quantity * (1 - discount), string leaf unused
    val multi = nested.select(graft.reducers.sumList(transform($"items",
      x => x.getField("quantity") * (lit(1.0) - x.getField("discount")))).as("s"))
    val ncm = leaves(multi)
    assert(ncm.contains("quantity") && ncm.contains("discount") &&
      !ncm.contains("returnflag") && !ncm.contains("extendedprice"),
      s"multi-field lambda not pruned: $ncm")

    // aggregate: element var is the merge lambda's SECOND argument
    val agg = nested.select(aggregate($"items", lit(0.0),
      (acc, x) => acc + x.getField("quantity")).as("s"))
    val nca = leaves(agg)
    assert(nca.contains("quantity") && !nca.contains("extendedprice"),
      s"aggregate lambda not pruned: $nca")

    // exists / forall return booleans — input prunable
    val ex = nested.select(exists($"items", x => x.getField("quantity") > 30).as("e"))
    assert(!leaves(ex).contains("returnflag"), s"exists not pruned: ${leaves(ex)}")
    val fa = nested.select(forall($"items", x => x.getField("discount") < 1.0).as("f"))
    assert(!leaves(fa).contains("returnflag"), s"forall not pruned: ${leaves(fa)}")

    // whole-element use DISQUALIFIES the rewrite (x itself escapes):
    // results must stay correct and the scan keeps the full struct
    val whole = nested.select(size(filter($"items", x => x.isNotNull)).as("n"))
    assert(leaves(whole).contains("returnflag"), "filter output needs all fields")

    // values are unchanged by the rewrite (vs the explode spelling), and
    // null ELEMENTS keep the per-field null semantics
    val viaExplode = nested.select($"o_orderkey", explode($"items").as("it"))
      .groupBy($"o_orderkey")
      .agg(sum($"it.quantity" * (lit(1.0) - $"it.discount")).as("s"))
      .agg(round(sum($"s"), 2)).as[Double].head
    val viaLambda = nested.groupBy($"o_orderkey")
      .agg(first(graft.reducers.sumList(transform($"items",
        x => x.getField("quantity") * (lit(1.0) - x.getField("discount"))))).as("s"))
      .agg(round(sum($"s"), 2)).as[Double].head
    assert(math.abs(viaExplode - viaLambda) < 1e-6, s"$viaExplode vs $viaLambda")
    val nullElems = Seq((1L, Seq[Integer](1, null, 3))).toDF("id", "xs")
      .select($"id", transform($"xs",
        i => struct(i.as("a"), (i * 2).as("b"), lit("z").as("c"))).as("items"))
      .select(transform($"items", x => x.getField("a") + x.getField("b")).as("r"))
      .as[Seq[Option[Long]]].head
    assert(nullElems == Seq(Some(3L), None, Some(9L)), nullElems.toString)
    // a genuinely NULL struct element: pre-rewrite, x.a on a null struct
    // is null; post-rewrite the zipped element is struct(null, null) and
    // each field access is null — same observable value
    val nullStruct = spark.sql(
      "SELECT transform(array(named_struct('a', 1, 'b', 2, 'c', 'z'), " +
        "CAST(NULL AS struct<a:int,b:int,c:string>)), x -> x.a + x.b) AS r")
      .as[Seq[Option[Int]]].head
    assert(nullStruct == Seq(Some(3), None), nullStruct.toString)
  }

  test("Inspect.profile: exact per-column stats in one scan; approx sane") {
    val df = Seq(
      (1L, Some("x"), Some(1.5)), (2L, Some("y"), None),
      (3L, None, Some(2.5)), (4L, Some("x"), Some(2.5)))
      .toDF("id", "s", "v")
    val p = graft.inspect.Inspect.profile(df)
      .as[(String, String, Long, Long, Long, String, String)]
      .collect().map(r => r._1 -> r).toMap
    assert(p("id") == (("id", "bigint", 4L, 0L, 4L, "1", "4")))
    assert(p("s") == (("s", "string", 4L, 1L, 2L, "x", "y")))
    val v = p("v")
    assert(v._2 == "double" && v._3 == 4L && v._4 == 1L && v._5 == 2L &&
      v._6.toDouble == 1.5 && v._7.toDouble == 2.5)
    // the report is ONE scan of the data (Expand shares it)
    assert(graft.inspect.Inspect.explainSummary(
      graft.inspect.Inspect.profile(df)).scans <= 1)
    // HLL path: same frame shape, distinct counts within HLL tolerance
    val a = graft.inspect.Inspect.profile(df, approxDistinct = true)
      .as[(String, String, Long, Long, Long, String, String)]
      .collect().map(r => r._1 -> r._5).toMap
    assert(a.values.forall(n => n >= 1 && n <= 6), a.toString)
  }

  test("bigramLogProb: hand-computed stupid backoff, all three term paths") {
    // train "a b a b c": unigrams a:2 b:2 c:1 (N=5); bigrams "a b":2,
    // "b a":1, "b c":1. Test "a b x c" exercises every path:
    //   "a b" seen        -> c2/c1(a)   = 2/2
    //   "b x" w2 unseen   -> 0.4/N      = 0.08
    //   "x c" backoff     -> 0.4*c1(c)/N = 0.08
    val train = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    val test0 = Seq((7L, "a b x c"), (8L, "solo")).toDF("doc_id", "text")
    val got = graft.text.bigramLogProb(train, test0, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def q(x: Double) = math.floor(math.log(x) * (1L << 20)).toLong
    val sq = q(2.0 / 2.0) + q(0.4 / 5.0) + q(0.4 * 1.0 / 5.0)
    val want = sq.toDouble / (1L << 20) / 3
    assert(got.size == 1, s"single-token doc must produce no row: $got")
    val (n, lp) = got(7L)
    assert(n == 3L && lp == want, s"($n, $lp) vs (3, $want)")
  }

  test("kneserNeyDocScore: hand-computed interpolated KN probabilities") {
    // corpus bigrams: "a b" x3 (doc1 twice + doc2), "b a" x1 (doc1);
    // types = 2; lhs a: c1=3 n1p=1, b: c1=1 n1p=1; cont a: 1, b: 1
    //   P(b|a) = (3-.75)/3 + (.75*1/3)*(1/2) = 0.875
    //   P(a|b) = (1-.75)/1 + (.75*1/1)*(1/2) = 0.625
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = graft.text.kneserNeyDocScore(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def q(x: Double) = math.floor(math.log(x) * (1L << 20)).toLong
    assert(got.size == 2, s"single-token doc must produce no row: $got")
    assert(got(1L) == ((3L, 2 * q(0.875) + q(0.625))))
    assert(got(2L) == ((1L, q(0.875))))
  }

  test("temperatureMixture: alpha=1 is identity, alpha<1 upsamples minority") {
    val docs = graft.core.Tables.documents(spark, dir)
    // alpha = 1: q == p, repeat == budget == 1 -> every doc exactly once
    val id = graft.text.temperatureMixture(docs, "lang", 1.0)
    assert(id.select($"repeat1e4").as[Long].collect().forall(_ == 10000L))
    val applied1 = graft.text.applyMixture(docs, col("text"), "lang", id)
    assert(applied1.filter($"copies" =!= 1L).count() == 0)
    // alpha = 0.5: the majority class (en) downsamples below 1, the
    // minorities upsample above 1, and the expected post-mix total stays
    // within the 1e-4 quantization of the original corpus size
    val mix = graft.text.temperatureMixture(docs, "lang", 0.5)
    val m = mix.select($"source", $"n", $"repeat", $"repeat1e4")
      .as[(String, Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(m("en")._3 < 1.0 && m.filterKeys(_ != "en").values.forall(_._3 > 1.0))
    val total = docs.count()
    val expected = m.values.map(r => r._2 * r._3).sum
    assert(math.abs(expected - total) < 1.0, s"$expected vs $total")
    // deterministic application: exact repeat twice, and per-lang mixed
    // counts land within hash noise of n * repeat
    val a = graft.text.applyMixture(docs, col("text"), "lang", mix)
    val b = graft.text.applyMixture(docs, col("text"), "lang", mix)
    assert(a.groupBy($"lang").agg(sum($"copies")).collect().toSet ==
      b.groupBy($"lang").agg(sum($"copies")).collect().toSet)
    val mixed = a.groupBy($"lang").agg(sum($"copies").as("s"))
      .as[(String, Long)].collect().toMap
    m.foreach { case (lang, (_, n, r, _)) =>
      val exp = n * r
      assert(math.abs(mixed(lang) - exp) <= math.max(4.0, 0.35 * math.sqrt(n) * 3),
        s"$lang: ${mixed(lang)} vs expected $exp")
    }
    // budget doubles the expected post-mix size
    val m2 = graft.text.temperatureMixture(docs, "lang", 0.5, budget = 2.0)
    val exp2 = m2.select($"n", $"repeat").as[(Long, Double)].collect()
      .map(r => r._1 * r._2).sum
    assert(math.abs(exp2 - 2.0 * total) < 1.0)
  }

  test("naiveBayesClassify: separable corpus exact, priors break unseen docs") {
    // three classes with disjoint vocabularies and EQUAL per-class token
    // totals (12 each — the smoothing denominator t_c + V must match or
    // the unseen-token likelihood 1/(t_c+V) favors smaller classes, by
    // design): every doc classifies back to its label; a doc of ONLY
    // unseen tokens then gets identical token terms, so the PRIOR
    // decides (class b has the most docs), with the label-asc tie rule
    // exercised between the two equal-prior classes a and c
    val train = (
      (1 to 4).map(i => (i.toLong, "alpha beta filler", "a")) ++
      (11 to 16).map(i => (i.toLong, "gamma delta", "b")) ++
      (21 to 24).map(i => (i.toLong, "epsilon zeta filler", "c"))
    ).toDF("doc_id", "text", "lang")
    val self = graft.text.naiveBayesClassify(train, train,
        "doc_id", "text", "lang")
      .as[(Long, String)].collect().toMap
    assert(self.size == 14)
    train.as[(Long, String, String)].collect().foreach { case (id, _, y) =>
      assert(self(id) == y, s"doc $id: ${self(id)} != $y")
    }
    val unseen = Seq((99L, "omega psi")).toDF("doc_id", "text")
    val p = graft.text.naiveBayesClassify(train, unseen,
      "doc_id", "text", "lang").as[(Long, String)].head()
    assert(p == (99L, "b"), s"prior should pick the majority class: $p")
    // whitespace-only text carries ONE empty token (the text family's
    // nt >= 1 split convention) — unseen, so the prior decides again;
    // null text explodes to nothing and produces no row
    val edge = Seq((100L, Some("   ")), (101L, None))
      .toDF("doc_id", "text")
    val ep = graft.text.naiveBayesClassify(train, edge,
      "doc_id", "text", "lang").as[(Long, String)].collect().toSeq
    assert(ep == Seq((100L, "b")), ep.toString)
  }

  test("inspect: necessaryBuffers separates shape-only from data touches") {
    // reference report_necessary_buffers (lib/inspect.py:21-115): ak.num
    // touches only the offsets buffer. Spark spelling: size(items).
    val tmp = java.nio.file.Files.createTempDirectory("graft_bufrep").toString
    graft.core.Tables.ordersNested(spark, dir).write
      .mode("overwrite").parquet(tmp)
    val nested = spark.read.parquet(tmp)

    // size-only consumption: items is shape-only, o_orderkey is data
    val q1 = nested.select($"o_orderkey", size($"items").as("n_items"))
    val nb1 = graft.inspect.Inspect.necessaryBuffers(q1).values.head
    assert(nb1.shapeOnly == Set("items"), nb1.toString)
    assert(nb1.dataAndShape == Set("o_orderkey"), nb1.toString)

    // value consumption anywhere promotes to data-and-shape
    val q2 = nested.select(size($"items").as("n"), $"items")
    val nb2 = graft.inspect.Inspect.necessaryBuffers(q2).values.head
    assert(nb2.dataAndShape.contains("items") && nb2.shapeOnly.isEmpty,
      nb2.toString)

    // a filter on size() only is still shape-only
    val q3 = nested.filter(size($"items") > 2).select($"o_orderkey")
    val nb3 = graft.inspect.Inspect.necessaryBuffers(q3).values.head
    assert(nb3.shapeOnly == Set("items") &&
      nb3.dataAndShape == Set("o_orderkey"), nb3.toString)
  }

  test("inspect: pushedFilters shows predicate pushdown") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val pf = graft.inspect.Inspect.pushedFilters(
      li.filter($"l_quantity" > 10).select($"l_orderkey"))
    assert(pf.values.head.exists(_.contains("l_quantity")))
  }

  test("behaviors: Point mixin methods dispatch over structs and lists") {
    import graft.behaviors.Behaviors._
    val df = pointsDf // array<struct<x,y>> rows
    // get() is null-safe on the empty-list row (ANSI element_at would throw)
    val firstMag = df.select(
      new PointColumnOps(get($"points", lit(0))).mag.as("m"))
      .as[Option[Double]].collect().toSeq
    assert(math.abs(firstMag.head.get - math.sqrt(49 + 4)) < 1e-12)
    val mags = df.select(new PointListOps($"points").mags.as("ms"))
      .as[Seq[Double]].collect()
    assert(mags(0).size == 3 && mags(1).isEmpty)
    val named = df.withRecordName("points", "Point")
    assert(named.recordName("points").contains("Point"))
    assert(df.recordName("points").isEmpty)
    // parameters ride the same metadata channel; dropping params drops all
    val tagged = named.withParameter("points", "unit", "cm")
    assert(tagged.parameter("points", "unit").contains("cm"))
    assert(tagged.recordName("points").contains("Point"))
    val bare = tagged.withoutParameters("points")
    assert(bare.parameter("points", "unit").isEmpty &&
      bare.recordName("points").isEmpty)
  }

  test("io: text + json + report reads") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_io").toString
    // to_json -> from_json round trip with schema
    val d = graft.core.Tables.documents(spark, dir).select($"doc_id", $"lang")
    graft.io.GraftIO.toJson(d, s"$tmp/js")
    val back = graft.io.GraftIO.fromJson(spark, s"$tmp/js",
      Some(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, lang STRING")))
    assert(back.count() == d.count())
    // from_text
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/t.txt"), "a\nb\nc\n")
    assert(graft.io.GraftIO.fromText(spark, s"$tmp/t.txt").count() == 3)
    // one-object-per-file json (multiLine)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/obj.json"),
      "{\n  \"doc_id\": 1,\n  \"lang\": \"en\"\n}")
    val one = graft.io.GraftIO.fromJson(spark, s"$tmp/obj.json",
      lineDelimited = false)
    assert(one.count() == 1 && one.columns.toSet == Set("doc_id", "lang"))
    // report read: one good file, one missing
    val (data, report) = graft.io.GraftIO.fromParquetWithReport(spark,
      Seq(s"$dir/region.parquet", s"$tmp/missing.parquet"))
    assert(data.count() == 5)
    val st = report.select($"status").as[String].collect().sorted.toSeq
    assert(st == Seq("error", "ok"))
  }

  test("io: fromMap generic source + per-input report") {
    val ds = graft.io.GraftIO.fromMap(spark, Seq(1, 2, 3)) { i =>
      (0 until i).iterator.map(j => (i, j))
    }
    assert(ds.rdd.getNumPartitions == 3)
    assert(ds.count() == 6)
    val (data, report) = graft.io.GraftIO.fromMapWithReport(
      spark, Seq(2, -1)) { i =>
      if (i < 0) throw new IllegalArgumentException("bad input")
      (0 until i).iterator.map(j => (i, j))
    }
    assert(data.count() == 2)
    val st = report.orderBy($"input").select($"status").as[String].collect()
    assert(st(1) == "ok" && st(0).startsWith("error"))
  }

  test("io: report read survives a CORRUPT file; contrast with ignoreCorruptFiles") {
    // the io_report fixture class (r11 verdict Next #3): a truncated/
    // garbage parquet file among good ones. The report face must (a)
    // keep every good file's rows bit-exact, (b) carry an explicit
    // per-file error row — against Spark's ignoreCorruptFiles, which
    // yields the same surviving data but SILENTLY (no record that
    // anything was skipped; at 100 TB that silence is data loss with
    // no audit trail).
    val tmp = graft.io.GraftIO.scratchDir("graft_report_spec")
    val src = spark.range(100).selectExpr("id", "id * 7 AS v")
    val paths = (0 to 2).map(i => s"$tmp/f$i")
    (0 to 2).foreach { i =>
      src.filter($"id" % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(paths(i))
    }
    new java.io.File(paths(1)).listFiles()
      .filter(_.getName.startsWith("part-"))
      .foreach { f => java.nio.file.Files.write(f.toPath,
        "garbage, not parquet".getBytes("UTF-8")): Unit }
    val (data, report) = graft.io.GraftIO.fromParquetWithReport(spark, paths)
    // good files' data survives exactly: ids with id%3 in {0,2}
    val got = data.select($"id").as[Long].collect().sorted.toSeq
    val want = (0L until 100L).filter(i => i % 3 != 1)
    assert(got == want, "good files' rows must survive the bad file intact")
    val rows = report.orderBy($"path").collect()
    assert(rows.map(_.getAs[String]("status")).toSeq == Seq("ok", "error", "ok"))
    assert(rows(1).getAs[Long]("rows") == 0L &&
      rows(1).getAs[String]("error").nonEmpty,
      "the corrupt file must report an explicit error record")
    // the ignoreCorruptFiles contrast: same surviving data, no report
    val silent = spark.read
      .option("ignoreCorruptFiles", "true").parquet(paths: _*)
      .select($"id").as[Long].collect().sorted.toSeq
    assert(silent == want,
      "ignoreCorruptFiles drops the same file — but records nothing")
  }

  test("extensions: kernels are callable from pure SQL") {
    val r = spark.sql(
      """SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
                graft_word_ngrams(array('a','b','c'), 2) AS g,
                graft_simhash48(array('hello')) AS s,
                size(graft_minhash(array('a b'), 8)) AS k,
                graft_combinations(array(1, 2, 3), 2) AS combos,
                graft_polyhash('ab') AS ph,
                size(graft_winnow(array('a','b','c','d','e','f'), 2, 4)) AS nw,
                size(graft_minhash_poly(array('a b'), 8)) AS kp""").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getSeq[String](1) == Seq("a b", "b c"))
    assert(r.getLong(2) != 0L)
    assert(r.getInt(3) == 8)
    assert(r.getSeq[Seq[Int]](4).size == 3)
    assert(r.getLong(5) == (97L * 131 + 98) % 1000000007L) // 'a','b'
    assert(r.getInt(6) >= 1)
    assert(r.getInt(7) == 8)
  }

  test("sources: DSv2 synthetic events — partitions, determinism, pruning") {
    def read = spark.read.format("graft.sources.EventsSource")
      .option("rows", "10000").option("partitions", "8").load()
    assert(read.count() == 10000)
    assert(read.rdd.getNumPartitions == 8)
    // deterministic: two reads agree
    val s1 = read.agg(sum($"value")).as[Double].head
    val s2 = read.agg(sum($"value")).as[Double].head
    assert(s1 == s2 && s1 > 0)
    // column pruning reaches the scan: BatchScan output is only user_id
    val plan = read.select($"user_id").queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("BatchScan")).get
    assert(scanLine.contains("user_id") && !scanLine.contains("event_type"),
      scanLine)
    assert(read.select($"user_id").distinct().count() <= 1000)
  }

  test("sources: DSv2 aggregate pushdown — closed-form over 10^12 rows") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scanClass(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.scan.getClass.getSimpleName }.getOrElse("?")
    // a trillion-row synthetic table: only a closed-form evaluation can
    // answer these inside a test budget — the pushed scan generates ZERO
    // event rows
    val big = spark.read.format("graft.sources.EventsSource")
      .option("rows", "1000000000000").option("partitions", "32").load()
    val a = big.agg(count(lit(1)).as("n"), min($"event_id").as("mn"),
      max($"event_id").as("mx"), min($"ts").as("t0"), max($"ts").as("t1"))
    assert(scanClass(a) == "EventsAggScan", a.queryExecution.executedPlan)
    val r = a.head()
    assert(r.getLong(0) == 1000000000000L)
    assert(r.getLong(1) == 0L && r.getLong(2) == 999999999999L)
    assert(r.getTimestamp(3).getTime == 1767225600000L) // 2026-01-01T00:00Z
    assert(big.count() == 1000000000000L) // Dataset.count rides the same path
    // filters compose: the pushed id-range narrows the closed forms
    val f = big.filter($"event_id" >= 250 && $"event_id" < 1000000)
      .agg(count(lit(1)), min($"event_id"), max($"event_id"))
    assert(scanClass(f) == "EventsAggScan")
    assert(f.head() == org.apache.spark.sql.Row(999750L, 250L, 999999L))
    // empty range: count 0, null min/max — the SQL contract
    val e = big.filter($"event_id" < 0)
      .agg(count(lit(1)), min($"event_id")).head()
    assert(e.getLong(0) == 0L && e.isNullAt(1))
    // hash-mixed columns have no closed form: DECLINED, real scan, and
    // the values still come out right (correctness-preserving fallback)
    val small = spark.read.format("graft.sources.EventsSource")
      .option("rows", "1000").option("partitions", "4").load()
    val d = small.agg(min($"user_id").as("mn"), count(lit(1)).as("n"))
    assert(scanClass(d) != "EventsAggScan")
    assert(d.head().getLong(1) == 1000L)
  }

  test("sources: DSv2 filter + limit pushdown — partition pruning, exact truncation") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val small = spark.read.format("graft.sources.EventsSource")
      .option("rows", "1000").option("partitions", "4").load()
    // range filter narrows generation BEFORE partition planning: the
    // [990, 1000) slice fits one partition (unpushed: 4 x 250 rows)
    val sel = small.filter($"event_id" >= 990)
    val parts = sel.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.inputRDD.getNumPartitions }.get
    assert(parts == 1, s"expected 1 planned partition, got $parts")
    assert(sel.select($"event_id").as[Long].collect().sorted.toSeq ==
      (990L to 999L))
    // equality is a 1-row range, residual predicates stay post-scan
    assert(small.filter($"event_id" === 123 && $"user_id" >= 0)
      .select($"event_id").as[Long].collect().toSeq == Seq(123L))
    // pushed LIMIT truncates a trillion-row table to exactly k generated
    // rows (ordered deterministic generation => ids 0..k-1)
    val big = spark.read.format("graft.sources.EventsSource")
      .option("rows", "1000000000000").option("partitions", "32").load()
    assert(big.limit(7).select($"event_id").as[Long].collect().sorted.toSeq ==
      (0L to 6L))
    // filter + limit compose on the id interval
    assert(big.filter($"event_id" >= 500).limit(3)
      .select($"event_id").as[Long].collect().sorted.toSeq ==
      (500L to 502L))
  }

  test("sources: DSv2 ts-range pushdown — time predicates become exact id bounds") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scanClass(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.scan.getClass.getSimpleName }.getOrElse("?")
    val big = spark.read.format("graft.sources.EventsSource")
      .option("rows", "1000000000000").option("partitions", "32").load()
    // one event per second from 2026-01-01T00:00Z: [00:05:00, 00:06:00)
    // is exactly ids [300, 360) — counted in closed form, zero rows
    val a = big.filter($"ts" >= "2026-01-01 00:05:00" &&
        $"ts" < "2026-01-01 00:06:00")
      .agg(count(lit(1)), min($"event_id"), max($"ts"))
    assert(scanClass(a) == "EventsAggScan", a.queryExecution.executedPlan)
    val r = a.head()
    assert(r.getLong(0) == 60L && r.getLong(1) == 300L)
    assert(r.getTimestamp(2).getTime == 1767225600000L + 359 * 1000L)
    // sub-second constants round INWARD exactly (no tick between them)
    assert(big.filter($"ts" > "2026-01-01 00:00:00.2" &&
        $"ts" < "2026-01-01 00:00:00.9")
      .agg(count(lit(1))).head().getLong(0) == 0L)
    // equality between ticks is an empty range, on a tick a 1-row range
    assert(big.filter($"ts" === "2026-01-01 00:00:07")
      .select($"event_id").as[Long].collect().toSeq == Seq(7L))
    assert(big.filter($"ts" === "2026-01-01 00:00:07.5").count() == 0L)
    // generated values agree with the pushed bounds (cross-check on a
    // small table against the unpushed predicate evaluation)
    val small = spark.read.format("graft.sources.EventsSource")
      .option("rows", "1000").option("partitions", "4").load()
    val pushed = small.filter($"ts" >= "2026-01-01 00:10:00")
      .select($"event_id").as[Long].collect().sorted.toSeq
    assert(pushed == (600L to 999L))
  }

  test("sources: DSv2 micro-batch stream — rate-chunked deterministic replay") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val stream = spark.readStream.format("graft.sources.EventsSource")
      .option("rows", "100").option("partitions", "3")
      .option("ratePerBatch", "30").load()
    val got = graft.streaming.Streaming
      .runToMemory(stream.select($"event_id", $"user_id"), "dsv2_stream")
      .select($"event_id").as[Long].collect().sorted.toSeq
    // the finite id space drains completely, each id exactly once, in
    // ceil(100/30) = 4 micro-batches; values are the same splitmix64
    // stream the batch scan generates
    assert(got == (0L to 99L))
    val batchUsers = spark.read.format("graft.sources.EventsSource")
      .option("rows", "100").load()
      .select($"event_id", $"user_id").as[(Long, Long)].collect().toMap
    val streamUsers = spark.table("dsv2_stream")
      .as[(Long, Long)].collect().toMap
    assert(streamUsers == batchUsers)
  }

  test("sources: DSv2 stream checkpoint restart — no gaps, no replays") {
    val base = java.nio.file.Files.createTempDirectory("dsv2_restart")
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    def stream = spark.readStream.format("graft.sources.EventsSource")
      .option("rows", "100").option("partitions", "3")
      .option("ratePerBatch", "10").load()
      .select($"event_id")
    // run 1: rate-limited batches spaced by the trigger; KILL the query
    // after the first committed batch — a mid-stream crash, not a
    // graceful drain
    val q1 = stream.writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", out)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .start()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (q1.recentProgress.forall(_.numInputRows == 0) &&
        System.nanoTime() < deadline) Thread.sleep(50)
    q1.stop()
    val after1 = spark.read.parquet(out).as[Long].collect().sorted.toSeq
    assert(after1.nonEmpty && after1 == (0L until after1.length.toLong),
      s"first run wrote a non-prefix: $after1")
    assert(after1.length % 10 == 0, s"partial batch visible: ${after1.length}")
    // run 2: a FRESH stream instance recovers the committed offset from
    // the checkpoint and resumes exactly where run 1 died. AvailableNow
    // drives the drain through Spark's wrapper (reportLatestOffset is
    // the target, batches still ratePerBatch-chunked) — the exactly-once
    // contract: every id delivered once, none regenerated
    val q2 = stream.writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", out)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val after2 = spark.read.parquet(out).as[Long].collect().sorted.toSeq
    assert(after2 == (0L to 99L), s"resume left gaps/dups: $after2")
  }

  test("asof join: inclusive tie, latest-at-or-before, null when none") {
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"), (2L, 50L, "d"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, 10L, 1.0), (1L, 15L, 2.0), (3L, 1L, 9.0))
      .toDF("k", "ts", "v")
    val got = graft.operators.AsofJoin
      .asofJoinLast(left, right, "k", "ts", Seq("v"))
      .select($"tag", $"asof_v").as[(String, Option[Double])]
      .collect().toMap
    assert(got("a") == Some(1.0)) // tie at ts=10 matches inclusively
    assert(got("b") == Some(2.0)) // latest at-or-before 20 is ts=15
    assert(got("c") == None)      // nothing at or before ts=5
    assert(got("d") == None)      // key with no right rows
  }

  test("partitions: index selection and repartition family") {
    import graft.core.Partitions
    val df = spark.range(100).toDF("x").repartition(4)
    val one = Partitions.partition(df, 2)
    assert(one.rdd.getNumPartitions == 4 && one.count() > 0)
    val sl = Partitions.partitionsSlice(df, 1, 3)
    assert(sl.count() ==
      df.rdd.mapPartitionsWithIndex((i, it) =>
        if (i == 1 || i == 2) it else Iterator.empty).count())
    assert(Partitions.repartitionN(df, 2).rdd.getNumPartitions == 2)
    assert(Partitions.repartitionN(df, 8).rdd.getNumPartitions == 8)
    assert(Partitions.repartitionByDivisions(df, 5, $"x")
      .rdd.getNumPartitions <= 5)
  }

  test("multimodal: decode + frame pipeline shapes and determinism") {
    implicit val s: SparkSession = spark
    import graft.multimodal.Multimodal._
    val media = mediaFromDocuments(graft.core.Tables.documents(spark, dir))
    val meta = decodeMeta(media)
    val row = meta.filter($"id" === 0).collect().head
    assert(row.nBytes > 0 && row.sha256.length == 64)
    assert(row.width >= 16 && row.width < 16 + 640)
    // deterministic: same input -> same hash on a second run
    val again = decodeMeta(media).filter($"id" === 0).collect().head
    assert(again == row)
    val frames = sampleFrames(media, 64, 2)
    // every sampled frame index is even and hashes are 16 hex chars
    assert(frames.filter($"frameIdx" % 2 =!= 0).count() == 0)
    assert(frames.filter(length($"frameHash") =!= 16).count() == 0)
  }

  test("multimodal: real container headers decode to exact dimensions") {
    implicit val s: SparkSession = spark
    import graft.multimodal.Multimodal._
    // real bytes from the JDK's own encoders — not hand-built magic strings
    def encode(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(java.awt.Color.ORANGE); g.fillRect(0, 0, w, h); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val png = encode("png", 123, 45)
    val jpg = encode("jpg", 320, 200)
    val gif = encode("gif", 77, 33)
    val bmp = encode("bmp", 64, 48)
    assert(Codecs.parseImageHeader(png) == Some((123, 45, "png")))
    assert(Codecs.parseImageHeader(jpg) == Some((320, 200, "jpeg")))
    assert(Codecs.parseImageHeader(gif) == Some((77, 33, "gif")))
    assert(Codecs.parseImageHeader(bmp) == Some((64, 48, "bmp")))
    // non-image payloads fall back to the deterministic stub (the driver
    // corpus path — oracle arithmetic unchanged)
    val text = "just some text".getBytes("UTF-8")
    assert(Codecs.parseImageHeader(text).isEmpty)
    assert(Codecs.decodeImage(text) == Codecs.decodeImageStub(text))
    // and through the distributed typed pipeline
    import spark.implicits._
    val media = Seq(
      MediaRow(1L, png, "image/png"), MediaRow(2L, jpg, "image/jpeg"),
      MediaRow(3L, text, "text/plain")).toDS()
    val out = decodeMeta(media).collect().map(m => m.id -> m).toMap
    assert((out(1L).width, out(1L).height, out(1L).format) == (123, 45, "png"))
    assert((out(2L).width, out(2L).height, out(2L).format) == (320, 200, "jpeg"))
    assert(out(3L).format == Codecs.decodeImageStub(text)._3)
  }

  test("multimodal headers: JPEG fill bytes and BMP core header") {
    import graft.multimodal.Multimodal._
    // JPEG spec B.1.1.2 allows any number of 0xFF fill bytes before a
    // marker code — the r4 walker read the second 0xFF as the marker and
    // desynced. Insert fills into a real JDK-encoded JPEG.
    val img = new java.awt.image.BufferedImage(
      320, 200, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos), "no jpg writer")
    val jpg = bos.toByteArray
    val withFill =
      jpg.take(2) ++ Array(0xff.toByte, 0xff.toByte, 0xff.toByte) ++ jpg.drop(2)
    assert(Codecs.parseImageHeader(withFill) == Some((320, 200, "jpeg")))
    // 12-byte BITMAPCOREHEADER: unsigned 16-bit dims at offsets 18/20 —
    // the r4 parser read them as 32-bit BITMAPINFOHEADER fields
    val core = java.nio.ByteBuffer.allocate(26)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    core.put('B'.toByte).put('M'.toByte).putInt(26).putInt(0).putInt(26)
    core.putInt(12).putShort(640.toShort).putShort(480.toShort)
      .putShort(1.toShort).putShort(24.toShort)
    assert(Codecs.parseImageHeader(core.array()) == Some((640, 480, "bmp")))
    // unknown DIB header sizes decline (stub fallback) instead of garbage
    val odd = core.array().clone()
    odd(14) = 16.toByte
    assert(Codecs.parseImageHeader(odd).isEmpty)
  }

  test("multimodal: real pixel decode — exact channel means, stub parity") {
    implicit val s: SparkSession = spark
    import graft.multimodal.Multimodal._
    // a two-color image: top half (10,20,30), bottom half (210,20,30) —
    // means are computable in closed form, histogram splits across bins
    val img = new java.awt.image.BufferedImage(
      8, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(10, 20, 30)); g.fillRect(0, 0, 8, 2)
    g.setColor(new java.awt.Color(210, 20, 30)); g.fillRect(0, 2, 8, 2)
    g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val text = "not an image at all".getBytes("UTF-8")
    val media = Seq(MediaRow(1L, bos.toByteArray, "image/png"),
      MediaRow(2L, text, "text/plain")).toDS()
    val out = imageFeatures(media, 8).collect().map(p => p.id -> p).toMap
    val real = out(1L)
    assert(real.isReal && real.width == 8 && real.height == 4)
    assert(real.meanR == 110.0 && real.meanG == 20.0 && real.meanB == 30.0)
    // luma bins: (10*299+20*587+30*114)/1000=18 -> bin 0;
    //            (210*299+20*587+30*114)/1000=77 -> bin 2; half mass each
    assert(real.features.toSeq == Seq(0.5, 0.0, 0.5, 0.0, 0.0, 0.0, 0.0, 0.0))
    // the non-image fallback agrees bit-for-bit with the featuresStub
    // column path (same polyHash arithmetic)
    val fake = out(2L)
    assert(!fake.isReal && fake.width == -1 && fake.meanR == -1.0)
    val viaColumn = Seq(new String(text, "UTF-8")).toDF("text")
      .select(featuresStub($"text", 8).as("f"))
      .as[Seq[Double]].head()
    assert(fake.features.toSeq == viaColumn)
    // lossless roundtrip through bmp as well (the mm_pixels oracle relies
    // on png+bmp pixel-exactness)
    val bmp = Codecs.encodeImage(5, 3, "bmp")
    val dec = imageFeatures(Seq(MediaRow(3L, bmp, "image/bmp")).toDS(), 8)
      .collect().head
    assert(dec.isReal && dec.width == 5 && dec.height == 3)
    assert(dec.meanR == (5 * 37 % 255).toDouble &&
      dec.meanG == (3 * 53 % 255).toDouble && dec.meanB == 128.0)
  }

  test("multimodal: dHash — brightness-invariant, resize-robust, banded pairs complete") {
    implicit val s: SparkSession = spark
    import graft.multimodal.Multimodal._
    def gray(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = f(x, y); img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      bos.toByteArray
    }
    val pat = (x: Int, y: Int) => (x * x + 3 * y * y + x * y) % 200
    val media = Seq(
      MediaRow(1L, gray(36, 24, pat), "image/png"),
      // +55 luma everywhere: every left-vs-right compare unchanged
      MediaRow(2L, gray(36, 24, (x, y) => pat(x, y) + 55), "image/png"),
      // 2x pixel-doubled: same picture at another size — dHash is
      // resize-ROBUST (grid boundaries shift by rounding), not exact
      MediaRow(3L, gray(72, 48, (x, y) => pat(x / 2, y / 2)), "image/png"),
      MediaRow(4L, "definitely not pixels".getBytes("UTF-8"), "text/plain"),
      MediaRow(5L, gray(8, 4, pat), "image/png")) // below the 9x8 grid
      .toDS()
    val out = imageDHash(media).collect().map(d => d.id -> d).toMap
    def bits(d: DHash): Long =
      (d.b0.toLong << 48) | (d.b1.toLong << 32) | (d.b2.toLong << 16) | d.b3
    assert(out(1L).isReal && out(1L).width == 36)
    assert(bits(out(1L)) != 0L && bits(out(1L)) != 0xffffffffffffffffL,
      "degenerate hash — test pattern has no structure")
    assert(bits(out(1L)) == bits(out(2L)), "brightness shift changed the dHash")
    val resizeDist = java.lang.Long.bitCount(bits(out(1L)) ^ bits(out(3L)))
    assert(resizeDist <= 8, s"2x resize moved $resizeDist of 64 bits")
    assert(!out(4L).isReal && !out(5L).isReal, "fallbacks must be flagged")
    // near-dup join: the pigeonhole makes <=3 exact; dist-4 pair excluded
    val hs = Seq(
      (10L, 0x1111, 0x2222, 0x3333, 0x4444),
      (11L, 0x1111, 0x2222, 0x3333, 0x4444),  // dist 0
      (12L, 0x1111, 0x2222, 0x3333, 0x4447),  // dist 2 from 10/11
      (13L, 0x1110, 0x2223, 0x3332, 0x4445)   // dist 4 from 10
    ).toDF("id", "b0", "b1", "b2", "b3")
    val pairs = dhashNearDup(hs, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((10L, 11L, 0), (10L, 12L, 2), (11L, 12L, 2)),
      s"banded pairs wrong: $pairs")
  }

  test("multimodal: real WAV decode — RIFF walk, exact sample roundtrip") {
    implicit val s: SparkSession = spark
    import graft.multimodal.Multimodal._
    // JDK javax.sound writes the RIFF container; our walker reads it back
    val samples = Array.tabulate(500)(i =>
      (if ((i / 5) % 2 == 0) 7000 else -7000).toShort)
    val wav = Codecs.encodeWavPcm16(samples, 16000)
    assert(Codecs.parseWavHeader(wav) ==
      Some(AudioMeta(1, 16000, 16, 500L, "pcm")))
    val (meta, decoded) = Codecs.decodePcm16(wav).get
    assert(meta.sampleRate == 16000 && decoded.toSeq == samples.toSeq)
    // non-audio payloads decline
    assert(Codecs.parseWavHeader("RIFFnope".getBytes("UTF-8")).isEmpty)
    assert(Codecs.decodePcm16("plain text".getBytes("UTF-8")).isEmpty)
    // features through the distributed pipeline: square wave of amplitude
    // A has rms = meanAbs = peak = A; crossings = floor((n-1)/half)
    val media = Seq(MediaRow(1L, wav, "audio/wav"),
      MediaRow(2L, "plain text".getBytes("UTF-8"), "text/plain")).toDS()
    val out = audioFeatures(media).collect().map(a => a.id -> a).toMap
    val a = out(1L)
    assert(a.isReal && a.channels == 1 && a.sampleRate == 16000 &&
      a.nFrames == 500L)
    assert(a.rms == 7000.0 && a.meanAbs == 7000.0 && a.peak == 7000)
    assert(a.zeroCrossings == 499 / 5)
    val f = out(2L)
    assert(!f.isReal && f.rms == -1.0 && f.zeroCrossings == -1L)
  }

  test("stageParquet: per-invocation unique path, no cross-run clobber") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val s1 = graft.io.GraftIO.stageParquet(df, "spec_stage")
    val s2 = graft.io.GraftIO.stageParquet(df.filter($"id" === 1), "spec_stage")
    // the two invocations staged at DIFFERENT paths (the r4 fixed shared
    // path clobbered under overwrite) and each reads back its own rows
    val (p1, p2) = (s1.inputFiles.head, s2.inputFiles.head)
    assert(p1.split("/spec_stage-")(1) != p2.split("/spec_stage-")(1))
    assert(s1.count() == 2 && s2.count() == 1)
    assert(s1.columns.toSeq == Seq("id", "s"))
  }

  implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[(A, B), C] = rows.map(r => (r._1, r._2) -> r._3).toMap
  }
}
