package graft.tools

import org.apache.spark.sql.functions._

/** Measurement probe for the LEFT-OUTER stream-stream interval join's
  * eviction-emission boundary (r10 verdict ask #3): when exactly does the
  * null-joined row for an unmatched purchase appear, relative to the
  * min-of-sides watermark? Observations pin IjoinProbeSpec and the
  * intervalJoinOuterAudit replay. */
object OuterIjoinProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.SessionConfigs.local(4)
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val base = 1000000200L
    def t(min: Long) = new java.sql.Timestamp((base + min * 60L) * 1000L)

    def scenario(name: String)(
        batches: Seq[Seq[(Long, String, java.sql.Timestamp, Double)]]): Unit = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[(Long, String, java.sql.Timestamp, Double)]
      val joined = graft.streaming.Streaming.purchaseAttributionOuter(
        ms.toDF().toDF("user_id", "event_type", "ts", "value"))
        .select($"p_user", unix_timestamp($"p_ts").as("psec"),
          unix_timestamp($"c_ts").as("csec"))
      val qn = s"probe_$name"
      val q = joined.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      batches.zipWithIndex.foreach { case (b, i) =>
        ms.addData(b: _*)
        q.processAllAvailable()
        val rows = spark.table(qn).collect()
          .map(r => (r.getLong(0), (r.getLong(1) - base) / 60,
            if (r.isNullAt(2)) null else ((r.getLong(2) - base) / 60).toString))
          .toSeq.sortBy(_._1)
        val wm = q.lastProgress.eventTime.get("watermark")
        println(s"[$name] after batch $i: rows=$rows watermark=$wm")
      }
      q.stop()
    }

    // 1. unmatched purchase at t(100); both sides then advance so
    //    W = t(X) for increasing X — when does the null row appear?
    //    delay = 10 min, so W after a batch with max minute M is M-10.
    //    Purchase p=100: test W=99 (no), W=100 (boundary), W=101 (past).
    scenario("wm99")(Seq(
      Seq((5L, "purchase", t(100), 1.0)),
      Seq((98L, "click", t(109), 0.0), (99L, "purchase", t(109), 0.0)),
      Seq((98L, "click", t(109), 0.0))))
    scenario("wm100")(Seq(
      Seq((5L, "purchase", t(100), 1.0)),
      Seq((98L, "click", t(110), 0.0), (99L, "purchase", t(110), 0.0)),
      Seq((98L, "click", t(110), 0.0))))
    scenario("wm101")(Seq(
      Seq((5L, "purchase", t(100), 1.0)),
      Seq((98L, "click", t(111), 0.0), (99L, "purchase", t(111), 0.0)),
      Seq((98L, "click", t(111), 0.0))))
    // 2. matched purchase: click in range arrives on time; advance far —
    //    the match must appear once, and NO null row ever.
    scenario("match_suppresses")(Seq(
      Seq((7L, "click", t(95), 0.0), (7L, "purchase", t(100), 1.0)),
      Seq((98L, "click", t(200), 0.0), (99L, "purchase", t(200), 0.0)),
      Seq((98L, "click", t(200), 0.0))))
    // 3. end-of-stream: unmatched purchase, watermark never passes it →
    //    no null row even after processAllAvailable.
    scenario("no_advance")(Seq(
      Seq((9L, "purchase", t(100), 1.0)),
      Seq((9L, "purchase", t(101), 1.0))))
    // 4. purchase whose ONLY in-range click was late-dropped: null row
    //    once evicted (the stream never saw the match).
    scenario("late_click_only")(Seq(
      Seq((98L, "click", t(200), 0.0), (99L, "purchase", t(200), 0.0)),
      // W = 190 now; click at t(150) is late (<= W), purchase t(195) on time
      Seq((11L, "click", t(150), 0.0), (11L, "purchase", t(195), 1.0)),
      // advance W past 195
      Seq((98L, "click", t(210), 0.0), (99L, "purchase", t(210), 0.0)),
      Seq((98L, "click", t(210), 0.0))))
    spark.stop()
  }
}
