package graft.tools

import org.apache.spark.sql.functions._

/** Measure the plain funnel ragged build against the salted two-phase
  * form under a hot-entity distribution (one bot carries most of the
  * corpus) — the regime funnelDepthSalted exists for. OperatorsSpec
  * pins output equality; this probe pins the wall-clock claim.
  *
  * Usage: runMain graft.tools.FunnelSkewProbe [nEvents hotFrac salts]
  */
object FunnelSkewProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 4000000
    val hotPct = if (args.length > 1) args(1).toInt else 90
    val salts = if (args.length > 2) args(2).toInt else 32
    val spark = graft.core.SessionConfigs.local(32)
    import spark.implicits._
    val stages = Seq("view", "click", "purchase")
    // hotPct% of events belong to entity 0; the rest spread over 1000
    val df = spark.range(n).select(
        when($"id" % 100 < hotPct, lit(0L))
          .otherwise($"id" % 997 + 1).as("user_id"),
        timestamp_micros(($"id" * 2654435761L) % 100000000000L).as("ts"),
        $"id".as("event_id"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase"), lit("error")),
          ($"id" % 4 + 1).cast("int")).as("event_type"))
      .localCheckpoint()
    def time(tag: String)(run: => org.apache.spark.sql.DataFrame): Long = {
      def once(): (Double, Long) = {
        val t0 = System.nanoTime()
        val row = run.agg(count(lit(1)), sum(hash($"depth"))).collect()(0)
        ((System.nanoTime() - t0) / 1e9, row.getLong(0))
      }
      once() // warm-up, then min of two
      val (d1, c1) = once(); val (d2, c2) = once()
      require(c1 == c2)
      println(f"[funnelskew] $tag%-7s ${math.min(d1, d2)}%6.2f s  entities=$c1")
      c1
    }
    println(s"[funnelskew] n=$n hotPct=$hotPct salts=$salts")
    val a = time("plain")(graft.operators.Funnel.funnelDepth(
      df, "user_id", "ts", "event_id", "event_type", stages))
    val b = time("salted")(graft.operators.Funnel.funnelDepthSalted(
      df, "user_id", "ts", "event_id", "event_type", stages, salts))
    require(a == b, s"entity counts diverged: $a vs $b")
    spark.stop()
  }
}
