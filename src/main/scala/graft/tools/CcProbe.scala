package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Diagnostic for the distributed-CC round-latency pathology: runs the same
  * iterative join loop under different lineage-truncation strategies and
  * prints per-round wall times. Kept as a tool (not a test) so future
  * Spark upgrades can be re-probed in minutes.
  *
  * Usage: runMain graft.tools.CcProbe [mode] [chains] [len]
  *   mode: lck    = Dataset.localCheckpoint(eager=true)  (the r4 code)
  *         rdd    = rebind via spark.createDataFrame(ck.rdd, schema)
  *         cache  = .persist() + count() only (no truncation)
  */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val mode = if (args.length > 0) args(0) else "lck"
    val chains = if (args.length > 1) args(1).toLong else 2L
    val n = if (args.length > 2) args(2).toLong else 3000L
    val spark = graft.core.SessionConfigs.local(32)
    val base = 10000000L
    val chainIdx = floor(col("id") / (n - 1)).cast("long")
    val e = spark.range(0, chains * (n - 1)).select(
      (chainIdx * base + (col("id") % (n - 1)) + 1L).as("a"),
      (chainIdx * base + (col("id") % (n - 1)) + 2L).as("b"))
      .localCheckpoint()
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
    def materialize(df: DataFrame): DataFrame = mode match {
      case "lck" => df.localCheckpoint()
      case "rdd" =>
        val ck = df.localCheckpoint()
        spark.createDataFrame(ck.rdd, ck.schema)
      case "cache" => val c = df.persist(); c.count(); c
    }
    var labels = materialize(sym.groupBy(col("a").as("v"))
      .agg(least(min(col("b")), first(col("a"))).as("l")))
    var lastSum = labels.agg(coalesce(sum(col("l")), lit(0L))).head().getLong(0)
    var i = 0
    var done = false
    while (!done && i < 40) {
      val t0 = System.nanoTime()
      val nbr = sym.join(labels, sym("b") === labels("v"))
        .groupBy(col("a")).agg(min(col("l")).as("nl"))
      val jump = labels.as("x").join(labels.as("y"), col("x.l") === col("y.v"))
        .select(col("x.v").as("jv"), col("y.l").as("jl"))
      val next = labels
        .join(nbr, labels("v") === nbr("a"), "left")
        .join(jump, labels("v") === col("jv"), "left")
        .select(labels("v"),
          least(labels("l"), least(coalesce(col("nl"), labels("l")),
            coalesce(col("jl"), labels("l")))).as("l"))
      val ck = materialize(next)
      val s = ck.agg(coalesce(sum(col("l")), lit(0L))).head().getLong(0)
      if (s == lastSum) done = true else { labels = ck; lastSum = s }
      i += 1
      println(f"[ccprobe:$mode] round $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    println(s"[ccprobe:$mode] rounds=$i done=$done")
    spark.stop()
  }
}
