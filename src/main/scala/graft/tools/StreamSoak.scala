package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Streaming throughput soak: replay a corpus' events table through the
  * file source in bounded micro-batches and measure rows/sec through
  * (a) the watermarked tumbling aggregate and (b) the zero-state as-of
  * enrichment — the two streaming shapes whose batch faces are graded.
  * A real cluster replaces the file source with Kafka; the per-batch
  * work and state shapes are identical.
  *
  * Usage: runMain graft.tools.StreamSoak [sfDir] [filesPerTrigger]
  */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "target/testdata/sf1"
    val perTrigger = if (args.length > 1) args(1).toInt else 2
    val spark = graft.core.SessionConfigs.local(32)
    implicit val s: SparkSession = spark
    // stage the events as a multi-file directory so maxFilesPerTrigger
    // yields a stream of real micro-batches, not one giant batch
    val ev = graft.core.Tables.events(spark, dir)
    val n = ev.count()
    val staged = java.nio.file.Files.createTempDirectory("graft_soak").toString
    ev.repartition(32).write.mode("overwrite").parquet(staged)
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pval"))

    def soak(tag: String)(build: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Unit = {
      val src = spark.readStream
        .schema(graft.streaming.Streaming.eventsSchema)
        .option("maxFilesPerTrigger", perTrigger)
        .parquet(staged)
      val t0 = System.nanoTime()
      val q = build(src).writeStream.format("noop")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"graft_chk_$tag").toString)
        .start()
      q.processAllAvailable()
      q.stop()
      val dt = (System.nanoTime() - t0) / 1e9
      val batches = q.recentProgress.length
      println(f"[streamsoak] $tag%-10s $n rows, ~$batches batches: " +
        f"$dt%6.1f s  (${n / dt / 1000}%.0fk rows/s)")
    }

    soak("tumbling") { src =>
      graft.streaming.Streaming.tumblingCounts(src)
    }
    soak("asof") { src =>
      graft.streaming.Streaming.streamingAsofEnrich(
        src.select(col("event_id"), col("user_id"), col("ts")),
        purchases, "user_id", "ts", "pval")
    }
    spark.stop()
  }
}
