package graft.tools

import org.apache.spark.sql.functions._

/** Scale probe for ExactQuantiles: the select-k bisection vs Spark's
  * own exact `percentile` aggregate (which buffers every value of the
  * column in one aggregation buffer — the memory wall this operator
  * exists to avoid) and vs approx_percentile for cost context (NOT
  * exact, so context only). Correctness is pinned separately at 10^7
  * against a driver-sorted array; at probe scale only the costs are
  * compared (builtin percentile INTERPOLATES between elements, a
  * different contract than quantile_disc).
  *
  * Values are hash-uniform doubles, deterministic per id.
  *
  * Usage: runMain graft.tools.QuantileScaleProbe [n] [reps]
  */
object QuantileScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 100000000L
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = graft.core.SessionConfigs.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val probs = Seq(0.01, 0.5, 0.99)
    def corpus(rows: Long) = spark.range(0, rows, 1, 64)
      .select((shiftrightunsigned(xxhash64(col("id")), 11).cast("double") *
        (1.0 / (1L << 53)) * 1000.0).as("v"))
    def time(tag: String)(f: => Unit): Unit =
      for (r <- 1 to reps) {
        val t0 = System.nanoTime()
        f
        println(f"[qsp] $tag%-14s n=$n run$r: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }

    // correctness pin at 10^7: bisection == driver-sorted k-th element
    val small = corpus(10000000L)
    val got = graft.operators.ExactQuantiles
      .exactQuantiles(small, "v", probs)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val sorted = small.select(col("v")).collect().map(_.getDouble(0)).sorted
    probs.foreach { p =>
      val k = math.max(1L, math.ceil(p * sorted.length).toLong).toInt
      require(got(p) == sorted(k - 1), s"p=$p: ${got(p)} != ${sorted(k - 1)}")
    }
    println(s"[qsp] correctness: bisection == sorted k-th at n=1e7 for $probs")

    time("bisection") {
      graft.operators.ExactQuantiles.exactQuantiles(corpus(n), "v", probs)
        .collect()
    }
    time("pct-exact") {
      // Spark's exact percentile: one aggregate holding EVERY value
      corpus(n).agg(percentile(col("v"),
        array(probs.map(lit): _*))).head()
    }
    time("pct-approx") {
      corpus(n).agg(percentile_approx(col("v"),
        array(probs.map(lit): _*), lit(10000))).head()
    }
    spark.stop()
  }
}
