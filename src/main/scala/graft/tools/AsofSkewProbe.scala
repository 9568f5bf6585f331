package graft.tools

import org.apache.spark.sql.functions._

/** Measure the plain union+window as-of join against the salted
  * (key, time-bucket) form under a 90%-one-key distribution — the skew
  * regime asofJoinSalted exists for. OperatorsSpec pins output equality
  * and the plan shape; this probe pins the wall-clock claim.
  *
  * Usage: runMain graft.tools.AsofSkewProbe [nLeft nRight buckets]
  */
object AsofSkewProbe {
  def main(args: Array[String]): Unit = {
    val nLeft = if (args.length > 0) args(0).toInt else 2000000
    val nRight = if (args.length > 1) args(1).toInt else 200000
    val buckets = if (args.length > 2) args(2).toInt else 32
    val spark = graft.core.SessionConfigs.local(32)
    import spark.implicits._
    def skewed(n: Int, mul: Long) = spark.range(n).select(
      when($"id" % 10 =!= 0, lit(0L)).otherwise($"id" % 997 + 1).as("k"),
      (($"id" * mul) % 100000000L).as("ts"), $"id".as("rid"))
    val l = skewed(nLeft, 2654435761L).localCheckpoint()
    val r = skewed(nRight, 40503L)
      .groupBy($"k", $"ts").agg(max($"rid").as("pval")).localCheckpoint()
    def time(tag: String)(df: => org.apache.spark.sql.DataFrame): Long = {
      // aggregate OVER the joined payload — a bare count() lets column
      // pruning delete the whole window stage and times an empty plan
      def once(): (Double, Long) = {
        val t0 = System.nanoTime()
        val row = df.agg(count($"asof_pval"), sum(hash($"asof_pval")))
          .collect()(0)
        ((System.nanoTime() - t0) / 1e9, row.getLong(0))
      }
      once() // warm-up, then min of two
      val (d1, n1) = once(); val (d2, n2) = once()
      require(n1 == n2)
      println(f"[asofskew] $tag%-8s ${math.min(d1, d2)}%6.2f s  matched=$n1")
      n1
    }
    println(s"[asofskew] nLeft=$nLeft nRight=$nRight buckets=$buckets " +
      "(90% of rows on one key)")
    val a = time("plain")(graft.operators.AsofJoin.asofJoin(
      l, r, "k", "ts", Seq("pval")))
    val b = time("salted")(graft.operators.AsofJoin.asofJoinSalted(
      l, r, "k", "ts", Seq("pval"), buckets = buckets))
    require(a == b, s"row counts differ: $a vs $b")
    spark.stop()
  }
}
