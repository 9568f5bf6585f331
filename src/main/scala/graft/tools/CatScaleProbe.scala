package graft.tools

import org.apache.spark.sql.functions._

/** Scale proof for toCategorical's counted broadcast gate (r10 verdict
  * ask #4): a genuinely high-cardinality column (every value distinct)
  * must DEGRADE to a shuffle join and complete, where the old forced
  * broadcast hint would have collected the whole dictionary onto the
  * driver. Usage: runMain graft.tools.CatScaleProbe [nRows] */
object CatScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 10000000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.SessionConfigs.local(cpus)
    val df = spark.range(n).select(col("id"),
      concat(lit("value_"), lpad(col("id").cast("string"), 12, "0")).as("v"))
    val t0 = System.nanoTime()
    val (coded, dict) = graft.strings.toCategorical(df, "v", "code")
    val tDict = (System.nanoTime() - t0) / 1e9
    val plan = coded.queryExecution.executedPlan.toString
    val shuffleJoin = plan.contains("SortMergeJoin [v#") ||
      plan.contains("ShuffledHashJoin [v#")
    val t1 = System.nanoTime()
    // order-checksum: code must equal id for this sorted-value domain
    val bad = coded.filter(col("code") =!= col("id")).count()
    val rows = coded.count()
    val tJoin = (System.nanoTime() - t1) / 1e9
    println(f"[catscale] n=$n dict+count=$tDict%.1f s joinBack=$tJoin%.1f s " +
      s"rows=$rows codeMismatches=$bad shuffleJoin=$shuffleJoin " +
      s"dictCols=${dict.columns.mkString(",")}")
    require(bad == 0 && rows == n && shuffleJoin)
    spark.stop()
  }
}
