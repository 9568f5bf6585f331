package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A/B the co-occurrence edge-build spelling (the subtree 16 graph
  * queries share): current self-join + direct groupBy vs repartition-
  * before-aggregate vs collect_list + pair explode. All three produce
  * the identical (src, dst, w) frame; the question is CPU and wall.
  */
object CoocAb {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.core.SessionConfigs.local(32)
    val n = spark.sessionState.conf.numShufflePartitions

    def base() = graft.core.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("g"), col("l_partkey").cast("long").as("item"))

    def current(): DataFrame = {
      val src = graft.core.Partitions.ensureMinParallelism(base(), col("g"))
      val a = src.select(col("g"), col("item").as("src"))
      val b = src.select(col("g"), col("item").as("dst"))
      a.join(b.hint("shuffle_hash"), "g")
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    }
    def repartFirst(): DataFrame = {
      val src = graft.core.Partitions.ensureMinParallelism(base(), col("g"))
      val a = src.select(col("g"), col("item").as("src"))
      val b = src.select(col("g"), col("item").as("dst"))
      a.join(b.hint("shuffle_hash"), "g")
        .filter(col("src") =!= col("dst"))
        .repartition(n, col("src"), col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    }
    def listExplode(): DataFrame = {
      val src = base().repartition(n, col("g"))
      src.groupBy(col("g")).agg(collect_list(col("item")).as("items"))
        .select(explode(flatten(transform(col("items"), x =>
          filter(transform(col("items"), y => struct(x.as("src"), y.as("dst"))),
            p => p.getField("src") =!= p.getField("dst"))))).as("p"))
        .groupBy(col("p.src").as("src"), col("p.dst").as("dst"))
        .agg(count(lit(1)).as("w"))
    }
    def time(tag: String, f: () => DataFrame): Unit = {
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        f().write.format("noop").mode("overwrite").save()
        println(f"[$tag] run$i ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      println(s"[$tag] rows=${f().count()}")
    }
    time("current", current)
    time("repartFirst", repartFirst)
    time("listExplode", listExplode)
    spark.stop()
  }
}
