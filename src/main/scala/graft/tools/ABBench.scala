package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch A/B harness for plan-shape experiments (not part of the public
  * surface; run via `sbt "runMain graft.tools.ABBench"`). Current matchup:
  * seqsim pair-stream shapes — halved (uid<nid + mirror-after-agg, the
  * shipped r8 shape) vs full (=!= stream, both directions through the
  * partial agg) vs r7 (nsh riding the quadratic agg as grouping keys).
  * Interleaved runs in one JVM so JIT/load hit all variants equally. */
object ABBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.SessionConfigs.local(32)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val ev = graft.core.Tables.events(spark, dir).withColumn("tok",
      concat(col("event_type"), lit(":"),
        least(floor(col("value") / 25), lit(9.0)).cast("long")))
    ev.count() // warm

    def seqFrames(): (DataFrame, DataFrame) = {
      val seqs = ev.filter(col("user_id").isNotNull)
        .groupBy(col("user_id").cast("long").as("uid"))
        .agg(transform(sort_array(collect_list(struct(
            col("ts").as("ts"), col("event_id").as("tie"),
            col("tok").as("tok")))),
          x => x.getField("tok")).as("toks"))
      val inv = seqs
        .select(col("uid"),
          graft.functions.HashExprs.wordNgrams(col("toks"), 2).as("gs"))
        .select(col("uid"), size(col("gs")).as("nsh"),
          explode(col("gs")).as("gstr"))
        .select(col("uid"), col("nsh"), xxhash64(col("gstr")).as("g"))
        .distinct()
      val rare = inv.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
        .filter(col("gdf") <= 1000).select(col("g"))
      (inv, inv.join(rare, "g"))
    }

    def halved(): Long = {
      val (inv, invf) = seqFrames()
      val half = invf.as("a").join(invf.as("b"),
          col("a.g") === col("b.g") && col("a.uid") < col("b.uid"))
        .groupBy(col("a.uid").as("uid"), col("b.uid").as("nid"))
        .agg(count(lit(1)).as("inter"))
      val pairs = half.unionAll(half.select(
        col("nid").as("uid"), col("uid").as("nid"), col("inter")))
      val sizes = inv.groupBy(col("uid")).agg(max(col("nsh")).as("nsh"))
      val scored = pairs
        .join(sizes.select(col("uid"), col("nsh").as("n1")), "uid")
        .join(sizes.select(col("uid").as("nid"), col("nsh").as("n2")), "nid")
        .select(col("uid"), col("nid"),
          (col("inter").cast("double") /
            (col("n1") + col("n2") - col("inter"))).as("jac"))
      graft.similarity.topKPerKey(scored, "uid", "jac", "nid", 3).count()
    }

    def full(): Long = {
      val (inv, invf) = seqFrames()
      val pairs = invf.as("a").join(invf.as("b"),
          col("a.g") === col("b.g") && col("a.uid") =!= col("b.uid"))
        .groupBy(col("a.uid").as("uid"), col("b.uid").as("nid"))
        .agg(count(lit(1)).as("inter"))
      val sizes = inv.groupBy(col("uid")).agg(max(col("nsh")).as("nsh"))
      val scored = pairs
        .join(sizes.select(col("uid"), col("nsh").as("n1")), "uid")
        .join(sizes.select(col("uid").as("nid"), col("nsh").as("n2")), "nid")
        .select(col("uid"), col("nid"),
          (col("inter").cast("double") /
            (col("n1") + col("n2") - col("inter"))).as("jac"))
      graft.similarity.topKPerKey(scored, "uid", "jac", "nid", 3).count()
    }

    def r7keys(): Long = {
      val (_, invf) = seqFrames()
      val pairs = invf.as("a").join(invf.as("b"),
          col("a.g") === col("b.g") && col("a.uid") =!= col("b.uid"))
        .groupBy(col("a.uid").as("uid"), col("a.nsh").as("n1"),
          col("b.uid").as("nid"), col("b.nsh").as("n2"))
        .agg(count(lit(1)).as("inter"))
      val scored = pairs.select(col("uid"), col("nid"),
        (col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter"))).as("jac"))
      graft.similarity.topKPerKey(scored, "uid", "jac", "nid", 3).count()
    }

    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val nr = f
      println(f"[ab] $tag: ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$nr")
    }
    // one untimed warm-up of each, then 3 interleaved timed rounds
    halved(); full(); r7keys()
    for (_ <- 1 to 3) {
      time("seqsim-halved")(halved())
      time("seqsim-full")(full())
      time("seqsim-r7keys")(r7keys())
    }
    spark.stop()
  }
}
