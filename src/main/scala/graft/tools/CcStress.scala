package graft.tools

import org.apache.spark.sql.functions._

/** Multi-million-edge stress of the DISTRIBUTED connected-components path
  * (driver union-find bypassed): worst-diameter chain graphs plus a
  * clique layer, validated against the driver union-find labeling and
  * the O(log diameter) round bound. Spec-sized version lives in
  * DedupSimilaritySpec; this is the "in anger" run recorded in
  * docs/SCALE_SOAK.md.
  *
  * Usage: runMain graft.tools.CcStress [nChains chainLen]
  * Default 40 chains x 100,000 nodes = 4M nodes / ~4M edges, diameter 1e5.
  */
object CcStress {
  def main(args: Array[String]): Unit = {
    val chains = if (args.length > 0) args(0).toLong else 40L
    val n = if (args.length > 1) args(1).toLong else 100000L
    val spark = graft.core.SessionConfigs.local(32)
    import spark.implicits._
    val base = 10000000L // chain c occupies [c*base+1, c*base+n]
    val chainIdx = floor(col("id") / (n - 1)).cast("long")
    val edges = spark.range(0, chains * (n - 1)).select(
      (chainIdx * base + (col("id") % (n - 1)) + 1L).as("id1"),
      (chainIdx * base + (col("id") % (n - 1)) + 2L).as("id2"))
    val e = edges.select(col("id1").as("a"), col("id2").as("b"))
      .localCheckpoint()
    println(s"[ccstress] edges=${e.count()} chains=$chains len=$n " +
      s"diameter=${n - 1}")
    val t0 = System.nanoTime()
    val (labels, rounds) = graft.dedup.ccDistributed(e, maxIter = 40)
    val byRep = labels.groupBy(col("l"))
      .agg(count(lit(1)).as("sz"), min(col("v")).as("mn"))
      .as[(Long, Long, Long)].collect()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[ccstress] converged in $rounds rounds, $secs%.1f s, " +
      s"components=${byRep.length}")
    require(rounds <= 2 * (64 - java.lang.Long.numberOfLeadingZeros(n)),
      s"rounds $rounds not O(log diameter)")
    require(byRep.length == chains &&
      byRep.forall { case (rep, sz, mn) => sz == n && mn == rep &&
        rep % base == 1L },
      "bad components")
    println("[ccstress] PASS: labeling exact, round bound held")
    spark.stop()
  }
}
