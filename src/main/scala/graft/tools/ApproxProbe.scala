package graft.tools

import org.apache.spark.sql.functions._

/** One-off measurement probe for the approximate graph faces: exact vs
  * DOULION triangle estimate and exact all-roots harmonic vs the pivot
  * estimate, at a given sf dir — the numbers that pin the GraphSpec
  * accuracy bounds and the SCALE_SOAK rows. */
object ApproxProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.core.SessionConfigs.local(8)
    import graft.operators.{Bfs, Graph, Triangles}
    val g = Graph.coOccurrence(
      graft.core.Tables.lineitem(spark, dir), "l_orderkey", "l_partkey")

    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
    }

    val exact = timed("exact tri") {
      Triangles.triangleCount(g).collect()(0).getLong(0) }
    for (p <- Seq(100000L, 200000L, 300000L)) {
      val r = timed(s"approx tri p=$p") {
        Triangles.triangleCountApprox(g, pPpm = p).collect()(0) }
      val est = r.getLong(3)
      println(f"[probe] tri exact=$exact est=$est relerr=${
        math.abs(est - exact).toDouble / exact}%.4f sampled=${r.getLong(1)}/${r.getLong(0)}")
    }

    // exact truncated harmonic for ALL nodes (feasible at small sf)
    val nodes = g.edges.select(col("src").as("node")).distinct()
    val nN = nodes.count()
    val exactH = timed("exact all-roots harmonic") {
      Bfs.harmonicCentrality(g, nodes, maxHops = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap }
    val mods = if (args.length > 1) args(1).split(",").map(_.toLong).toSeq
      else Seq(499L, 199L)
    for (mod <- mods) {
      val piv = nodes.filter(col("node") % mod === 0)
      val k = piv.count()
      val est = timed(s"pivot harmonic mod=$mod k=$k") {
        Bfs.harmonicEstimate(g, piv, maxHops = 3)
          .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap }
      // exact H(v) = sum over ALL roots u of 1/d(u,v) — compare per node
      val joined = exactH.keys.toSeq.map(n => (exactH(n), est.getOrElse(n, 0L)))
      val mre = joined.map { case (e, a) =>
        if (e == 0) 0.0 else math.abs(a - e).toDouble / e }.sum / joined.size
      val totE = joined.map(_._1).sum.toDouble
      val totA = joined.map(_._2).sum.toDouble
      println(f"[probe] harm mod=$mod k=$k meanRelErr=$mre%.4f " +
        f"totalRatio=${totA / totE}%.4f n=$nN")
    }
    spark.stop()
  }
}
