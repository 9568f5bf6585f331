package graft.tools

import org.apache.spark.sql.functions._

/** Run the DISTRIBUTED connected-components path over ORGANIC near-dup
  * edges (the dedup operators' real pair output on a corpus dir) instead of
  * CcStress's synthetic worst-diameter chains, and differential-check the
  * labeling against the default (driver union-find) path.
  *
  * Two regimes:
  *  - `dupFactor <= 1`: ngramJaccardPairs edges on the corpus as-is (the
  *    r4-requested soak — >driver-bound edge counts need a huge corpus
  *    because ScaleGen holds the duplicate RATE constant, so edges grow
  *    linearly with replicas).
  *  - `dupFactor > 1`: a duplicate-HEAVY corpus — `dupFactor` key-shifted
  *    exact copies of every document, the shape of real web-crawl
  *    boilerplate — with MinHash-LSH (the production near-dup path)
  *    generating the pairs. Each copy group is a clique: edge count grows
  *    ~quadratically in the factor, so a laptop-sized corpus organically
  *    exceeds the 1M-edge driver-solve bound and ccDistributed runs in
  *    anger on real LSH output (cliques + the original corpus's cross-doc
  *    near-dup structure), not hand-built chains.
  *
  * Usage: runMain graft.tools.CcOrganic [sfDir] [dupFactor]
  */
object CcOrganic {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "target/testdata/sf5"
    val dupFactor = if (args.length > 1) args(1).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.SessionConfigs.local(cpus,
      sys.env.get("SPARK_GRAFT_SHUFFLE").fold(cpus)(_.toInt))
    val base = graft.core.Tables.documents(spark, dir)
    // key stride mirrors ScaleGen: copies stay disjoint in id space
    val stride = 100000000L
    val docs =
      if (dupFactor <= 1) base
      else (0 until dupFactor).map(i => base.select(
          (col("doc_id") + lit(i * stride)).as("doc_id"), col("text")))
        .reduce(_ unionByName _)
    val t0 = System.nanoTime()
    val pairs =
      if (dupFactor <= 1)
        graft.dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 50)
          .select(col("id1"), col("id2"))
      else
        graft.dedup.minhashLshPairs(docs, "doc_id", "text")
          .filter(col("est_jaccard") >= 0.5)
          .select(col("id1"), col("id2"))
    val e = pairs.select(col("id1").cast("long").as("a"),
      col("id2").cast("long").as("b")).localCheckpoint()
    val nEdges = e.count()
    val tPairs = (System.nanoTime() - t0) / 1e9
    println(f"[ccorganic] dir=$dir dupFactor=$dupFactor edges=$nEdges " +
      f"(pair generation $tPairs%.1f s, path=${if (dupFactor <= 1) "ngram" else "minhash-lsh"})")
    val t1 = System.nanoTime()
    val (labels, rounds) = graft.dedup.ccDistributed(e, maxIter = 25)
    val dist = labels.select(col("v").as("id"), col("l").as("rep"))
    val nNodes = dist.count()
    val secs = (System.nanoTime() - t1) / 1e9
    println(f"[ccorganic] distributed: $rounds rounds, $secs%.1f s, " +
      s"nodes=$nNodes")
    // differential vs the driver union-find fast path (same edge frame)
    val drv = graft.dedup.connectedComponents(
      e.select(col("a").as("id1"), col("b").as("id2")), "id1", "id2",
      driverSolveMaxEdges = Long.MaxValue)
    val diff = dist.as("a").join(drv.as("b"), col("a.id") === col("b.id"))
      .filter(col("a.rep") =!= col("b.rep")).count()
    require(diff == 0, s"$diff labels differ between distributed and driver")
    println("[ccorganic] PASS: distributed labeling == driver union-find")
    spark.stop()
  }
}
