package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Power-law degree soak: every graph-family scale number previously
  * rested on TPC-H's uniform 4-7-items-per-order groups, so the
  * `groupCap` guard's drop rate and post-cap cost under a SKEWED corpus
  * had never been measured. This probe builds a deterministic Zipf
  * corpus, PRICES the uncapped pair blowup analytically, measures the
  * capped edge build (drop counts via the plan-native observe metric,
  * per-task shuffle-row and task-time distributions via a listener),
  * and times the full graph family on the capped edges. Results land in
  * docs/SCALE_SOAK.md ("power-law soak").
  *
  * Corpus: group k (1-based) holds clamp(floor(maxGroup / k^alpha), 1,
  * maxGroup) item rows until `nRows` is reached; the tail is size-1
  * groups (exactly the head-heavy/long-tail shape of real session /
  * basket / domain data). Item ids are xxhash64(g, pos) mod nItems — no
  * RNG anywhere, every run identical.
  *
  * Usage: runMain graft.tools.PowerLawSoak [nRows nItems alpha maxGroup cap]
  * Defaults: 6,000,000 rows (sf1-lineitem-sized), 200,000 items,
  * alpha 1.1, maxGroup 100,000, cap 512.
  */
object PowerLawSoak {

  /** Deterministic Zipf-group item table: (g, item), group sizes
    * floor(maxGroup / k^alpha) clamped to >= 1, truncated at nRows. */
  def zipfItems(spark: SparkSession, nRows: Long, nItems: Long,
      alpha: Double, maxGroup: Long): DataFrame = {
    require(nRows > 0 && nItems > 0 && maxGroup >= 1 && alpha > 0)
    // head: driver-computed size sequence until sizes hit 1 or rows run
    // out (bounded: maxGroup^(1/alpha) entries, ~35k at 1e5 / 1.1)
    val head = scala.collection.mutable.ArrayBuffer[(Long, Long)]() // (g, size)
    var total = 0L
    var k = 1L
    var s = maxGroup
    while (s > 1 && total < nRows) {
      s = math.max(1L, math.min(maxGroup,
        math.floor(maxGroup / math.pow(k.toDouble, alpha)).toLong))
      if (s > 1 || total + s >= nRows) {
        val take = math.min(s, nRows - total)
        if (take > 0) { head += ((k, take)); total += take }
      }
      k += 1
    }
    val nTail = math.max(0L, nRows - total) // size-1 groups fill the rest
    import spark.implicits._
    val headDf = head.toSeq.toDF("g", "sz")
      .select(col("g"), explode(sequence(lit(0L), col("sz") - 1)).as("pos"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
    val tailDf = spark.range(nTail)
      .select((col("id") + head.size + 1).as("g"), lit(0L).as("pos"))
    headDf.unionByName(tailDf)
      .select(col("g"),
        pmod(xxhash64(col("g"), col("pos")), lit(nItems)).as("item"))
  }

  /** Exact uncapped pair-blowup price: sum over groups of n*(n-1). */
  def uncappedPairs(items: DataFrame): Long =
    items.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1)"))).head().getLong(0)

  /** Per-task shuffle-write records + task wall times for everything run
    * inside `f` (queries here execute alone, so attribution is exact). */
  final class TaskStats extends SparkListener {
    // (stageId, shuffleWriteRecords, executorRunMs) per finished task —
    // straggler analysis must run WITHIN one stage (pooling stages hides
    // a hub task behind another stage's uniform writes)
    private val q = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      if (t.taskMetrics != null)
        q.add((t.stageId, t.taskMetrics.shuffleWriteMetrics.recordsWritten,
          t.taskMetrics.executorRunTime)): Unit
    }
    def all: Seq[(Int, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      q.asScala.toSeq
    }
    /** The pair-blowup stage = the stage with the largest total shuffle
      * write; returns its per-task (rows, ms). */
    def blowupStage: Seq[(Long, Long)] = {
      val byStage = all.groupBy(_._1)
      if (byStage.isEmpty) Seq.empty
      else byStage.maxBy(_._2.map(_._2).sum)._2.map(t => (t._2, t._3))
    }
    def rowsSeq: Seq[Long] = blowupStage.map(_._1)
    def msSeq: Seq[Long] = blowupStage.map(_._2)
  }
  def withTaskStats[T](spark: SparkSession)(f: => T): (T, TaskStats) = {
    val l = new TaskStats
    spark.sparkContext.addSparkListener(l)
    // the listener bus is async and private — a short drain pause after
    // the action keeps the tail task-end events from being missed
    try { val r = f; Thread.sleep(1500); (r, l) }
    finally spark.sparkContext.removeSparkListener(l)
  }
  def straggler(xs: Seq[Long]): (Long, Long, Double) = {
    val pos = xs.filter(_ > 0).sorted
    if (pos.isEmpty) (0L, 0L, 0.0)
    else {
      val med = pos(pos.size / 2)
      (pos.last, med, pos.last.toDouble / math.max(1L, med))
    }
  }

  def main(args: Array[String]): Unit = {
    val nRows = if (args.length > 0) args(0).toLong else 6000000L
    val nItems = if (args.length > 1) args(1).toLong else 200000L
    val alpha = if (args.length > 2) args(2).toDouble else 1.1
    val maxGroup = if (args.length > 3) args(3).toLong else 100000L
    val cap = if (args.length > 4) args(4).toInt else 512
    // optional comma-set of family-op tags to run (SPARK_GRAFT_SOAK_ONLY
    // env; default: everything) — lets a wall-clock-bounded harness chunk
    // the ~20-min full family into <10-min runs; the corpus build and
    // capped-edge measurement always run (they are the graph)
    val only = sys.env.get("SPARK_GRAFT_SOAK_ONLY").map(_.split(",").toSet)
    def want(tag: String): Boolean = only.forall(_.contains(tag))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.SessionConfigs.local(cpus)
    import graft.operators.{Bfs, Graph, KCore, LabelProp, LinkPredict, PageRank, Triangles}

    // observe-metric capture (the graded drop-count channel)
    @volatile var observed: Map[String, Any] = Map.empty
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit = {
          qe.observedMetrics.get("co_occurrence_cap").foreach { row =>
            observed = Map("dropped_groups" -> row.getAs[Long]("dropped_groups"),
              "kept_groups" -> row.getAs[Long]("kept_groups"))
          }
        }
        override def onFailure(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })

    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[plsoak] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    println(s"[plsoak] corpus: nRows=$nRows nItems=$nItems alpha=$alpha " +
      s"maxGroup=$maxGroup cap=$cap")
    val items = timed("zipf corpus build+stage") {
      graft.io.GraftIO.stageParquet(
        zipfItems(spark, nRows, nItems, alpha, maxGroup), "plsoak-items")
    }
    val price = timed("uncapped price (sum n(n-1))") { uncappedPairs(items) }
    val sizes = items.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")), expr("count(*)"),
        sum(when(col("n") > cap, 1L).otherwise(0L))).head()
    println(s"[plsoak] groups=${sizes.getLong(1)} maxGroup=${sizes.getLong(0)} " +
      s"groupsOverCap=${sizes.getLong(2)} uncappedPairs=$price")

    // capped edge build: MEASURED, with task-row/task-time distributions
    def build(groupCap: Int) = Graph.coOccurrence(items, "g", "item", groupCap)
    val (g, capStats) = withTaskStats(spark) {
      timed(s"capped edge build (cap=$cap)")(build(cap))
    }
    val edges = g.edges
    val nEdges = g.nEdges
    val (rMax, rMed, rRatio) = straggler(capStats.rowsSeq)
    val (tMax, tMed, tRatio) = straggler(capStats.msSeq)
    println(s"[plsoak] capped: edges=$nEdges observe=$observed " +
      f"taskRows max=$rMax med=$rMed ratio=$rRatio%.1f " +
      f"taskMs max=$tMax med=$tMed ratio=$tRatio%.1f")

    // uncapped build: run it ONLY when the analytic price is affordable;
    // otherwise record the price (that refusal IS the measurement)
    if (price <= 400000000L) {
      val (_, unStats) = withTaskStats(spark) {
        timed("UNCAPPED edge build")(build(0))
      }
      val (_, _, urRatio) = straggler(unStats.rowsSeq)
      val (utMax, utMed, utRatio) = straggler(unStats.msSeq)
      println(f"[plsoak] uncapped: taskRows ratio=$urRatio%.1f " +
        f"taskMs max=$utMax med=$utMed ratio=$utRatio%.1f")
    } else {
      println(s"[plsoak] uncapped NOT RUN: $price pair rows " +
        s"(~${price / 32} in the hub task alone) — the refusal is the point")
    }

    // the full graph family on the capped edges
    if (want("pagerank")) timed("pageRank(6)") {
      PageRank.pageRank(g, 6)
        .write.format("noop").mode("overwrite").save()
    }
    if (want("pagerank_conv")) timed("pageRank conv (tolUnits=0)") {
      PageRank.pageRank(g, 6, tolUnits = 0L)
        .write.format("noop").mode("overwrite").save()
    }
    if (want("triangles")) timed("triangles") {
      Triangles.triangleCounts(g)
        .write.format("noop").mode("overwrite").save()
    }
    // approximate faces (r10 ask #2): same graph, the operators that
    // replace the two edge-superlinear walls at 100x — DOULION edge
    // sampling (p=0.2 → (p·m)^1.5 wedge stream) and the landmark
    // harmonic estimate (k traversals instead of |V|)
    if (want("tri_exact_count")) timed("triangleCount (exact global)") {
      println(s"[plsoak] tri exact global = " +
        s"${Triangles.triangleCount(g).head().getLong(0)}")
    }
    if (want("tri_approx")) timed("triangleCountApprox p=0.2") {
      val r = Triangles.triangleCountApprox(g, pPpm = 200000L).head()
      println(s"[plsoak] tri approx: sampled=${r.getLong(1)}/${r.getLong(0)} " +
        s"tri_sampled=${r.getLong(2)} est=${r.getLong(3)}")
    }
    if (want("harm_est")) timed("harmonicEstimate (pivots %199)") {
      val piv = edges.select(col("src").as("node")).distinct()
        .filter(col("node") % 199 === 0)
      Bfs.harmonicEstimate(g, piv, maxHops = 3)
        .write.format("noop").mode("overwrite").save()
    }
    if (want("clustcoef")) timed("clusteringCoefficient") {
      Triangles.clusteringCoefficient(g)
        .write.format("noop").mode("overwrite").save()
    }
    if (want("labelprop")) timed("labelProp(3)") {
      val seeds = edges.select(col("src").as("node")).distinct()
        .filter(col("node") % 20 === 0)
        .select(col("node"), (col("node") % 5).as("label"))
      LabelProp.propagate(g, seeds, 3)
        .write.format("noop").mode("overwrite").save()
    }
    if (want("kcore")) timed("kCore(3)") {
      KCore.kCore(g, 3).write.format("noop").mode("overwrite").save()
    }
    if (want("bfs")) timed("bfs(4 hops)") {
      val seeds = edges.select(col("src").as("node")).distinct()
        .filter(col("node") % 97 === 0)
      Bfs.distances(g, seeds, maxHops = 4)
        .write.format("noop").mode("overwrite").save()
    }
    if (want("sssp")) timed("sssp(3 rounds)") {
      val seeds = edges.select(col("src").as("node")).distinct()
        .filter(col("node") % 97 === 0)
      Bfs.relaxDistances(
        Graph(edges.select(col("src"), col("dst"),
          expr("1000000 DIV w").as("w"))), seeds, 3)
        .write.format("noop").mode("overwrite").save()
    }
    if (want("ppr")) timed("personalizedPageRank(6)") {
      val seeds = edges.select(col("src").as("node")).distinct()
        .filter(col("node") % 101 === 0)
      PageRank.personalizedPageRank(g, seeds, 6)
        .write.format("noop").mode("overwrite").save()
    }
    if (want("harmonic")) timed("harmonicCentrality(3)") {
      val seeds = edges.select(col("src").as("node")).distinct()
        .filter(col("node") % 199 === 0)
      Bfs.harmonicCentrality(g, seeds, maxHops = 3)
        .write.format("noop").mode("overwrite").save()
    }
    if (want("linkpred")) timed("linkPredict.topForQueries") {
      val qs = edges.select(col("src").as("node")).distinct()
        .filter(col("node") % 199 === 0)
      LinkPredict.topForQueries(g, qs, kPerQuery = 5)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
