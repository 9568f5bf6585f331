package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** EXECUTED-plan lockfile for the heaviest queries: shuffle write/read
  * RECORD counts from a real run, locked into
  * docs/SHUFFLE_FINGERPRINTS.json and gated by PlanQualitySpec with a
  * tolerance band.
  *
  * Why this exists when PLAN_FINGERPRINTS already locks plan shapes: the
  * lazy fingerprints record build-time node counts, in which runtime
  * collapses are INVISIBLE — q_pagerank's plan shows the edges subtree
  * once per round (scans=52), but at runtime ReuseExchange writes that
  * exchange ONCE and every round re-reads it (measured: 101.6 MiB
  * written vs 303.8 MiB read, SCALE_SOAK r8). A regression that breaks
  * the reuse (a subtree diverging by one byte) would keep the lazy
  * fingerprint identical while tripling the shuffle WRITE volume.
  * Locking executed write/read records makes that failure a red suite
  * instead of prose in a doc. Records, not bytes: record counts are a
  * deterministic function of (data, partitioning, plan) while compressed
  * byte counts wobble with buffer layout.
  *
  * Regenerate after INTENDED changes to any listed query's execution:
  *   sbt "runMain graft.tools.ShuffleFingerprints"
  * and review the git diff — every changed line is a shuffle-volume
  * change you are claiming on purpose.
  */
object ShuffleFingerprints {

  val file = "docs/SHUFFLE_FINGERPRINTS.json"

  /** The heavy set: graph family, sequence similarity, string linkage,
    * dedup pipelines, retrieval/rank machinery — the queries whose
    * shuffle volume IS the scale story. */
  val heavy: Seq[String] = Seq(
    "q_pagerank", "q_triangles", "q_clustcoef", "q_labelprop", "q_kcore",
    "ev_seqsim", "ev_seqsim_banded", "str_linkage", "str_linkage_sn",
    "str_entities", "d_pipeline", "d_clusters", "d_minhash_lsh",
    "d_simhash_pairs", "d_ngram", "t_bm25", "t_qnorm", "t_tfidf",
    "ev_markov", "ev_funnel_sessions", "r_quantiles_grp", "t_quality",
    "q_linkpred", "q_bfs", "sim_cov",
    // r10 additions: the two graph quality gates (q_ppr_quality now
    // tops the steady profile) and the interval-join audit
    "q_ppr_quality", "q_linkpred_prec", "st_ijoin")

  /** Execute each heavy query (noop-write action, so count-star pruning
    * cannot shrink the measured plan) and return its
    * (shuffle write records, shuffle read records). Deterministic given
    * the fixture data and the session's partition config — callers must
    * use the SparkSuite session (`SessionConfigs.local(4)`) or the
    * lockfile will not compare. */
  def compute(spark: SparkSession, dir: String): Seq[(String, (Long, Long))] = {
    val meter = new Profile.Meter(spark)
    meter.attach()
    try heavy.filter(graft.SparkEntry.queries.contains).map { q =>
      spark.sharedState.cacheManager.clearCache()
      val (_, t) = meter.measureQuery(graft.SparkEntry.queries(q)(spark, dir))
      q -> ((t.shuffleWriteRecords, t.shuffleReadRecords))
    } finally {
      meter.detach()
      spark.sharedState.cacheManager.clearCache()
    }
  }

  def parse(text: String): Map[String, (Long, Long)] =
    """"([^"]+)": \[(\d+), (\d+)\]""".r.findAllMatchIn(text)
      .map(m => m.group(1) -> ((m.group(2).toLong, m.group(3).toLong)))
      .toMap

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.core.SessionConfigs.local(4)
    val rows = compute(spark, dir)
    val json = rows.map { case (q, (w, r)) => s"""  "$q": [$w, $r]""" }
      .mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(file), json)
    println(s"[sfp] wrote ${rows.size} shuffle fingerprints to $file")
    spark.stop()
  }
}
