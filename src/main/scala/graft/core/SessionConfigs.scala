package graft.core

import org.apache.spark.sql.SparkSession

/** The local-session factory ([[SessionConfigs.local]]) and named
  * adversarial session-config presets for the correctness matrix.
  *
  * Why the presets exist: a query can be CORRECT-ONLY-UNDER-AN-OPTIMIZER-PREMISE
  * — the round-9/10 pid-offset class passed every DuckDB oracle at the
  * blessed config because ReuseExchange happened to give two branches the
  * same physical partitioning, and was wrong the moment an optimizer
  * change (AQE replanning, pruning divergence) broke that premise. The
  * fix (localCheckpoint) covered the six KNOWN sites; this matrix exists
  * to prove there is no seventh: every deterministic graded query must
  * stay hash-exact when the optimizer's discretionary machinery is
  * turned against it.
  *
  * Each preset flips exactly one lever the engine is NOT allowed to
  * depend on for correctness:
  *  - `no-reuse`   — ReuseExchange off: any two-branch plan whose
  *                   consistency silently rested on shared shuffle files
  *                   recomputes each branch independently.
  *  - `no-broadcast` — stats-based auto-broadcast off: every join that
  *                   was only correct because the small side happened to
  *                   broadcast (single copy, no partitioning of that
  *                   side) now runs as a shuffle join.
  *  - `aqe-off`    — adaptive execution off: no runtime coalescing/
  *                   re-planning; initial plans execute as-is.
  *  - `shuffle7`   — a prime, different shuffle-partition count: any
  *                   result that depends on WHERE partition boundaries
  *                   fall (spark_partition_id misuse, per-partition
  *                   windows without a global merge) shifts and hashes
  *                   differently.
  *
  * All four are dynamic SQLConf entries, so a preset can be applied to a
  * live session (the ConfigMatrixSpec path) or at build time (Verify's
  * `SPARK_GRAFT_CONF` env var — the full-sweep path the driver-style
  * check replays under, see tools/config_matrix.sh).
  */
object SessionConfigs {

  /** The local session every graft main and test suite runs on:
    * `local[cores]`, `shufflePartitions` shuffle partitions, the graft
    * extensions, UTC session time and no UI. Plan picks
    * (ensureMinParallelism, broadcast gates) read these values, so the
    * fingerprint lockfiles match the test suite only because both build
    * their session here. Like `getOrCreate`, it returns the JVM's live
    * session when there is one. */
  def local(cores: Int): SparkSession = local(cores, cores)

  def local(cores: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      // events.ts identity (stored micros == session-local micros) holds
      // only under UTC; a bare spark-submit on a non-UTC host would
      // silently shift timestamps
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Preset name → (conf key → value). `default` is the empty overlay. */
  val presets: Map[String, Map[String, String]] = Map(
    "default" -> Map.empty,
    "no-reuse" -> Map("spark.sql.exchange.reuse" -> "false"),
    "no-broadcast" -> Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    "aqe-off" -> Map("spark.sql.adaptive.enabled" -> "false"),
    "shuffle7" -> Map("spark.sql.shuffle.partitions" -> "7"))

  def preset(name: String): Map[String, String] =
    presets.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown config preset '$name' (have: ${presets.keys.toSeq.sorted.mkString(", ")})"))

  /** Apply a preset to a live session, returning the previous values of
    * the touched keys so the caller can restore them. */
  def apply(spark: SparkSession, name: String): Map[String, String] = {
    val p = preset(name)
    val saved = p.keys.map(k => k -> spark.conf.get(k)).toMap
    p.foreach { case (k, v) => spark.conf.set(k, v) }
    saved
  }

  def restore(spark: SparkSession, saved: Map[String, String]): Unit =
    saved.foreach { case (k, v) => spark.conf.set(k, v) }
}
