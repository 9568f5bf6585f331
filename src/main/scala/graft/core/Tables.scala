package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loading for the driver's TPC-H-ish test corpus (TESTDATA.md).
  *
  * Mirrors the reference's source layer (`from_parquet`,
  * reference `src/dask_awkward/lib/io/parquet.py:251-427`): Spark's parquet
  * source natively provides per-file/row-group partitioning, footer-schema
  * metadata, and column pruning, so this is intentionally thin.
  *
  * DataFrames are memoized per (session, dir, table) so repeated queries in a
  * bench run share one analyzed plan (the reference's layer-dedup LRU,
  * `core.py:881`, is the analogue). Memoization stores the *plan*, not data.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // A DataFrame is bound to the session that built it, and test suites
  // stop/recreate sessions within one JVM — a (dir, name)-only key would hand
  // back plans bound to a dead session. The key uses the session's identity
  // hash, but the stored session is compared with `eq` on every hit, so an
  // identity-hash collision across sessions rebuilds instead of returning a
  // foreign plan. Entries whose SparkContext has stopped are evicted on each
  // lookup so long-lived JVMs don't accumulate dead plans.
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(Int, String, String), (SparkSession, DataFrame)]

  private def cached(spark: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame = {
    cache.filterInPlace { case (_, (s, _)) => !s.sparkContext.isStopped }
    val key = (System.identityHashCode(spark), dir, name)
    cache.get(key) match {
      case Some((s, df)) if s eq spark => df
      case _ => val df = build; cache.put(key, (spark, df)); df
    }
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    cached(spark, dir, name)(spark.read.parquet(s"$dir/$name.parquet"))

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    * rejects outright. Read it as raw nanos (legacy conf) and truncate to the
    * microsecond timestamps DuckDB also uses internally, so oracle results
    * line up exactly. */
  def events(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "events") {
      // the TIMESTAMP_NTZ -> TimestampType normalization below is identity
      // on the stored micros ONLY under a UTC session — enforce it here
      // rather than inherit it from whichever launcher built the session
      // (sbt-forked runs set it via javaOptions; a bare spark-submit on a
      // non-UTC host would otherwise silently shift every ts value)
      val tz = spark.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"events() requires spark.sql.session.timeZone=UTC (got $tz): " +
          "the NTZ->Timestamp cast below is only identity on stored micros under UTC")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/events.parquet")
      // NANOS surfaces as LongType under the legacy conf and needs the
      // truncation; plain MICROS without isAdjustedToUTC surfaces as
      // TIMESTAMP_NTZ and is normalized to TimestampType (identity on the
      // stored micros under the UTC session this repo runs with) so every
      // downstream consumer — asof/range joins, watermarks, oracles — sees
      // the one ts type regardless of which writer produced the corpus;
      // re-generated corpora (e.g. the scale soaks) carry ordinary
      // adjusted-to-UTC MICROS timestamps that pass through untouched.
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros((col("ts") / 1000).cast("long")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  /** The canonical nested ("ragged") view: one row per order with its line
    * items as an array-of-struct column, sorted by line number so downstream
    * positional ops (`firsts`, `argsort`, slices) are deterministic.
    *
    * This is how the flat driver tables exercise the reference's nested data
    * model (list-of-record rows, reference `tests/conftest.py:24-30`): a
    * single shuffle on the group key builds the ragged axis; every axis>=1
    * operator afterwards is row-local (no further shuffle), exactly like the
    * reference's partitionwise `map_partitions` ops.
    */
  def ordersNested(spark: SparkSession, dir: String): DataFrame =
    // CONDITIONAL width repartition on the group key BEFORE the
    // collect_list aggregate (r12 verdict #3: the r12 unconditional form
    // taxed every one of the ~25 nested consumers with a raw-row
    // exchange even when the scan was already wide). Why repartition at
    // all: partial aggregation cannot reduce a list-building agg (it
    // only wraps rows — same bytes cross the exchange either way), but
    // it CAN serialize it — a narrow scan (1 parquet split at sf0.1)
    // runs the partial ObjectHashAggregate at scan parallelism while 31
    // cores idle, and the explicit count keeps AQE from byte-coalescing
    // the ragged build. ensureMinParallelism makes it a NO-OP whenever
    // the scan already yields >= shuffle-width splits (any real corpus,
    // and the 100 TB case) — there the aggregate plans its own partial+
    // exchange as before. Isolated A/B at sf0.1 (warm noop-write run):
    // with the repartition r_softmax 1.24s / s_argsort 0.76 /
    // s_runlengths 0.75 / s_flatten 0.60; without it 1.85 / 1.22 /
    // 1.39 / 1.09 — the exchange wins for EVERY family member here
    // because the 1-split scan is the bottleneck either way.
    graft.core.Partitions.ensureMinParallelism(
        lineitem(spark, dir), col("l_orderkey"))
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(
        sort_array(collect_list(struct(
          col("l_linenumber").as("linenumber"),
          col("l_quantity").as("quantity"),
          col("l_extendedprice").as("extendedprice"),
          col("l_discount").as("discount"),
          col("l_returnflag").as("returnflag")
        ))).as("items"))
}
