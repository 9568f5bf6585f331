package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructType}

/** Unit pin for the byte-based broadcast gate (r12 verdict #7): the
  * decision function's constants are derived from schema width and the
  * 64 MB budget, and stay where the rank/link-predict/quantile gates
  * expect them. Also pins how a frame is pinned and sized: one job, and
  * an empty frame sizes to 0. */
class BroadcastGateSpec extends SparkSuite {
  import graft.core.Broadcasts
  import spark.implicits._

  private val twoLongs =
    new StructType().add("k", LongType).add("v", LongType)

  test("row width model: per-row + per-field overhead over defaultSize") {
    // (long, long): 16 row overhead + 2 * (8 data + 8 field overhead)
    assert(Broadcasts.estRowBytes(twoLongs) === 48L)
  }

  test("row gate: 64 MB budget over a (long, long) frame is ~1.4M rows") {
    val gate = Broadcasts.rowGate(twoLongs)
    assert(gate === (64L << 20) / 48L)
    assert(gate > 1000000L && gate < 2000000L)
    assert(Broadcasts.fits(1000000L, twoLongs))
    assert(!Broadcasts.fits(2000000L, twoLongs))
  }

  test("gate binds BELOW the legacy 5M row threshold for node frames") {
    // the point of verdict #7: 5M (long, long) rows would be ~240 MB
    // built — the byte budget must refuse that long before 5M
    assert(Broadcasts.rowGate(twoLongs) < 5000000L)
  }

  test("pinCounted: an empty frame sizes to 0, before and after a shuffle") {
    val (pinned, rows) = Broadcasts.pinCounted(Seq.empty[Long].toDF("node"))
    assert(rows === 0L && pinned.count() === 0L)
    // the where-count of an empty shuffled frame is 0 too, not null
    val (_, dead) = Broadcasts.pinCounted(
      Seq.empty[Long].toDF("node").groupBy(col("node")).count(),
      col("count") < 2)
    assert(dead === 0L)
  }

  test("pinCounted: counts the rows where the predicate holds, keeps every row") {
    val (pinned, big) = Broadcasts.pinCounted(
      (1L to 10L).toDF("node").repartition(3), col("node") > 7)
    assert(big === 3L && pinned.count() === 10L)
  }

  test("pinCounted: the count comes from the pinning job, not a second job") {
    val meter = new graft.tools.Profile.Meter(spark)
    meter.attach()
    try {
      val frame = spark.range(0L, 100L, 1L, 4).toDF("node")
      val ((_, rows), t) = meter.measure(Broadcasts.pinCounted(frame))
      assert(rows === 100L && t.jobs === 1)
    } finally meter.detach()
  }

  test("buildSide: broadcast under the byte gate, shuffled-hash above it") {
    val df = Seq(1L).toDF("node")
    def strategy(rows: Long) =
      Broadcasts.buildSide(rows, df.schema)(df).queryExecution.analyzed.toString
    assert(strategy(Broadcasts.rowGate(df.schema)).contains("strategy=broadcast"))
    assert(strategy(Broadcasts.rowGate(df.schema) + 1).contains("strategy=shuffle_hash"))
  }
}
