package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, matching the
  * reference's single threaded scheduler for tests). */
object SparkSuite {
  lazy val spark: SparkSession = graft.core.SessionConfigs.local(4)
}

/** For the suites that select graft.functions kernels over local frames:
  * excludes `ConvertToLocalRelation` while the suite runs, as Spark's own
  * test sessions do. The rule evaluates a projection over a
  * `Seq(...).toDF` frame inside the optimizer, interpreted, so without
  * this a kernel selected over a local frame never runs its generated
  * code in a test. Other suites keep the tools' session config, which
  * the plan lockfile compares rely on: the rule folds the final
  * projection of some queries into their local relation. */
trait CompiledLocalFrames extends BeforeAndAfterAll { this: SparkSuite =>
  private val excludedRules = "spark.sql.optimizer.excludedRules"

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(excludedRules,
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
  }

  override def afterAll(): Unit =
    try spark.conf.unset(excludedRules) finally super.afterAll()
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark

  /** The reference's workhorse ragged fixture: 5 rows of points with list
    * lengths (3, 0, 2, 1, 3) including an empty row
    * (reference `tests/conftest.py:24-30`, `lib/testutils.py:125-150`). */
  def pointsDf: DataFrame = {
    val json = Seq(
      """{"points": [{"x": 7, "y": 2}, {"x": 0, "y": 10}, {"x": 3, "y": 3}]}""",
      """{"points": []}""",
      """{"points": [{"x": 2, "y": 2}, {"x": 5, "y": 1}]}""",
      """{"points": [{"x": 4, "y": 4}]}""",
      """{"points": [{"x": 1, "y": 9}, {"x": 8, "y": 8}, {"x": 6, "y": 6}]}""")
    import spark.implicits._
    spark.read.json(spark.createDataset(json))
  }

  /** Ragged numeric lists incl. nulls and an empty list — reducer fixture. */
  def raggedDf: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0, 3.0)),
      (2L, Seq.empty[java.lang.Double]),
      (3L, Seq[java.lang.Double](5.0, null, 4.0)),
      (4L, Seq[java.lang.Double](2.0, 2.0, 7.0, 0.0))
    ).toDF("id", "xs")
  }

  def collectMap[K, V](df: DataFrame): Map[K, V] =
    df.collect().map(r => r.get(0).asInstanceOf[K] -> r.get(1).asInstanceOf[V]).toMap
}
