package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, matching the
  * reference's single threaded scheduler for tests). */
object SparkSuite {
  lazy val spark: SparkSession = graft.core.SessionConfigs.local(4)
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
