package perfbench

import java.io.File
import org.apache.spark.sql.functions._

/** JVM half of the harness self-tests (tests/test_harness.py runs it).
  *
  * Checks that the output digest ignores row order and partitioning but
  * not content, then runs [[Harness.run]] over a small query set holding
  * one query that throws in its build call, one that throws in its action
  * call, and one whose digest does not match; the Python side checks how
  * the records count them.
  *
  * Usage: perfbench.SelfTest <output dir>
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val out = new File(args(0))
    val spark = Harness.session(2, new File(out, "tmp").getAbsolutePath)
    try {
      val df = spark.range(0, 1000, 1, 4).selectExpr("id", "id * 0.1 AS x",
        "array(named_struct('a', id, 'b', id / 3.0)) AS nested", "map('k', id) AS m")
      val d = Digest.of(df)
      def check(what: String, ok: Boolean): Unit = if (!ok) sys.error(s"digest $what")
      check("depends on row order", Digest.of(df.orderBy(col("id").desc)) == d)
      check("depends on partitioning", Digest.of(df.repartition(7)) == d)
      check("misses a changed cell", Digest.of(df.withColumn("x",
        when(col("id") === 500, lit(0.0)).otherwise(col("x")))) != d)
      check("misses a dropped row", Digest.of(df.filter(col("id") =!= 3)) != d)
      check("misses a duplicated row", Digest.of(df.union(df.limit(1))) != d)
      check("sees last-bit float noise",
        Digest.of(spark.range(1).select((lit(0.1) + lit(0.2)).as("v"))) ==
          Digest.of(spark.range(1).select(lit(0.3).as("v"))))

      val good: Harness.Query = (s, _) => s.range(0, 100, 1, 2).toDF("id")
      val queries = Map[String, Harness.Query](
        "good" -> good,
        "mismatch" -> good,
        "throws_build" -> ((_, _) => throw new IllegalStateException("deliberate")),
        "throws_action" -> ((s, _) => s.range(3).select(raise_error(lit("deliberate")))))
      val right = Digest.of(good(spark, ""))
      val names = queries.keys.toSeq.sorted
      val plan = Harness.Plan("", 2, 0.5, trace = false,
        names.map(n => n -> (if (n == "mismatch") right.copy(rows = 1) else right)),
        Seq.fill(20)(names))
      Harness.run(spark, queries, plan, out)
    } finally spark.stop()
  }
}
