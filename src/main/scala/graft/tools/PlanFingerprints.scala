package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Plan-shape lockfile over EVERY SparkEntry query: records each query's
  * physical-plan fingerprint (scan/exchange/join/codegen node counts
  * from Inspect.explainSummary) into docs/PLAN_FINGERPRINTS.json.
  * PlanQualitySpec compares the live plans against this file, so a
  * change that silently degrades ANY of the ~200 graded plans — a lost
  * broadcast, a divergent subtree doubling a scan, a join falling to
  * nested-loop — fails the suite with a diff instead of shipping. The
  * hand-written pins assert the load-bearing shapes; this locks the
  * rest.
  *
  * Regenerate after INTENDED plan changes:
  *   sbt "runMain graft.tools.PlanFingerprints"
  * and review the git diff — every changed line is a plan change you
  * are claiming on purpose.
  */
object PlanFingerprints {

  val file = "docs/PLAN_FINGERPRINTS.json"

  def fingerprint(df: org.apache.spark.sql.DataFrame): String = {
    val s = graft.inspect.Inspect.explainSummary(df)
    s"scans=${s.scans} exchanges=${s.exchanges} bhj=${s.broadcastJoins} " +
      s"smj=${s.sortMergeJoins} nlj=${s.nestedLoopJoins} wsc=${s.wholeStageCodegen}"
  }

  /** Build (NOT execute) each query at the fixture scale and fingerprint
    * its initial physical plan. Eager operators (peel loops, bisection,
    * k-means training) run their bounded driver rounds during build —
    * that is part of their deterministic plan identity. A query that
    * throws records ERROR:<class>, symmetrically with the spec. */
  def compute(spark: SparkSession, dir: String): Seq[(String, String)] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val fp =
        try fingerprint(fn(spark, dir))
        catch { case e: Throwable => s"ERROR:${e.getClass.getSimpleName}" }
      name -> fp
    }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    // SparkSuite's session: PlanQualitySpec compares the fingerprints
    // under it, and plan picks (ensureMinParallelism, broadcast
    // thresholds) read the config
    val spark = graft.core.SessionConfigs.local(4)
    val fps = compute(spark, dir)
    val json = fps.map { case (n, f) => s"""  "$n": "$f"""" }
      .mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(file), json)
    println(s"[fp] wrote ${fps.size} fingerprints to $file")
    spark.stop()
  }
}
