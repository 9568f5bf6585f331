package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.tools.Profile

/** The developer-facing commands: every main the docs and test messages
  * tell a reader to run exists, and the profiler's interval arithmetic and
  * plan census. */
class ToolsSpec extends SparkSuite {

  test("every runMain target in README, docs and tests resolves to a main") {
    def under(dir: String, ext: String): Seq[Path] =
      Files.walk(Paths.get(dir)).iterator.asScala
        .filter(_.toString.endsWith(ext)).toSeq
    val files = Paths.get("README.md") +: (under("docs", ".md") ++
      under("src/test/scala", ".scala"))
    val named = files.flatMap { f =>
      """runMain\s+(graft(?:\.\w+)+)""".r
        .findAllMatchIn(Files.readString(f)).map(m => m.group(1) -> f)
    }.distinct
    assert(named.map(_._1).toSet.contains("graft.Verify"),
      "the scan found none of the documented commands")
    def hasMain(cls: String): Boolean =
      try java.lang.reflect.Modifier.isStatic(
        Class.forName(cls).getMethod("main", classOf[Array[String]]).getModifiers)
      catch { case _: ClassNotFoundException | _: NoSuchMethodException => false }
    val dangling = named.filterNot { case (cls, _) => hasMain(cls) }
    assert(dangling.isEmpty,
      s"documented commands without a main: ${dangling.mkString(", ")}")
  }

  test("the range-tag, pin and pid-offset join live only in Partitions.runningSums") {
    // spark_partition_id in code (comments stripped): the prefix scan's
    // partition tag, and g_divisions' placement report, which reads where
    // repartitionDivisions put each row
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(f => f.toString.endsWith(".scala") && !f.toString.contains("/graft/tools/"))
      .toSeq
    val uses = files.filter { f =>
      val code = Files.readString(f).replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//[^\\n]*", "")
      code.contains("spark_partition_id")
    }.map(f => Paths.get("src/main/scala").relativize(f).toString).sorted
    assert(uses == Seq("graft/core/Partitions.scala", "graft/queries/GetitemIoQueries.scala"),
      uses.mkString(", "))
    val partitions = Files.readString(Paths.get("src/main/scala/graft/core/Partitions.scala"))
    assert("spark_partition_id".r.findAllIn(partitions).size == 1)
  }

  test("Profile.union: covered milliseconds of overlapping, clipped spans") {
    // [2, 20] from two overlapping spans, [30, 35] clipped at the window end
    assert(Profile.union(Seq((30L, 40L), (0L, 10L), (5L, 20L), (6L, 8L)), 2L, 35L) == 23L)
    assert(Profile.union(Nil, 0L, 10L) == 0L)
  }

  test("Profile.fallbackExprs counts interpreted expressions once per HOF") {
    import spark.implicits._
    val df = Seq((1, Seq(1.0, 2.0)), (2, Seq(3.0))).toDF("id", "xs").repartition(2)
    def census(cols: org.apache.spark.sql.Column*): Int = {
      val q = df.select(cols: _*)
      q.collect() // the final adaptive plan
      Profile.fallbackExprs(q.queryExecution.executedPlan)
    }
    assert(census($"id") == 0)
    // two HOFs, one nested in the other's lambda; the lambdas add nothing
    assert(census(transform($"xs", x => aggregate($"xs", x, (a, y) => a + y))) == 2)
    assert(census(exists($"xs", _ > 1.0), $"id") == 1)
    // the compiled list kernels are not fallbacks
    assert(census(graft.reducers.sumList($"xs"), graft.structure.argsortList($"xs")) == 0)
  }
}
