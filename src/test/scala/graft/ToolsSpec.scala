package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** The developer-facing commands: every main the docs and test messages
  * tell a reader to run exists, and the profiler's interval arithmetic. */
class ToolsSpec extends AnyFunSuite {

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

  test("Profile.union: covered milliseconds of overlapping, clipped spans") {
    // [2, 20] from two overlapping spans, [30, 35] clipped at the window end
    assert(Profile.union(Seq((30L, 40L), (0L, 10L), (5L, 20L), (6L, 8L)), 2L, 35L) == 23L)
    assert(Profile.union(Nil, 0L, 10L) == 0L)
  }
}
