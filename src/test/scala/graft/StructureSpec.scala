package graft

import org.apache.spark.sql.functions._
import graft.structure._

/** Differential tests for §2.4 structure operators against hand-computed
  * awkward-array semantics (the reference's `tests/test_structure.py`
  * expectations on the points fixture). */
class StructureSpec extends SparkSuite with CompiledLocalFrames {
  import spark.implicits._

  private def xs = transform(col("points"), p => p.getField("x"))

  test("num: list lengths per row (ak.num axis=1)") {
    val got = pointsDf.select(num(col("points"))).as[Int].collect().toSeq
    assert(got == Seq(3, 0, 2, 1, 3))
  }

  test("flatten axis=1 into rows via explode") {
    val got = pointsDf.select(explode(col("points")).as("p"))
      .select($"p.x").as[Long].collect().toSeq
    assert(got == Seq(7, 0, 3, 2, 5, 4, 1, 8, 6))
  }

  test("firsts: first element or null on empty (ak.firsts)") {
    val got = pointsDf.select(firsts(xs)).as[Option[Long]].collect().toSeq
    assert(got == Seq(Some(7), None, Some(2), Some(4), Some(1)))
  }

  test("localIndex (ak.local_index axis=1)") {
    val got = pointsDf.select(localIndex(xs)).as[Seq[Int]].collect().toSeq
    assert(got == Seq(Seq(0, 1, 2), Seq(), Seq(0, 1), Seq(0), Seq(0, 1, 2)))
  }

  test("sort + argsort are consistent and argsort is stable") {
    val df = Seq(Seq(3.0, 1.0, 2.0, 1.0)).toDF("xs")
    assert(df.select(sortList($"xs")).as[Seq[Double]].head ==
      Seq(1.0, 1.0, 2.0, 3.0))
    // stable: the two 1.0s keep original relative order (indices 1 then 3)
    assert(df.select(argsortList($"xs")).as[Seq[Int]].head == Seq(1, 3, 2, 0))
  }

  test("combinations2: n-choose-2 pairs, i<j (ak.combinations)") {
    val got = pointsDf.select(combinations2(xs))
      .as[Seq[(Long, Long)]].collect().toSeq
    assert(got(0) == Seq((7, 0), (7, 3), (0, 3)))
    assert(got(1) == Seq())
    assert(got(3) == Seq()) // single element -> no pairs
    assert(got(4) == Seq((1, 8), (1, 6), (8, 6)))
  }

  test("argcombinations2 index pairs") {
    val got = pointsDf.select(argcombinations2(xs))
      .as[Seq[(Int, Int)]].collect().toSeq
    assert(got(0) == Seq((0, 1), (0, 2), (1, 2)))
  }

  test("combinationsN: general n, lexicographic order, short-list edge") {
    val df = Seq(Seq(1L, 2L, 3L, 4L)).toDF("xs")
    assert(df.select(combinationsN($"xs", 3)).as[Seq[Seq[Long]]].head ==
      Seq(Seq(1, 2, 3), Seq(1, 2, 4), Seq(1, 3, 4), Seq(2, 3, 4)))
    assert(df.select(combinationsN($"xs", 4)).as[Seq[Seq[Long]]].head ==
      Seq(Seq(1, 2, 3, 4)))
    // n > len -> empty; matches combinations2 on empties
    assert(pointsDf.select(combinationsN(xs, 3)).as[Seq[Seq[Long]]]
      .collect().toSeq.map(_.size) == Seq(1, 0, 0, 0, 1))
  }

  test("combinationsN with replacement: non-decreasing index tuples") {
    val df = Seq(Seq(1L, 2L)).toDF("xs")
    assert(df.select(combinationsN($"xs", 2, replacement = true))
      .as[Seq[Seq[Long]]].head ==
      Seq(Seq(1, 1), Seq(1, 2), Seq(2, 2)))
    assert(df.select(combinationsN($"xs", 3, replacement = true))
      .as[Seq[Seq[Long]]].head ==
      Seq(Seq(1, 1, 1), Seq(1, 1, 2), Seq(1, 2, 2), Seq(2, 2, 2)))
  }

  test("concatFrames unifies differing forms; enforceType coerces schema") {
    val a = Seq((1L, "x")).toDF("id", "s")
    val b = Seq((2, 3.5)).toDF("id", "v") // narrower id type, extra column
    val u = concatFrames(a, b).orderBy("id")
    assert(u.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(u.columns.toSet == Set("id", "s", "v"))
    assert(u.as[(Long, Option[String], Option[Double])].collect().toSeq ==
      Seq((1L, Some("x"), None), (2L, None, Some(3.5))))
    val t = enforceType(a, org.apache.spark.sql.types.StructType.fromDDL(
      "id INT, s STRING"))
    assert(t.schema("id").dataType == org.apache.spark.sql.types.IntegerType)
  }

  test("argcombinationsN index triples") {
    val got = pointsDf.select(argcombinationsN(xs, 3))
      .as[Seq[Seq[Int]]].collect().toSeq
    assert(got(0) == Seq(Seq(0, 1, 2)))
    assert(got(1) == Seq())
  }

  test("cartesianNested keeps per-left grouping; argcartesian gives index pairs") {
    val df = Seq((Seq(5, 6), Seq(10, 20))).toDF("a", "b")
    assert(df.select(cartesianNested($"a", $"b")).as[Seq[Seq[(Int, Int)]]].head ==
      Seq(Seq((5, 10), (5, 20)), Seq((6, 10), (6, 20))))
    assert(df.select(argcartesianLists($"a", $"b")).as[Seq[(Int, Int)]].head ==
      Seq((0, 0), (0, 1), (1, 0), (1, 1)))
  }

  test("cartesianLists: per-row cross product (ak.cartesian)") {
    val df = Seq((Seq(1, 2), Seq(10, 20))).toDF("a", "b")
    val got = df.select(cartesianLists($"a", $"b")).as[Seq[(Int, Int)]].head
    assert(got == Seq((1, 10), (1, 20), (2, 10), (2, 20)))
  }

  test("padNone clip=true pads and truncates with nulls (ak.pad_none)") {
    val got = pointsDf.select(padNoneClip(xs, 2))
      .as[Seq[Option[Long]]].collect().toSeq
    assert(got == Seq(
      Seq(Some(7), Some(0)), Seq(None, None), Seq(Some(2), Some(5)),
      Seq(Some(4), None), Seq(Some(1), Some(8))))
  }

  test("padNone clip=false only grows") {
    val got = pointsDf.select(padNone(xs, 2)).as[Seq[Option[Long]]].collect().toSeq
    assert(got(0).flatten == Seq(7, 0, 3))
    assert(got(1) == Seq(None, None))
  }

  test("padNone keeps a missing list missing, clip or not (ak.pad_none)") {
    val df = Seq[(Int, Seq[java.lang.Long])]((0, Seq(1L)), (1, null)).toDF("i", "xs")
    val got = df.orderBy($"i").select(padNone($"xs", 3), padNoneClip($"xs", 2))
      .as[(Option[Seq[Option[Long]]], Option[Seq[Option[Long]]])].collect().toSeq
    assert(got == Seq(
      (Some(Seq(Some(1L), None, None)), Some(Seq(Some(1L), None))),
      (None, None)))
  }

  test("fillNone / dropNone / isNone / singletons option semantics") {
    val df = Seq(Seq[java.lang.Double](1.0, null, 3.0)).toDF("xs")
    assert(df.select(fillNone($"xs", lit(0.0))).as[Seq[Double]].head ==
      Seq(1.0, 0.0, 3.0))
    assert(df.select(dropNone($"xs")).as[Seq[Double]].head == Seq(1.0, 3.0))
    assert(df.select(isNone($"xs")).as[Seq[Boolean]].head ==
      Seq(false, true, false))
    val sdf = Seq[(java.lang.Long, Int)]((5L, 0), (null, 1)).toDF("v", "i")
    assert(sdf.orderBy($"i").select(singletons($"v")).as[Seq[Long]].collect().toSeq ==
      Seq(Seq(5L), Seq()))
  }

  test("maskList nulls out failing elements, keeps shape (ak.mask)") {
    val got = pointsDf.select(maskList(xs, _ > 3)).as[Seq[Option[Long]]].collect().toSeq
    assert(got(0) == Seq(Some(7), None, None))
    assert(got(4) == Seq(None, Some(8), Some(6)))
  }

  test("whereList 3-arg select (ak.where)") {
    val df = Seq((Seq(true, false), Seq(1, 2), Seq(10, 20))).toDF("c", "x", "y")
    assert(df.select(whereList($"c", $"x", $"y")).as[Seq[Int]].head == Seq(1, 20))
  }

  test("runLengths (ak.run_lengths)") {
    val df = Seq(
      (0, Seq(1, 1, 2, 2, 2, 3)),
      (1, Seq.empty[Int]),
      (2, Seq(5)),
      (3, Seq(1, 2, 1))).toDF("i", "xs")
    val got = df.orderBy($"i").select(runLengths($"xs")).as[Seq[Int]].collect().toSeq
    assert(got == Seq(Seq(2, 3, 1), Seq(), Seq(1), Seq(1, 1, 1)))
  }

  test("unflattenList regroups by counts (ak.unflatten)") {
    val df = Seq((Seq(1, 2, 3, 4, 5), Seq(2, 0, 3))).toDF("xs", "counts")
    val got = df.select(unflattenList($"xs", $"counts")).as[Seq[Seq[Int]]].head
    assert(got == Seq(Seq(1, 2), Seq(), Seq(3, 4, 5)))
  }

  test("sliceList / gather (inner-axis getitem)") {
    val df = Seq(Seq(10, 11, 12, 13)).toDF("xs")
    assert(df.select(sliceList($"xs", 1, 3)).as[Seq[Int]].head == Seq(11, 12))
    assert(df.select(gather($"xs", array(lit(3), lit(0)))).as[Seq[Int]].head ==
      Seq(13, 10))
  }

  test("zip/unzip round-trip (ak.zip / ak.unzip)") {
    val df = Seq((Seq(1, 2), Seq(9, 8))).toDF("a", "b")
    val zipped = df.select(zipLists($"a", $"b", "x", "y").as("z"))
    assert(zipped.select(unzipField($"z", "x")).as[Seq[Int]].head == Seq(1, 2))
    assert(zipped.select(unzipField($"z", "y")).as[Seq[Int]].head == Seq(9, 8))
  }

  test("flattenInner merges one list level (ak.flatten axis=2)") {
    val df = Seq(Seq(Seq(1, 2), Seq.empty[Int], Seq(3))).toDF("xs")
    assert(df.select(flattenInner($"xs")).as[Seq[Int]].head == Seq(1, 2, 3))
    assert(df.select(numAxis2($"xs")).as[Seq[Int]].head == Seq(2, 0, 1))
  }

  test("valuesAstype / fullLike / broadcastWith") {
    val df = Seq(Seq(1.7, 2.2)).toDF("xs")
    assert(df.select(valuesAstype($"xs",
      org.apache.spark.sql.types.IntegerType)).as[Seq[Int]].head == Seq(1, 2))
    assert(df.select(fullLike($"xs", lit(9.0))).as[Seq[Double]].head ==
      Seq(9.0, 9.0))
    assert(df.select(broadcastWith($"xs", lit(10.0))(_ + _)).as[Seq[Double]].head ==
      Seq(11.7, 12.2))
  }

  test("isclose / nanToNum") {
    val df = Seq((1.0, 1.0 + 1e-9), (1.0, 1.1)).toDF("a", "b")
    assert(df.select(isclose($"a", $"b")).as[Boolean].collect().toSeq ==
      Seq(true, false))
    val nf = Seq(Double.NaN, 2.0).toDF("x")
    assert(nf.select(nanToNum($"x")).as[Double].collect().toSeq == Seq(0.0, 2.0))
  }
}
