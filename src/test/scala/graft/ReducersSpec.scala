package graft

import org.apache.spark.sql.functions._
import graft.reducers._
import graft.HofWitness.argExtremumHof
import org.scalactic.Tolerance._

/** Differential tests for §2.5 reducers (reference `tests/test_reducers.py`
  * parametrization: axis x mask_identity on ragged rows incl. empty lists
  * and nulls). */
class ReducersSpec extends SparkSuite with CompiledLocalFrames {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, xs: Seq[java.lang.Double]): Any = {
    Seq(xs).toDF("xs").select(c).collect()(0).get(0)
  }

  test("sumList skips nulls, empty -> 0 (ak.sum identity)") {
    val got = raggedDf.orderBy($"id").select(sumList($"xs")).as[Double].collect().toSeq
    assert(got == Seq(6.0, 0.0, 9.0, 11.0))
  }

  test("prodList (ak.prod)") {
    val got = raggedDf.orderBy($"id").select(prodList($"xs")).as[Double].collect().toSeq
    assert(got == Seq(6.0, 1.0, 20.0, 0.0))
  }

  test("min/max null on empty (mask_identity)") {
    val got = raggedDf.orderBy($"id")
      .select(minList($"xs"), maxList($"xs"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(got == Seq(
      (Some(1.0), Some(3.0)), (None, None), (Some(4.0), Some(5.0)),
      (Some(0.0), Some(7.0))))
  }

  test("countList counts non-null only (ak.count)") {
    val got = raggedDf.orderBy($"id").select(countList($"xs")).as[Int].collect().toSeq
    assert(got == Seq(3, 0, 2, 4))
  }

  test("countNonzeroList (ak.count_nonzero)") {
    val got = raggedDf.orderBy($"id")
      .select(countNonzeroList($"xs")).as[Int].collect().toSeq
    assert(got == Seq(3, 0, 2, 3))
  }

  test("any/all boolean identities on empty") {
    val df = Seq(
      (0, Seq(true, false)), (1, Seq.empty[Boolean]), (2, Seq(true, true)))
      .toDF("i", "bs")
    val got = df.orderBy($"i").select(anyList($"bs"), allList($"bs"))
      .as[(Boolean, Boolean)].collect().toSeq
    assert(got == Seq((true, false), (false, true), (true, true)))
  }

  test("argmin/argmax: first extremum 0-based, null on empty, skip nulls") {
    val got = raggedDf.orderBy($"id")
      .select(argminList($"xs"), argmaxList($"xs"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(got == Seq(
      (Some(0L), Some(2L)), (None, None), (Some(2L), Some(0L)),
      (Some(3L), Some(2L))))
    // tie -> first occurrence
    assert(one[Long](argminList($"xs"), Seq(2.0, 1.0, 1.0)) == 1L)
    assert(one[Long](argmaxList($"xs"), Seq(3.0, 3.0, 1.0)) == 0L)
  }

  test("argmin/argmax NaN contract: numpy propagation, first NaN wins both") {
    // np.argmin([2, nan, 1]) == np.argmax([2, nan, 1]) == 1 — NaN
    // propagates regardless of direction, NOT Spark's NaN-sorts-greatest
    val nan = java.lang.Double.valueOf(Double.NaN)
    assert(one[Long](argminList($"xs"), Seq(2.0, nan, 1.0)) == 1L)
    assert(one[Long](argmaxList($"xs"), Seq(2.0, nan, 1.0)) == 1L)
    assert(one[Long](argminList($"xs"), Seq(nan, 1.0)) == 0L)
    assert(one[Long](argmaxList($"xs"), Seq(1.0, nan)) == 1L)
    assert(one[Long](argminList($"xs"), Seq(nan, nan)) == 0L)
    // nulls are skipped but advance the index, NaN after a null still wins
    assert(one[Long](argmaxList($"xs"), Seq(null, nan, 9.0)) == 1L)
  }

  test("ArgExtremum expression equals the interpreted HOF spelling") {
    // the codegen'd expression replaced the aggregate(struct(...)) fold;
    // pin equality over ragged rows incl. empties, nulls, ties, and NaN
    val nan = java.lang.Double.valueOf(Double.NaN)
    val df = Seq(
      (0, Seq[java.lang.Double](1.0, 3.0, 2.0)),
      (1, Seq.empty[java.lang.Double]),
      (2, Seq[java.lang.Double](5.0, null, 4.0)),
      (3, Seq[java.lang.Double](null, null)),
      (4, Seq[java.lang.Double](2.0, 1.0, 1.0, 2.0)),
      (5, Seq[java.lang.Double](2.0, nan, 1.0)),
      (6, Seq[java.lang.Double](nan, nan)),
      (7, Seq[java.lang.Double](null, nan, 9.0)),
      (8, Seq[java.lang.Double](1.0, 3.0, nan, 3.0))).toDF("id", "xs")
    for (smaller <- Seq(true, false)) {
      val got = df.orderBy($"id")
        .select(graft.functions.ReducerExprs.argExtremum($"xs", smaller),
          argExtremumHof($"xs", smaller))
        .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
      got.foreach { case (expr, hof) => assert(expr == hof) }
    }
  }

  test("mean/var/std with ddof (ak.mean unimplemented at axis=0 in ref)") {
    assert(one[Double](meanList($"xs"), Seq(1.0, 2.0, 3.0)) == 2.0)
    assert(one[Double](varList($"xs"), Seq(1.0, 2.0, 3.0))
      .asInstanceOf[Double] === 2.0 / 3 +- 1e-12)
    assert(one[Double](varList($"xs", 1), Seq(1.0, 2.0, 3.0))
      .asInstanceOf[Double] === 1.0 +- 1e-12)
    assert(one[Double](stdList($"xs", 1), Seq(1.0, 2.0, 3.0))
      .asInstanceOf[Double] === 1.0 +- 1e-12)
    assert(Option(one[Double](meanList($"xs"), Seq.empty[java.lang.Double])).isEmpty)
  }

  test("ptp / moment / softmax") {
    assert(one[Double](ptpList($"xs"), Seq(1.0, 5.0, 2.0)) == 4.0)
    assert(one[Double](momentList($"xs", 2), Seq(1.0, 2.0, 3.0))
      .asInstanceOf[Double] === 14.0 / 3 +- 1e-12)
    val sm = Seq(Seq(1.0, 2.0, 3.0)).toDF("xs")
      .select(softmaxList($"xs")).as[Seq[Double]].head
    assert(math.abs(sm.sum - 1.0) < 1e-12)
    assert(sm(2) > sm(1) && sm(1) > sm(0))
  }

  test("corr/covar/linearFit against known values") {
    val df = Seq((Seq(1.0, 2.0, 3.0, 4.0), Seq(2.0, 4.0, 6.0, 8.0))).toDF("x", "y")
    assert(df.select(corrList($"x", $"y")).as[Double].head === 1.0 +- 1e-12)
    assert(df.select(covarList($"x", $"y")).as[Double].head === 2.5 +- 1e-12)
    val fit = df.select(linearFitList($"x", $"y").as("f"))
      .select($"f.slope", $"f.intercept").as[(Double, Double)].head
    assert(fit._1 === 2.0 +- 1e-12)
    assert(fit._2 === 0.0 +- 1e-12)
  }
}
