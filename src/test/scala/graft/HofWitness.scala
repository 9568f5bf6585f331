package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The higher-order-function spellings that the compiled kernels of
  * graft.functions replaced. Each kernel must return what its spelling
  * here returns, bit for bit; DifferentialFuzzSpec checks that on
  * generated data, ModulesSpec on the BPE corpus.
  *
  * One spelling is corrected rather than kept: the old `padNoneClip` and
  * `padNone` returned `target` nulls for a missing list, and the kernels,
  * like awkward, keep it missing. Their witnesses add that null guard.
  */
object HofWitness {

  private def dbl(c: Column): Column = c.cast(DoubleType)

  def sumList(c: Column): Column =
    aggregate(c, lit(0.0), (acc, x) => acc + coalesce(dbl(x), lit(0.0)))

  def prodList(c: Column): Column =
    aggregate(c, lit(1.0), (acc, x) => acc * coalesce(dbl(x), lit(1.0)))

  def countList(c: Column): Column = size(filter(c, x => x.isNotNull))

  def countNonzeroList(c: Column): Column =
    size(filter(c, x => x.isNotNull && x =!= 0))

  def anyList(c: Column): Column = exists(c, x => x)
  def allList(c: Column): Column = forall(c, x => x)

  def meanList(c: Column): Column =
    when(countList(c) > 0, sumList(c) / countList(c))

  def varList(c: Column, ddof: Int = 0): Column = {
    val n = countList(c)
    val mu = meanList(c)
    val ss = aggregate(c, lit(0.0),
      (acc, x) => acc + coalesce(pow(dbl(x) - mu, 2), lit(0.0)))
    when(n > ddof, ss / (n - lit(ddof)))
  }

  def stdList(c: Column, ddof: Int = 0): Column = sqrt(varList(c, ddof))

  def momentList(c: Column, n: Int): Column =
    when(countList(c) > 0,
      aggregate(c, lit(0.0),
        (acc, x) => acc + coalesce(pow(dbl(x), n), lit(0.0))) / countList(c))

  def softmaxList(c: Column): Column = {
    val m = dbl(array_max(c))
    val z = aggregate(c, lit(0.0), (acc, x) => acc + exp(dbl(x) - m))
    transform(c, x => exp(dbl(x) - m) / z)
  }

  /** argmin/argmax with the kernel's explicit NaN contract (numpy
    * propagation: the first NaN wins both directions). Spark's raw `<`/`>`
    * ordering treats NaN as greatest, so the NaN clause is spelled out. */
  def argExtremumHof(c: Column, smaller: Boolean): Column = {
    val zero = struct(lit(null).cast(DoubleType).as("best"),
      lit(null).cast(LongType).as("idx"), lit(0L).as("i"))
    aggregate(c, zero, (acc, x) => {
      val better = x.isNotNull && !isnan(acc.getField("best")) &&
        (acc.getField("best").isNull || isnan(dbl(x)) ||
          (if (smaller) dbl(x) < acc.getField("best")
           else dbl(x) > acc.getField("best")))
      struct(
        when(better, dbl(x)).otherwise(acc.getField("best")).as("best"),
        when(better, acc.getField("i")).otherwise(acc.getField("idx")).as("idx"),
        (acc.getField("i") + 1).as("i"))
    }, acc => acc.getField("idx"))
  }

  def localIndex(c: Column): Column = transform(c, (_, i) => i)

  def argsortList(c: Column): Column =
    transform(
      sort_array(zip_with(c, localIndex(c), (v, i) => struct(v.as("v"), i.as("i")))),
      s => s.getField("i"))

  def padNoneClip(c: Column, target: Int): Column =
    when(c.isNotNull, transform(sequence(lit(0), lit(target - 1)), i => get(c, i)))

  def padNone(c: Column, target: Int): Column =
    when(size(c) >= target, c).otherwise(padNoneClip(c, target))

  def fillNone(c: Column, v: Column): Column = transform(c, x => coalesce(x, v))

  def cartesianLists(a: Column, b: Column, an: String = "a", bn: String = "b"): Column =
    flatten(transform(a, x => transform(b, y => struct(x.as(an), y.as(bn)))))

  /** `graft.dedup.polyHash` (the PolyHash kernel) as a fold over
    * `split(c, "")`, one `ascii` per piece. */
  def polyHash(c: Column): Column =
    aggregate(split(c, ""), lit(0L),
      (acc, ch) => (acc * 131 + ascii(ch)) % 1000000007L)

  /** `graft.text.bpeSegmentCounts` (the BpeCount kernel) as an aggregate
    * over a per-word replace fold, one `replace` per rule. */
  def bpeSegmentCountsHof(df: DataFrame, idCol: String, textCol: String,
      rules: Seq[(String, String)]): DataFrame = {
    val toks = graft.text.wsTokens(lower(col(textCol)))
    def nsym(w: Column): Column = {
      val repr0 = concat(lit("|"), array_join(split(w, ""), "||"), lit("|"))
      val reprN = rules.foldLeft(repr0) { case (acc, (a, b)) =>
        replace(acc, lit(s"|$a||$b|"), lit(s"|$a$b|"))
      }
      size(split(trim(reprN, "|"), "\\|\\|")).cast("long")
    }
    df.select(col(idCol),
      coalesce(size(toks), lit(0)).cast("long").as("n_words"),
      coalesce(aggregate(toks, lit(0L), (acc, w) =>
        acc + when(w.rlike("^[a-z0-9]+$"), nsym(w)).otherwise(lit(1L))),
        lit(0L)).as("n_bpe"))
  }

  def unflattenList(c: Column, counts: Column): Column = {
    val offsets = aggregate(
      counts,
      array(lit(0)),
      (acc, n) => concat(acc, array(element_at(acc, -1) + n)))
    zip_with(slice(offsets, lit(1), size(counts)), counts,
      (off, n) => slice(c, off + 1, n))
  }
}
