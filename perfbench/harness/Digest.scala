package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query's output: the row count plus the sum
  * (as a 38-digit decimal, so it cannot overflow) of one 64-bit hash per row.
  * Rows are hashed positionally over canonical cells: floating-point values,
  * at any nesting depth, are rendered with 10 significant digits (the
  * precision the repo's oracle check compares at), so last-bit differences
  * from partition-order-dependent float sums never flip a digest. */
object Digest {
  final case class Value(rows: Long, hash: String) {
    override def toString: String = s"$rows:$hash"
  }

  def canonical(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => format_string("%.10g", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => canonical(x, et))
    case StructType(fields) =>
      struct(fields.toSeq.map(f => canonical(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      canonical(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  private def positional(df: DataFrame): DataFrame =
    df.toDF(df.columns.indices.map(i => s"c$i"): _*)

  /** Row count and hash-sum aggregates over a positionally renamed frame. */
  private def aggregates(p: DataFrame): Seq[Column] = {
    val rowHash =
      if (p.schema.isEmpty) lit(0L)
      else xxhash64(p.schema.fields.toSeq.map(f => canonical(p.col(f.name), f.dataType)): _*)
    val hashSum = sum(rowHash.cast(DecimalType(38, 0)))
    Seq(count(lit(1)).as("rows"), coalesce(hashSum, lit(0).cast(DecimalType(38, 0))).as("hash"))
  }

  /** `df` with the digest attached as an observation: the action that runs
    * it fills `obs` in the same execution, with no extra job. */
  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val p = positional(df)
    val aggs = aggregates(p)
    p.observe(obs, aggs.head, aggs.tail: _*)
  }

  def read(obs: Observation): Value = {
    val m = obs.get
    Value(m("rows").asInstanceOf[Long], m("hash").toString)
  }

  /** The digest computed by an ordinary aggregate (used by the self-tests). */
  def of(df: DataFrame): Value = {
    val p = positional(df)
    val aggs = aggregates(p)
    val r = p.agg(aggs.head, aggs.tail: _*).head()
    Value(r.getLong(0), r.get(1).toString)
  }
}
