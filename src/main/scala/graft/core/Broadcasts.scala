package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{broadcast, count, lit, when}
import org.apache.spark.sql.types.StructType

/** Byte-based broadcast gating (r12 verdict #7), and the one way the
  * eager operators pin, size and gate a frame.
  *
  * The graph, link-predict and quantile operators broadcast a frame
  * they have just pinned when its COUNTED size fits a byte budget. A
  * row count alone is the wrong unit for what the gate protects —
  * driver and executor memory holding the built hash relation —
  * because 5M rows of (long, long) is ~240 MB built while 5M rows of a
  * wide struct is gigabytes. This derives the row gate from a byte
  * budget and the frame's schema, so the decision scales with what is
  * actually shipped.
  *
  * The width model is deliberately simple and CONSERVATIVE for the
  * fixed-width frames the gates guard (all-long node/degree/rank
  * frames): Catalyst's `DataType.defaultSize` per column plus
  * [[perFieldOverheadBytes]] per column for UnsafeRow null bits /
  * offsets / object headers in the built relation, plus
  * [[perRowOverheadBytes]] per row. Variable-width columns use
  * defaultSize (20 B for strings) — callers broadcasting genuinely
  * fat variable-width payloads should keep their own contracts.
  *
  * The count comes from [[pinCounted]]: an observe() metric on the job
  * that pins the frame, so sizing a frame costs no Spark job of its
  * own. [[buildSide]] turns that count into the join side, and
  * [[pinGated]] does both for a frame gated on its own size.
  */
object Broadcasts {

  val perRowOverheadBytes: Long = 16L
  val perFieldOverheadBytes: Long = 8L

  /** Default budget for one broadcast relation: comfortably inside
    * executor/driver memory at default cluster sizings (the guide's
    * "a few hundred MB is usually fine; multiple GB is asking for
    * driver OOMs" — one-eighth of the 512 MB danger zone), far below
    * Spark's 8 GB hard cap. */
  val defaultBudgetBytes: Long = 64L << 20

  /** Estimated in-memory bytes per row of `schema` in a built hash
    * relation. */
  def estRowBytes(schema: StructType): Long =
    perRowOverheadBytes +
      schema.fields.map(f =>
        f.dataType.defaultSize.toLong + perFieldOverheadBytes).sum

  /** The row-count gate equivalent to `budgetBytes` for `schema`:
    * broadcast while rows * estRowBytes <= budget. */
  def rowGate(schema: StructType, budgetBytes: Long = defaultBudgetBytes): Long =
    budgetBytes / estRowBytes(schema)

  /** True when `rows` rows of `schema` fit the byte budget. */
  def fits(rows: Long, schema: StructType,
      budgetBytes: Long = defaultBudgetBytes): Boolean =
    rows <= rowGate(schema, budgetBytes)

  /** Eagerly pin `df` (localCheckpoint) and return it with the number of
    * its rows where `where` holds — every row by default. The count is
    * an observe() metric of the pinning job itself, so there is no
    * second count() job. It is a `count`, never a `sum`: an empty frame
    * reads 0, not null. The Observation is unnamed, so repeated calls in
    * one session cannot collide on a name. */
  def pinCounted(df: DataFrame, where: Column = lit(true)): (DataFrame, Long) = {
    val (pinned, Seq(n)) = pinCounts(df, Seq(where))
    (pinned, n)
  }

  /** [[pinCounted]] with one count per condition in `wheres`, all
    * observed on the one pinning job. */
  private[graft] def pinCounts(df: DataFrame, wheres: Seq[Column]): (DataFrame, Seq[Long]) = {
    val obs = Observation()
    val counts = wheres.indices.map(i => count(when(wheres(i), lit(1))).as(s"n$i"))
    val pinned = df.observe(obs, counts.head, counts.tail: _*).localCheckpoint()
    (pinned, wheres.indices.map(i => obs.get(s"n$i").asInstanceOf[Long]))
  }

  /** How a frame of `rows` rows of `schema` enters a join as its build
    * side: broadcast under the byte gate; above it, shuffled-hash with
    * the frame as the per-partition build (no sorts, and the build
    * stays bounded because the partition count grows with the input). */
  def buildSide(rows: Long, schema: StructType): DataFrame => DataFrame =
    if (fits(rows, schema)) broadcast(_) else _.hint("shuffle_hash")

  /** [[pinCounted]] then [[buildSide]] on the pinned frame's own count
    * and schema: the pinned frame and how it (or any projection of it)
    * joins. */
  def pinGated(df: DataFrame): (DataFrame, DataFrame => DataFrame) = {
    val (pinned, rows) = pinCounted(df)
    (pinned, buildSide(rows, pinned.schema))
  }
}
