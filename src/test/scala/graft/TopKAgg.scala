package graft

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded top-k per group as a typed Aggregator: each partition keeps at
  * most k (score, id) pairs (insertion into a small sorted buffer), partial
  * buffers merge at the final stage. Order: score DESC, id ASC (ties),
  * matching the SQL `ORDER BY cos DESC, nid` mirror exactly.
  *
  * The witness for the native bounded-heap aggregate the similarity
  * searches run ([[graft.operators.GroupTopK]] over struct(-score, id)):
  * DedupSimilaritySpec checks that both rank identically.
  */
class TopKScoredIds(k: Int)
    extends Aggregator[(Double, Long), List[(Double, Long)], Seq[(Double, Long)]] {

  private def better(x: (Double, Long), y: (Double, Long)): Boolean =
    x._1 > y._1 || (x._1 == y._1 && x._2 < y._2)

  private def insert(buf: List[(Double, Long)], x: (Double, Long)) = {
    val (front, back) = buf.span(better(_, x))
    (front ::: x :: back).take(k)
  }

  override def zero: List[(Double, Long)] = Nil

  override def reduce(buf: List[(Double, Long)], x: (Double, Long)) =
    if (buf.size < k || better(x, buf.last)) insert(buf, x) else buf

  override def merge(a: List[(Double, Long)], b: List[(Double, Long)]) =
    b.foldLeft(a)(reduce)

  override def finish(buf: List[(Double, Long)]): Seq[(Double, Long)] = buf

  override def bufferEncoder: Encoder[List[(Double, Long)]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[(Double, Long)]] = ExpressionEncoder()
}

object TopKAgg {
  /** Column form: (score: double, id: long) ->
    * array<struct<_1: score, _2: id>> sorted score DESC, id ASC. */
  def topKScoredIds(score: Column, id: Column, k: Int): Column =
    udaf(new TopKScoredIds(k), ExpressionEncoder[(Double, Long)]())
      .apply(score, id)
}
