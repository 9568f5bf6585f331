package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Per-query link prediction over an edge list small enough to ship to
  * every task: the plan [[graft.operators.LinkPredict.topForQueries]] takes
  * while the graph fits its table gate.
  *
  * [[table]] streams the (src, dst) columns into a CSR table of primitive
  * arrays on the driver and broadcasts it once; the [[rank]] kernel scores
  * one query node u against it: every wedge u -> w <- v adds one to
  * inter(v) and 10^9 DIV deg(w) to ra(v), and a bounded heap keeps the k
  * best candidates. The wedges never exist as rows, so nothing but the
  * query set is shuffled. The readings are the relational plans', also on
  * an edge list that is not symmetric: N(u) is u's out-edges, the
  * candidates of a center w are the sources of w's in-edges (duplicates
  * counted each time), every degree is an out-degree, and a center with
  * no out-edge contributes nothing.
  */
object LinkRank {

  /** Driver bytes per edge while the table is built: the two long columns
    * the build streams. */
  val bytesPerEdge: Long = 16L

  /** The CSR table. Node `i` is `ids(i)` (ascending, so index order is id
    * order); its out-neighbors are `outAdj(outOff(i) until outOff(i + 1))`
    * and the sources of its in-edges `inAdj(inOff(i) until inOff(i + 1))`,
    * both as node indices. Its out-degree is the length of its out-list. */
  final class Table private[functions] (val ids: Array[Long],
      val outOff: Array[Int], val outAdj: Array[Int],
      val inOff: Array[Int], val inAdj: Array[Int]) extends Serializable {

    /** One query's counters, reused by every query a thread ranks: only
      * the candidates a query touched are reset, so a query costs its
      * wedges, not the node count. */
    @transient private[functions] lazy val scratch: ThreadLocal[Scratch] =
      ThreadLocal.withInitial(() => new Scratch(ids.length))
  }

  private[functions] final class Scratch(n: Int) {
    val inter = new Array[Long](n)
    val ra = new Array[Long](n)
    val jac = new Array[Long](n)
    val touched = new Array[Int](n)
  }

  /** Struct fields of one ranked candidate. */
  private val candidateType: StructType = StructType(
    Seq("v", "inter", "uni", "jac_ppm", "ra_1e9").map(StructField(_, LongType, nullable = false)))

  /** The [[LinkRankExpr]] kernel: the top `k` candidates of node `u` by
    * (jac_ppm DESC, v), each as (v, inter, uni, jac_ppm, ra_1e9). With
    * `hubCap > 0`, centers of degree above `hubCap` are skipped. Empty
    * when `u` has no out-edge. The arithmetic fails where the relational
    * plans' ANSI arithmetic does: a union of 0 (possible only with
    * duplicate edges) divides by zero, and an overflow is an error. */
  def rank(u: Long, table: Broadcast[Table], k: Int, hubCap: Int): ArrayData = {
    val t = table.value
    import t._
    val ui = java.util.Arrays.binarySearch(ids, u)
    if (ui < 0) return new GenericArrayData(Array.empty[Any])
    val s = scratch.get()
    import s._
    var nTouched = 0
    try {
      var a = outOff(ui)
      while (a < outOff(ui + 1)) {
        val w = outAdj(a)
        val cdeg = outOff(w + 1) - outOff(w)
        if (cdeg > 0 && (hubCap <= 0 || cdeg <= hubCap)) {
          val r = 1000000000L / cdeg
          var b = inOff(w)
          while (b < inOff(w + 1)) {
            val v = inAdj(b)
            if (v != ui) {
              if (inter(v) == 0L) { touched(nTouched) = v; nTouched += 1 }
              inter(v) += 1L
              ra(v) = Math.addExact(ra(v), r)
            }
            b += 1
          }
        }
        a += 1
      }
      val du = (outOff(ui + 1) - outOff(ui)).toLong
      var i = 0
      while (i < nTouched) {
        val v = touched(i)
        val uni = du + (outOff(v + 1) - outOff(v)) - inter(v)
        if (uni == 0L) throw new ArithmeticException(
          s"[DIVIDE_BY_ZERO] link prediction: pair ($u, ${ids(v)}) has a union of 0")
        jac(v) = Math.multiplyExact(inter(v), 1000000L) / uni
        i += 1
      }
      // a heap of the best m candidates with the worst at the root
      def worse(x: Int, y: Int): Boolean = jac(x) < jac(y) || (jac(x) == jac(y) && x > y)
      val m = math.min(k, nTouched)
      val heap = new Array[Int](m)
      def siftDown(from: Int, size: Int): Unit = {
        var p = from
        var done = false
        while (!done) {
          val l = 2 * p + 1
          var c = p
          if (l < size && worse(heap(l), heap(c))) c = l
          if (l + 1 < size && worse(heap(l + 1), heap(c))) c = l + 1
          if (c == p) done = true
          else { val x = heap(p); heap(p) = heap(c); heap(c) = x; p = c }
        }
      }
      i = 0
      while (i < nTouched) {
        val v = touched(i)
        if (i < m) {
          heap(i) = v
          var c = i
          while (c > 0 && worse(heap(c), heap((c - 1) / 2))) {
            val p = (c - 1) / 2
            heap(c) = heap(p); heap(p) = v; c = p
          }
        } else if (worse(heap(0), v)) {
          heap(0) = v
          siftDown(0, m)
        }
        i += 1
      }
      // pop the worst into the last slot until the heap is empty
      val out = new Array[Any](m)
      var size = m
      while (size > 0) {
        val v = heap(0)
        size -= 1
        heap(0) = heap(size)
        siftDown(0, size)
        val dv = (outOff(v + 1) - outOff(v)).toLong
        out(size) = new GenericInternalRow(Array[Any](ids(v), inter(v),
          du + dv - inter(v), jac(v), ra(v)))
      }
      new GenericArrayData(out)
    } finally {
      var i = 0
      while (i < nTouched) {
        val v = touched(i)
        inter(v) = 0L; ra(v) = 0L
        i += 1
      }
    }
  }

  /** Collect the (src, dst) long columns of `edges` into a [[Table]] and
    * broadcast it. The columns stream through one job as one primitive
    * array per partition, never as driver rows. With `symmetric` (every
    * edge's mirror present once, [[graft.operators.Graph.symmetric]]) the
    * in-lists are the out-lists and are not built twice. Tasks in one JVM
    * share the broadcast value by reference. */
  def table(edges: DataFrame, symmetric: Boolean): Broadcast[Table] = {
    val chunks = edges.select(col("src"), col("dst")).queryExecution.toRdd
      .mapPartitions { rows =>
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        rows.foreach { r => b += r.getLong(0); b += r.getLong(1) }
        Iterator.single(b.result())
      }.collect()
    val ids = {
      val all = new Array[Long](chunks.map(_.length).sum)
      var p = 0
      chunks.foreach { c => System.arraycopy(c, 0, all, p, c.length); p += c.length }
      java.util.Arrays.sort(all)
      var n = 0
      for (i <- all.indices if i == 0 || all(i) != all(i - 1)) { all(n) = all(i); n += 1 }
      java.util.Arrays.copyOf(all, n)
    }
    val m = chunks.map(_.length / 2).sum
    val src = new Array[Int](m)
    val dst = new Array[Int](m)
    var e = 0
    chunks.foreach { c =>
      var j = 0
      while (j < c.length) {
        src(e) = java.util.Arrays.binarySearch(ids, c(j))
        dst(e) = java.util.Arrays.binarySearch(ids, c(j + 1))
        e += 1; j += 2
      }
    }
    val (outOff, outAdj) = csr(ids.length, src, dst)
    val (inOff, inAdj) = if (symmetric) (outOff, outAdj) else csr(ids.length, dst, src)
    edges.sparkSession.sparkContext.broadcast(new Table(ids, outOff, outAdj, inOff, inAdj))
  }

  /** Counting sort of the edges (key(i), value(i)) into CSR offsets and
    * values: node i's values are `adj(off(i) until off(i + 1))`. */
  private def csr(n: Int, key: Array[Int], value: Array[Int]): (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    key.foreach(x => off(x + 1) += 1)
    for (i <- 0 until n) off(i + 1) += off(i)
    val next = java.util.Arrays.copyOf(off, n)
    val adj = new Array[Int](key.length)
    for (i <- key.indices) { adj(next(key(i))) = value(i); next(key(i)) += 1 }
    (off, adj)
  }

  case class LinkRankExpr(child: Expression, table: Broadcast[Table], k: Int, hubCap: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(candidateType, containsNull = false)
    override def prettyName: String = "link_rank"
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(u: Any): Any = rank(u.asInstanceOf[Long], table, k, hubCap)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      Kernels.call(ctx, ev, this, "graft.functions.LinkRank.rank", table, k, hubCap)
    override protected def withNewChildInternal(c: Expression): LinkRankExpr = copy(child = c)
  }

  /** The ranked candidates of each row's query node `u` (cast to long), in
    * rank order, as an array of (v, inter, uni, jac_ppm, ra_1e9) structs
    * of longs; null when `u` is null. */
  def rankColumn(table: Broadcast[Table], u: Column, k: Int, hubCap: Int): Column = {
    require(k >= 1, s"k must be >= 1, got $k")
    GraftBridge.column(LinkRankExpr(GraftBridge.expression(u.cast(LongType)), table, k, hubCap))
  }
}
