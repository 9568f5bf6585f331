package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import Kernels.call

/** Custom Catalyst expressions for the dedup signature kernels.
  *
  * The signatures are per-row loops over a token/shingle array — expressible
  * with `aggregate`/`zip_with` HOFs, but Spark evaluates higher-order
  * functions interpreted (no codegen, no subexpression elimination), which
  * costs ~3-4 us per lane update: ~30 s for 5 000 docs x 50 shingles x 32
  * lanes. A single Expression node evaluating the whole kernel in a tight
  * JVM loop is ~100x faster. Each kernel is a static Scala method that
  * `eval` calls and the generated code calls through [[Kernels.call]], so
  * the surrounding projection stays inside whole-stage codegen.
  *
  * Reference semantics: dask-awkward-sandbox has no dedup operators — these
  * are the training-data-pipeline extensions (builder brief); hash/vote
  * semantics match graft.dedup's documented polyHash/simhash contracts so
  * the DuckDB oracle can reproduce them.
  */
object HashExprs {

  /** Deterministic polynomial hash (base 131, mod 1e9+7) over the
    * code points of a string — the value the DuckDB oracle's list_reduce
    * over string_split_regex(w, '') replays, and that the HOF spelling
    * (per-character ascii() of split(s, "")) gives. */
  @inline def polyHash(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 131 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  /** [[polyHash]] of a SQL string: the [[PolyHash]] kernel. */
  def polyHash(s: UTF8String): Long = polyHash(s.toString)

  /** MinHash signature over an array<string> of shingles. k permutations
    * h_i(x) = (a_i*x + b_i) mod p, p = 2^31-1; base hash = xxhash64(seed 42,
    * matching functions.xxhash64, so a null shingle hashes to the seed)
    * folded into [0, p). Empty input => all lanes at the identity p
    * (matches the HOF form's array_repeat(p, k) accumulator). */
  case class MinHashSignature(child: Expression, k: Int, seed: Long)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    private lazy val (as, bs) = minHashCoefficients(k, seed)
    override def nullSafeEval(input: Any): Any =
      minHashEval(input.asInstanceOf[ArrayData], as, bs, poly = false)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.HashExprs.minHashEval", as, bs, false)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** MinHash with the cross-engine-reproducible polyHash base instead of
    * xxhash64: same permutation family as [[MinHashSignature]] (h_i(x) =
    * (a_i*x + b_i) mod p, coefficients from Random(seed)), base hash =
    * polyHash < 1e9+7 < p, so every lane is exactly reproducible from SQL
    * (see [[minHashCoefficients]] for embedding the constants in an
    * oracle). Slightly weaker hash mixing than xxhash64 — use this when an
    * external engine must verify signatures bit-for-bit, the xxh64 form
    * otherwise. */
  case class MinHashSignaturePolyBase(child: Expression, k: Int, seed: Long)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    private lazy val (as, bs) = minHashCoefficients(k, seed)
    override def nullSafeEval(input: Any): Any =
      minHashEval(input.asInstanceOf[ArrayData], as, bs, poly = true)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.HashExprs.minHashEval", as, bs, true)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Shared kernel for [[MinHashSignature]] (xxhash64 base) and, with
    * `poly`, [[MinHashSignaturePolyBase]] (polyHash base). */
  def minHashEval(arr: ArrayData, as: Array[Long], bs: Array[Long],
      poly: Boolean): ArrayData = {
    val p = 2147483647L
    val k = as.length
    val mins = Array.fill(k)(p)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h =
        if (poly) polyHash(s)
        else {
          val x = XxHash64Function.hash(s, StringType, 42L) % p
          if (x < 0) x + p else x
        }
      var j = 0
      while (j < k) {
        val v = (h * as(j) + bs(j)) % p // h, a < 2^31 => product < 2^62
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** LSH band keys over a minhash signature: band j's key is the base-131
    * poly fold (mod 1e9+7) of lanes [j*rows, (j+1)*rows) — identical values
    * to the `aggregate(slice(sig, ...))` HOF spelling and the SQL oracles,
    * evaluated in one loop per row instead of `bands` interpreted
    * aggregates. Output: array<struct<band:int, key:long>>. */
  case class LshBandKeys(child: Expression, bands: Int, rows: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("band",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("key", LongType, nullable = false))),
      containsNull = false)
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(input: Any): Any =
      lshBandKeysEval(input.asInstanceOf[ArrayData], bands, rows)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.HashExprs.lshBandKeysEval", bands, rows)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Shared kernel for [[LshBandKeys]]. A signature shorter than bands*rows
    * folds only the available prefix — the degraded behavior of the
    * aggregate(slice(sig,...)) HOF spelling this expression replaced,
    * instead of an executor-side ArrayIndexOutOfBoundsException. */
  def lshBandKeysEval(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = sig.numElements()
    val out = new Array[Any](bands)
    var j = 0
    while (j < bands) {
      var acc = 0L
      var i = 0
      val end = math.min(rows, n - j * rows)
      while (i < end) {
        acc = (acc * 131 + sig.getLong(j * rows + i)) % 1000000007L
        i += 1
      }
      out(j) = org.apache.spark.sql.catalyst.InternalRow(j, acc)
      j += 1
    }
    new GenericArrayData(out)
  }

  def lshBandKeys(sig: Column, bands: Int, rows: Int): Column =
    GraftBridge.column(LshBandKeys(GraftBridge.expression(sig), bands, rows))

  /** The (a_i, b_i) permutation coefficients both minhash expressions use —
    * public so oracle SQL can embed the identical literals. */
  def minHashCoefficients(k: Int, seed: Long): (Array[Long], Array[Long]) = {
    val p = 2147483647L
    val rnd = new scala.util.Random(seed)
    val a = Array.fill(k)(math.abs(rnd.nextLong()) % (p - 1) + 1)
    val b = Array.fill(k)(math.abs(rnd.nextLong()) % p)
    (a, b)
  }

  def minHashSignaturePoly(shingles: Column, k: Int, seed: Long = 42L): Column =
    GraftBridge.column(MinHashSignaturePolyBase(GraftBridge.expression(shingles), k, seed))

  /** SimHash-48 over an array<string> of tokens: per-token
    * h = (polyHash(tok) * 2654435761) mod 2^48; bit j of h votes +1/-1,
    * sign vector packs into a long. Bit-exact with the documented HOF form
    * and the DuckDB oracle in DedupQueries. */
  case class SimHash48(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(input: Any): Any =
      simHash48Eval(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.HashExprs.simHash48Eval")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Shared kernel for [[SimHash48]]. */
  def simHash48Eval(arr: ArrayData): Long = {
    val votes = new Array[Int](48)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = (polyHash(arr.getUTF8String(i).toString) * 2654435761L) %
        281474976710656L // < 2^30 * 2^32 = 2^62: overflow-free
      var j = 0
      while (j < 48) {
        if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var packed = 0L
    var j = 0
    while (j < 48) {
      if (votes(j) > 0) packed |= (1L << j)
      j += 1
    }
    packed
  }

  /** Distinct word n-grams (space-joined) of a token array, first-occurrence
    * order — same values as array_distinct over a transform with concat_ws,
    * and as the oracle's list_distinct(list_transform(range, ...)). A custom
    * expression because the HOF form evaluates interpreted at ~80 us per
    * position (concat_ws + per-element size()); this loop is ~100x faster
    * and dominates the n-gram dedup inverted index build. */
  case class WordNgrams(child: Expression, n: Int, distinct: Boolean = true)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(input: Any): Any =
      wordNgramsEval(input.asInstanceOf[ArrayData], n, distinct)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.HashExprs.wordNgramsEval", n, distinct)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Shared kernel for [[WordNgrams]]. distinct=true: first-occurrence order
    * (shingle sets for jaccard); distinct=false: sequential with duplicates
    * (repetition metrics). */
  def wordNgramsEval(arr: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val m = arr.numElements()
    val out: java.util.Collection[UTF8String] =
      if (distinct) new java.util.LinkedHashSet[UTF8String]()
      else new java.util.ArrayList[UTF8String](math.max(0, m - n + 1))
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i <= m - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      out.add(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  def wordNgrams(tokens: Column, n: Int): Column =
    GraftBridge.column(WordNgrams(GraftBridge.expression(tokens), n))

  /** Sequential n-grams WITH duplicates — repetition analysis. */
  def wordNgramsSeq(tokens: Column, n: Int): Column =
    GraftBridge.column(WordNgrams(GraftBridge.expression(tokens), n,
      distinct = false))

  /** polyHash as a single expression node (graft.dedup.polyHash) — same
    * value as the HOF spelling and the DuckDB list_reduce mirror,
    * evaluated in one tight loop instead of per-character interpreted
    * lambdas. */
  case class PolyHash(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(input: Any): Any = polyHash(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.HashExprs.polyHash")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def polyHashFast(c: Column): Column =
    GraftBridge.column(PolyHash(GraftBridge.expression(c)))

  /** Winnowing fingerprint (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): polyHash every word k-gram IN SEQUENCE (no dedup), take
    * the minimum of each sliding window of w hashes, emit the distinct
    * minima in first-occurrence order. Guarantees any shared substring of
    * length >= w+k-1 tokens produces a shared fingerprint — the
    * document-fingerprinting primitive for plagiarism/near-dup detection.
    * Short docs (< w windows) contribute the single whole-list minimum.
    * polyHash keeps it DuckDB-reproducible (oracled in TextQueries). */
  case class WinnowFingerprint(child: Expression, k: Int, w: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(input: Any): Any =
      winnowEval(input.asInstanceOf[ArrayData], k, w)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      call(ctx, ev, this, "graft.functions.HashExprs.winnowEval", k, w)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Shared kernel for [[WinnowFingerprint]]. */
  def winnowEval(arr: ArrayData, k: Int, w: Int): ArrayData = {
    val m = arr.numElements()
    val nGrams = m - k + 1
    if (nGrams <= 0) return new GenericArrayData(Array.empty[Any])
    val hashes = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(arr.getUTF8String(i + j).toString)
        j += 1
      }
      hashes(i) = polyHash(sb.toString)
      i += 1
    }
    val nWin = math.max(1, nGrams - w + 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i < nWin) {
      var min = hashes(i)
      var j = i + 1
      val end = math.min(i + w, nGrams)
      while (j < end) { if (hashes(j) < min) min = hashes(j); j += 1 }
      seen.add(min)
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  def winnowFingerprint(tokens: Column, k: Int, w: Int): Column =
    GraftBridge.column(WinnowFingerprint(GraftBridge.expression(tokens), k, w))

  def minHashSignature(shingles: Column, k: Int, seed: Long = 42L): Column =
    GraftBridge.column(MinHashSignature(GraftBridge.expression(shingles), k, seed))

  def simHash48(tokens: Column): Column =
    GraftBridge.column(SimHash48(GraftBridge.expression(tokens)))
}
