package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PCA over an embedding column, the textbook one-pass
  * shape: (1) ONE scan reduces the corpus to exact integer sufficient
  * statistics (first moments + upper-triangle second moments of the
  * quantized coordinates — d(d+3)/2 cells, 2,144 for d=64); (2) the
  * d×d covariance is solved on the DRIVER (bounded by the d² contract,
  * like k-means' k centroids and PQ's codebooks); (3) the top component
  * broadcasts back as a fixed-point array literal and every row gets an
  * integer projection, map-side, inside whole-stage codegen.
  *
  * Quantization q = floor(x · 2^qBits) is ONE IEEE double multiply and
  * a floor — bit-identical in every engine — so the moments and the
  * projections are exact BIGINTs (hash-exact cross-engine, no float
  * summation-order noise anywhere in the distributed part). Overflow
  * headroom: |q| ≤ 2^(qBits+3) for |x| ≤ 8, a second-moment term ≤
  * 2^(2·qBits+6), so a corpus of 2^(57-2·qBits) rows fits int64 —
  * 2^29 ≈ 537M rows at the default qBits = 14; lower qBits for more.
  *
  * The explode is map-side only: d(d+3)/2 generated rows per input row
  * feed a partial hash aggregate with d(d+3)/2 groups, so the SHUFFLE
  * is O(d²) rows per partition regardless of corpus size.
  */
object Pca {

  /** Exact quantized moment statistics: rows (i, j, s, n) where
    * j = -1 carries the first moment Σ q_i and j ≥ i the second moment
    * Σ q_i·q_j (upper triangle incl. diagonal); n is the row count. */
  def momentStats(df: DataFrame, vecCol: String, qBits: Int = 14): DataFrame = {
    require(qBits >= 1 && qBits <= 24, s"bad qBits=$qBits")
    val scale = lit((1L << qBits).toDouble)
    val qa = transform(col(vecCol), x => floor(x.cast("double") * scale).cast("long"))
    // under-parallel input guard (the d_ngram/Graph.coOccurrence
    // discipline): the d(d+3)/2-way explode below multiplies each input
    // row ~2000x, so a small scan (embeddings is ONE parquet split at
    // the fixture scales) would run the whole explode + partial
    // aggregate serially while the other cores idle (measured at
    // sf0.1: the single stage was 2.0 s one-task). A no-op whenever
    // the scan already yields enough splits — any real corpus.
    val in = graft.core.Partitions.ensureMinParallelism(df, col(vecCol))
    val base = in.select(qa.as("qa")).filter(col("qa").isNotNull)
    val firsts = transform(col("qa"), (x, i) =>
      struct(i.cast("int").as("i"), lit(-1).cast("int").as("j"), x.as("v")))
    val pairs = flatten(transform(col("qa"), (xi, i) =>
      transform(slice(col("qa"), i + lit(1), size(col("qa")) - i), (xj, joff) =>
        struct(i.cast("int").as("i"), (i + joff).cast("int").as("j"),
          (xi * xj).as("v")))))
    base.select(explode(concat(firsts, pairs)).as("t"))
      .groupBy(col("t.i").as("i"), col("t.j").as("j"))
      .agg(sum(col("t.v")).as("s"), count(lit(1)).as("n"))
  }

  /** Driver-side top principal component from [[momentStats]] output.
    * Collect is bounded by contract: d(d+3)/2 rows. Covariance in the
    * quantized scale (a positive scalar multiple of the data-scale
    * covariance — same eigenvectors), fixed `iters` power-iteration
    * rounds from the uniform start, sign canonicalized so the
    * largest-magnitude component is positive. Deterministic: same
    * moments → same doubles → same vector, on any driver. */
  def topComponent(moments: DataFrame, d: Int, iters: Int = 200): Array[Double] = {
    val rows = moments.select(col("i"), col("j"), col("s"), col("n")).collect()
    require(rows.nonEmpty, "empty moments")
    val n = rows.head.getLong(3).toDouble
    val s1 = new Array[Double](d)
    val c = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val (i, j, s) = (r.getInt(0), r.getInt(1), r.getLong(2).toDouble)
      if (j == -1) s1(i) = s else { c(i)(j) = s; c(j)(i) = s }
    }
    for (i <- 0 until d; j <- 0 until d)
      c(i)(j) = c(i)(j) / n - (s1(i) / n) * (s1(j) / n)
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var it = 0
    while (it < iters) {
      val w = new Array[Double](d)
      for (i <- 0 until d) { var acc = 0.0; for (j <- 0 until d) acc += c(i)(j) * v(j); w(i) = acc }
      val nrm = math.sqrt(w.map(x => x * x).sum)
      if (nrm == 0.0) return v // degenerate (zero covariance): uniform start is as good as any
      v = w.map(_ / nrm)
      it += 1
    }
    val k = v.indices.maxBy(i => math.abs(v(i)))
    if (v(k) < 0) v.map(-_) else v
  }

  /** Fixed-point form of an eigenvector for cross-engine-exact
    * projection: vq_i = round(v_i · 2^20). */
  def quantizeComponent(v: Array[Double]): Array[Long] =
    v.map(x => math.round(x * (1L << 20).toDouble))

  /** Integer projection onto a quantized component: adds `outCol` =
    * Σ floor(x_i · 2^qBits) · vq_i — exact int64, order-independent,
    * map-side (the component ships as an array literal, the 100 TB
    * broadcast-scalar pattern). */
  def projectQ(df: DataFrame, vecCol: String, vq: Array[Long],
      qBits: Int, outCol: String): DataFrame = {
    val scale = lit((1L << qBits).toDouble)
    val qa = transform(col(vecCol), x => floor(x.cast("double") * scale).cast("long"))
    val prods = zip_with(qa, typedLit(vq.toSeq), (a, b) => a * b)
    df.withColumn(outCol,
      aggregate(prods, lit(0L), (acc, x) => acc + x))
  }
}
