package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-soak corpus generator: replicates the driver's sf0.1 testdata by an
  * integer factor with disjoint key spaces per replica, so every scale claim
  * in the repo can be *measured* instead of design-argued (VERDICT r3's top
  * gap: nothing had ever run above sf0.1).
  *
  * Replication strategy — the point is to scale the corpus while keeping the
  * per-key statistics of the original (so per-query work scales linearly and
  * super-linear blowups are real findings, not generator artifacts):
  *
  *  - join keys (custkey/orderkey/partkey/suppkey/user_id/doc_id/vec_id)
  *    shift by `replica * STRIDE`, keeping each replica's join graph
  *    isomorphic to the original and replicas mutually disjoint;
  *  - dimension-shared columns (nationkey/regionkey, dates, labels) stay
  *    unchanged — region/nation stay small, exactly like TPC-H at scale;
  *  - `documents.text` gets a per-replica token suffix (`w` -> `w~i`), so
  *    replicas share zero shingles with each other: the corpus-wide
  *    duplicate RATE matches the original instead of every doc gaining
  *    factor-1 exact twins (which would grow dedup pair output
  *    quadratically in the factor — not what a 10x bigger real corpus
  *    does);
  *  - `embeddings.embedding` is circularly shifted by `replica mod dim`
  *    positions — norms and intra-replica geometry preserved, cross-replica
  *    cosine decorrelated, same reasoning as the text suffix.
  *
  * Usage: runMain graft.tools.ScaleGen [srcDir destDir factor]
  * Defaults: /root/testdata/sf0.1 -> target/testdata/sf1 x10.
  */
object ScaleGen {
  private val STRIDE = 100000000L // > any source key; factor*STRIDE << 2^63

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dest = if (args.length > 1) args(1) else "target/testdata/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.SessionConfigs.local(cpus)
    spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
    generate(spark, src, dest, factor)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, dest: String, factor: Int): Unit = {
    def read(name: String): DataFrame =
      if (name == "events") graft.core.Tables.events(spark, src)
      else spark.read.parquet(s"$src/$name.parquet")

    /** Union `factor` key-shifted replicas of `df`. */
    def replicate(df: DataFrame, keyCols: Seq[String],
        mutate: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { i =>
        val shifted = keyCols.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(i * STRIDE)))
        mutate(shifted, i)
      }.reduce(_ unionByName _)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dest/$name.parquet")
      System.err.println(s"[scalegen] wrote $name")
    }

    // shared dims: unchanged (region/nation stay broadcast-sized at any sf)
    write(read("region"), "region")
    write(read("nation"), "nation")

    write(replicate(read("customer"), Seq("c_custkey")), "customer")
    write(replicate(read("supplier"), Seq("s_suppkey")), "supplier")
    write(replicate(read("part"), Seq("p_partkey")), "part")
    write(replicate(read("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    write(replicate(read("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(replicate(read("events"), Seq("event_id", "user_id")), "events")

    // Per-replica AFFINE cipher over the alphabet, c -> s*c + r (mod 26)
    // with s coprime to 26 (translate() is a char BIJECTION): intra-replica
    // edit distances are preserved EXACTLY (Levenshtein is invariant under
    // a char bijection), so per-replica dedup statistics are the
    // original's — while cross-replica texts differ in essentially every
    // alphabetic char and share no real shingles (two distinct affine maps
    // agree on at most 2 of 26 letters). Earlier designs failed:
    //  - APPENDING a per-replica word suffix inflated within-replica
    //    similarity (124k manufactured pairs at factor 10 vs the organic
    //    ~900) and left cross-replica twins within Levenshtein range;
    //  - plain Caesar ROTATION (the r5 form) wraps at 26: replicas i and
    //    i+26 were byte-identical twins, which at factor 50 manufactured
    //    120k+ cross-replica "near-dup" pairs (caught by the r6 sf5 soak).
    //    Case tricks can't extend it — shingle tokenization lowercases.
    // 12 units x 26 shifts = 312 distinct bijections; lengths and
    // whitespace untouched, so token counts, n_chars and packing budgets
    // match the original corpus exactly.
    val units = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    require(factor <= units.length * 26,
      s"ScaleGen text decorrelation supports at most ${units.length * 26} replicas, got $factor")
    val lower = ('a' to 'z').mkString
    val upper = ('A' to 'Z').mkString
    def affine(s: String, i: Int): String = {
      val (mul, add) = (units(i / 26), i % 26)
      s.indices.map(c => s((c * mul + add) % 26)).mkString
    }
    write(replicate(read("documents"), Seq("doc_id"), (d, i) =>
      if (i == 0) d
      else d.withColumn("text",
        translate(col("text"), lower + upper, affine(lower, i) + affine(upper, i)))),
      "documents")

    // circular shift by i mod dim, sign-flipped every wrap (both are
    // isometries: norms and intra-replica geometry exact; the flip keeps
    // replicas i and i+dim from being identical — same wrap hazard the
    // affine cipher fixes for text). dim=64 => 128 distinct replicas.
    require(factor <= 128,
      s"ScaleGen embedding decorrelation supports at most 128 replicas, got $factor")
    write(replicate(read("embeddings"), Seq("vec_id"), (d, i) => {
      if (i == 0) d
      else {
        val dim = size(col("embedding"))
        val k = lit(i) % dim
        val shifted = when(k === 0, col("embedding")).otherwise(
          concat(slice(col("embedding"), k + 1, dim - k),
            slice(col("embedding"), lit(1), k)))
        d.withColumn("embedding",
          if ((i / 64) % 2 == 1) transform(shifted, x => -x) else shifted)
      }
    }), "embeddings")
  }
}
