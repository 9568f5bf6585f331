package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (`array<float>`).
  *
  * Two paths, per the usual scale trade-off:
  *  - [[bruteForceTopK]]: exact cosine top-k via a broadcast join of the
  *    query set against the corpus — the right answer when |queries| is
  *    small (the corpus is scanned once, map-side, no shuffle of the corpus;
  *    top-k per query via aggregation, not a global sort);
  *  - [[lshTopK]]: random-hyperplane LSH — deterministic pseudo-random
  *    planes, sign-bit signature, bucket equi-join, exact re-rank within
  *    buckets. Sub-linear candidate sets at the cost of recall; the 100 TB
  *    path (multi-probe = union several signature prefixes).
  *
  * All dot products run in one codegen'd `aggregate(zip_with(...))` pass
  * with elements cast to double (float32 storage, float64 math).
  */
package object similarity {

  /** Cosine similarity of two array<numeric> columns (double math; null
    * when either norm is 0). Custom Expression — one tight loop per pair
    * instead of three interpreted HOF aggregates; identical accumulation
    * order to the DuckDB oracle formulation. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExprs.cosineSim(a, b)

  /** Dot product via the codegen'd `aggregate(zip_with(...))` HOF pair —
    * left-to-right accumulation, double math (mirrors in any SQL engine
    * with list_reduce/list_zip). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** L2-normalized copy (null-safe: a zero-norm vector normalizes to null
    * rather than Infinity elements). */
  def l2Normalize(a: Column): Column = {
    val n = l2Norm(a)
    when(n > 0, transform(a, x => x.cast("double") / n))
  }

  /** Euclidean distance. */
  def euclidean(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0), (acc, v) => acc + v))

  /** Exact top-k neighbors for each query row. `queries`/`corpus` need
    * (idCol, vecCol); self-matches (equal ids) are excluded.
    *
    * Top-k per query runs through the bounded-heap [[topKPerKey]],
    * not a row_number window: the corpus-side scoring stays map-side (the
    * query set is broadcast) and the shuffle carries at most k candidates
    * per (query, partition) instead of every scored pair. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
    val scored = c.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qv"), col("nv")).as("cos"))
      .filter(col("cos").isNotNull)
    topKPerKey(scored, "qid", "cos", "nid", k)
  }

  /** groupBy(key).top-k(score desc, id asc): shared tail of the exact and
    * LSH searches. Emits (key, rank, id, score).
    *
    * Runs on the native bounded-heap aggregate ([[graft.operators.GroupTopK]]
    * over struct(-score, id): lexicographic ascending = score desc, id asc):
    * at most k candidates per (key, partition) cross the shuffle, with no
    * per-row encoder serialization on the hot scoring path.
    * DedupSimilaritySpec pins it equal to a typed Aggregator witness. */
  private[graft] def topKPerKey(scored: DataFrame, keyCol: String,
      scoreCol: String, idCol: String, k: Int): DataFrame =
    scored.groupBy(col(keyCol))
      .agg(graft.operators.GroupTopK.smallestK(
        struct(negate(col(scoreCol).cast("double")).as("ns"),
          col(idCol).cast("long").as("id")), k).as("top"))
      .select(col(keyCol), posexplode(col("top")).as(Seq("pos", "sc")))
      .select(col(keyCol), (col("pos") + 1).cast("int").as("rank"),
        col("sc.id").as(idCol), negate(col("sc.ns")).as(scoreCol))

  /** Deterministic pseudo-random hyperplane component for (plane j, dim i):
    * an LCG over the flat index, mapped to [-0.5, 0.5). Pure integer
    * arithmetic — reproducible anywhere. */
  private def planeComponent(j: Int, i: Int): Double = {
    val x = (1103515245L * (j * 4099 + i) + 12345L) % 2147483648L
    (if (x < 0) x + 2147483648L else x).toDouble / 2147483648.0 - 0.5
  }

  /** Sign-bit signature of a vector against `nPlanes` hyperplanes, packed
    * into a long. Map-side only; custom Expression (the HOF form pays
    * nPlanes x dim interpreted lambda evals per row), bit-exact with
    * [[planeComponent]]. */
  def hyperplaneSignature(vec: Column, dim: Int, nPlanes: Int): Column =
    graft.functions.VectorExprs.hyperplaneSig(vec, dim, nPlanes)

  /** LSH ANN: bucket by signature, exact cosine re-rank within buckets.
    *
    * `multiProbe = true` additionally probes every bucket at hamming
    * distance 1 from the query's signature (flip each of the nPlanes
    * bits): the query side explodes to nPlanes+1 probe keys and
    * equi-joins the corpus's exact signatures — recall recovers the
    * near-miss vectors that landed one hyperplane away, while candidate
    * generation stays a shuffle-join on a 64-bit key (never a scan). The
    * standard production knob: more probes instead of more tables. */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, nPlanes: Int, k: Int, multiProbe: Boolean = false): DataFrame = {
    val sig = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      hyperplaneSignature(col(vecCol), dim, nPlanes).as("sig"))
    val qside =
      if (!multiProbe) sig.select(col("id"), col("v"), col("sig").as("probe"))
      else sig.select(col("id"), col("v"), explode(array(
        col("sig") +: (0 until nPlanes).map(j =>
          col("sig").bitwiseXOR(lit(1L << j))): _*)).as("probe"))
    val joined = qside.as("a").join(sig.as("b"),
        col("a.probe") === col("b.sig") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("qid"), col("b.id").as("nid"),
        cosine(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos").isNotNull)
    topKPerKey(joined, "qid", "cos", "nid", k)
  }

  /** Deterministic seed centroids: the first `nCells` vectors by id.
    * `cid` is the seed vector's id (stable across iterations/runs). */
  private[similarity] def seedCentroids(v: DataFrame, nCells: Int): DataFrame =
    v.orderBy(col("id")).limit(nCells)
      .select(col("id").as("cid"), col("vec").cast("array<double>").as("cvec"))

  /** Spherical k-means training: `iters` rounds of assign-to-nearest-by-
    * cosine + per-cell elementwise mean. Fully deterministic: seeds are the
    * first `k` vectors by id, ties in assignment break to the smallest cid.
    *
    * Each round is ONE broadcast join (centroids are k rows — never
    * shuffled to the data) + one groupBy(cid) whose partial aggregation
    * reduces map-side to k * dim doubles per partition; the corpus is
    * scanned once per round and never shuffled. Cells that lose all
    * members keep their previous centroid. `localCheckpoint` cuts the
    * per-round lineage so the plan stays O(1) across iterations.
    * Input rows with a null cosine against every centroid (zero-norm
    * vectors) drop out of training.
    *
    * Training cost is bounded: past `trainSampleMax` rows the rounds run
    * on the first `trainSampleMax` vectors by id (the faiss practice —
    * centroid quality needs a representative sample, not the corpus, and
    * sample-size-per-centroid is what matters). The gate is exact: at or
    * under the bound the plan and results are bit-identical to full-corpus
    * training, and the sim_kmeans/d_semdedup DuckDB replays mirror the
    * sample ("ORDER BY vec_id LIMIT 65536" — SimilarityQueries
    * .TRAIN_SAMPLE), so they stay exact at ANY scale, not just under the
    * bound; the sampled path repartitions the
    * post-limit single partition back to full parallelism and checkpoints
    * it once so the per-round scans stay parallel and re-read no lineage.
    * Returns (cid, cvec: array<double>). */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, trainSampleMax: Int = 65536): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // bound-probe, not a full count: LocalLimit stops each partition at
    // max+1 rows, so the gate costs O(max) rows scanned, not O(corpus)
    val train =
      if (trainSampleMax > 0 && v.limit(trainSampleMax + 1).count() > trainSampleMax)
        v.orderBy(col("id")).limit(trainSampleMax)
          .repartition(spark.sessionState.conf.numShufflePartitions)
          .localCheckpoint()
      else v
    // centroid state is k tiny rows — hold it on the driver and broadcast
    // each round (the MLlib k-means pattern): one job per iteration, no
    // lineage-carrying joins or checkpoints. The corpus never leaves the
    // executors; only k*dim doubles travel per round.
    var cents: Seq[(Long, Seq[Double])] =
      seedCentroids(v, k).as[(Long, Seq[Double])].collect().toSeq
    for (_ <- 0 until iters) {
      val cdf = cents.toDF("cid", "cvec")
      val means = train.join(broadcast(cdf))
        .select(col("id"), col("vec"), col("cid"),
          cosine(col("vec"), col("cvec")).as("sim"))
        .filter(col("sim").isNotNull)
        .groupBy(col("id"))
        .agg(max_by(struct(col("cid"), col("vec")),
          struct(col("sim"), -col("cid"))).as("b"))
        .select(col("b.cid").as("cid"),
          col("b.vec").cast("array<double>").as("vec"))
        .groupBy(col("cid"))
        .agg(graft.reducers.ElementwiseAgg.elementwiseSumCount(col("vec")).as("sc"))
        .select(col("cid"),
          transform(col("sc"), p => p.getField("_1") / p.getField("_2")).as("mean"))
        .as[(Long, Seq[Double])].collect().toMap
      // cells that lost all members keep their previous centroid
      cents = cents.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
    }
    cents.toDF("cid", "cvec")
  }

  /** IVF (inverted-file) ANN: partition the corpus into cells by nearest
    * centroid, search only the `nprobe` cells nearest each query.
    *
    * With `trainIters > 0` the centroids are k-means-trained
    * ([[kmeansCentroids]]); otherwise they are the deterministic seed
    * sample. Cell assignment broadcasts the centroid table and keeps
    * scoring map-side; the search is an equi-join on cell id, so cost
    * scales with corpus/nCells * nprobe per query — never a corpus scan
    * per query.
    *
    * `nCells <= 0` derives the cell count as ~sqrt(corpus) (clamped to
    * [16, 65536]) — the standard IVF sizing. A FIXED cell count makes the
    * whole-corpus kNN-join quadratic (cells hold N/nCells vectors, every
    * query probes nprobe of them: N²·nprobe/nCells total — measured 25x
    * on a 10x corpus in the sf1 soak), while sqrt sizing keeps bucket
    * sizes at sqrt(N) for the canonical N^1.5 total. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, nprobe: Int, k: Int, trainIters: Int = 0): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val nc =
      if (nCells > 0) nCells
      else math.min(65536L, math.max(16L,
        math.ceil(math.sqrt(v.count().toDouble)).toLong)).toInt
    val centroids =
      if (trainIters > 0) kmeansCentroids(df, idCol, vecCol, nc, trainIters)
      else seedCentroids(v, nc)
    // corpus side: each vector scored against every centroid (N x nCells
    // map-side rows — with sqrt sizing this is the N^1.5 assignment term).
    // Zero-norm vectors/centroids yield a null cosine — drop them like
    // the other search paths do.
    val assigned = v.join(broadcast(centroids))
      .select(col("id"), col("vec"), col("cid"),
        cosine(col("vec"), col("cvec")).as("sim"))
      .filter(col("sim").isNotNull)
    // ONE ranking pass: rank 1 is the home cell, ranks 1..nprobe are the
    // probe set. Checkpointing the (key, rank, cid) projection — 3 narrow
    // columns, no vectors — stops the two consumers below from each
    // re-running the N x nCells scoring (2x the dominant term; at 1e9
    // vectors the checkpoint is ~nprobe*N*24 B spread across executors,
    // the scoring it saves is N^1.5 cosine kernels).
    val ranked = topKPerKey(assigned.withColumnRenamed("id", "key")
        .select(col("key"), col("sim"), col("cid")), "key", "sim", "cid", nprobe)
      .select(col("key"), col("rank"), col("cid"))
      .localCheckpoint()
    val cells = ranked.filter(col("rank") === 1)
      .select(col("key").as("id"), col("cid"))
      .join(v, "id")
    // query side: nprobe nearest cells each
    val probes = ranked
      .select(col("key").as("qid"), col("cid"))
      .join(v.select(col("id").as("qid"), col("vec").as("qvec")), "qid")
    val scored = probes.join(cells, "cid")
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("nid"),
        cosine(col("qvec"), col("vec")).as("cos"))
      .filter(col("cos").isNotNull)
    topKPerKey(scored, "qid", "cos", "nid", k)
  }

  /** Maximal Marginal Relevance diversification (Carbonell & Goldstein,
    * SIGIR 1998): re-rank each query's `nCand` exact-cosine candidates
    * into `kOut` picks that trade relevance against redundancy. Pick 1 is
    * the most relevant candidate; pick i maximizes
    * `lambda*rel - (1-lambda) * max cosine to the already-picked`
    * (ties to the smaller neighbor id). The first pick's reported `mmr`
    * is its `rel` — the redundancy blend only exists once a selected set
    * does.
    *
    * Deterministic cross-engine: every relevance and pairwise cosine
    * accumulates ascending-index in double ([[cosine]]'s kernel order),
    * the blend is written `lambda*rel - (1 - lambda)*msim` with the SAME
    * double ops on both engines (note `1 - lambda` as an op, NOT a
    * pre-folded 0.3 literal — those differ by an ulp), and argmax ties
    * break on the id. The DuckDB oracle replays the greedy as `kOut`
    * unrolled SQL steps.
    *
    * 100 TB posture: candidate generation is [[bruteForceTopK]]'s
    * broadcast-queries + bounded-heap shape (swap in [[lshTopK]]/
    * [[ivfTopK]] upstream for corpus-sized query sets); the greedy itself
    * runs per query group over `nCand` rows — bounded by contract — in
    * one `flatMapGroups` pass: a single qid-keyed shuffle of at most
    * `nCand` rows per query, O(nCand * kOut * dim) flops per group (one
    * running max-similarity per candidate, folded against the newest
    * pick), no corpus-wide state, no driver collect. Returns
    * (qid, rank, nid, rel, mmr) with rank in selection order. */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, nCand: Int, kOut: Int, lambda: Double = 0.7): DataFrame = {
    require(nCand > 0 && kOut > 0 && kOut <= nCand,
      s"bad nCand=$nCand kOut=$kOut (need 0 < kOut <= nCand)")
    require(lambda >= 0.0 && lambda <= 1.0, s"bad lambda=$lambda")
    val spark = queries.sparkSession
    import spark.implicits._
    val cands = bruteForceTopK(queries, corpus, idCol, vecCol, nCand)
    val withVec = cands
      .join(corpus.select(col(idCol).cast("long").as("nid"),
        col(vecCol).cast("array<double>").as("nv")), "nid")
      .select(col("qid").cast("long"), col("nid"), col("cos").cast("double"),
        col("nv"))
      .as[(Long, Long, Double, Seq[Double])]
    val mu = 1.0 - lambda // one subtraction, mirrored verbatim in the oracle
    val picked = withVec.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val cs = it.toArray.sortBy(c => (-c._3, c._2)) // rel desc, nid asc
      val vecs = cs.map(_._4.toArray)
      def cosv(a: Array[Double], b: Array[Double]): Double = {
        val n = math.min(a.length, b.length)
        var dot = 0.0; var na2 = 0.0; var nb2 = 0.0; var i = 0
        while (i < n) {
          dot += a(i) * b(i); na2 += a(i) * a(i); nb2 += b(i) * b(i); i += 1
        }
        dot / (math.sqrt(na2) * math.sqrt(nb2)) // norms > 0: rel was non-null
      }
      val used = new Array[Boolean](cs.length)
      // classic incremental MMR: one running max-similarity per candidate,
      // folded against ONLY the newest pick each rank — O(nCand*kOut*dim)
      // instead of recomputing every candidate-to-picked cosine per rank.
      // Bit-identical picks: double max is order-insensitive and exact, so
      // accumulating per-pick equals re-scanning the full picked set.
      val msim = Array.fill(cs.length)(Double.NegativeInfinity)
      val out = Array.newBuilder[(Long, Int, Long, Double, Double)]
      var rank = 1
      var last = -1
      while (rank <= math.min(kOut, cs.length)) {
        if (last >= 0) {
          var j = 0
          while (j < cs.length) {
            if (!used(j)) {
              val s = cosv(vecs(j), vecs(last))
              if (s > msim(j)) msim(j) = s
            }
            j += 1
          }
        }
        var best = -1; var bestScore = 0.0
        var j = 0
        while (j < cs.length) {
          if (!used(j)) {
            val score =
              if (rank == 1) cs(j)._3
              else lambda * cs(j)._3 - mu * msim(j)
            // strict >: ties stay with the earlier (smaller-nid-on-equal-rel,
            // and the explicit nid compare covers equal scores at differing rel)
            if (best < 0 || score > bestScore ||
                (score == bestScore && cs(j)._2 < cs(best)._2)) {
              best = j; bestScore = score
            }
          }
          j += 1
        }
        used(best) = true
        last = best
        out += ((qid, rank, cs(best)._2, cs(best)._3, bestScore))
        rank += 1
      }
      out.result().iterator
    }
    picked.toDF("qid", "rank", "nid", "rel", "mmr")
  }

  /** Behavior-sequence similarity search: top-`k` most similar entities
    * by n-gram Jaccard over their time-ordered token sequences (event
    * types, page paths, action codes) — the distributed re-expression of
    * trajectory top-k search (REPOSE, ICDE 2021 — local tries become an
    * inverted n-gram index; the global top-k becomes a bounded heap).
    *
    * Sequence = tokens ordered by (tsCol, tieCol) — the explicit integer
    * tiebreak makes the ragged build deterministic under equal
    * timestamps on any partitioning. Similarity = Jaccard over the
    * DISTINCT n-gram sets; ranking compares the raw double
    * `inter/union` (one division, bit-identical cross-engine), ties to
    * the smaller neighbor id.
    *
    * 100 TB posture: one shuffle builds the per-entity sequences
    * (sort_array over collect_list — the io_nested ragged-build shape,
    * AQE-skew-safe); candidates come from an inverted n-gram equi-join
    * (never all-pairs) with posting lists capped at `dfCap` (a gram
    * shared by more than dfCap entities is boilerplate, not signal —
    * same escape hatch as ngramJaccardPairs); the per-entity top-k is a
    * map-side bounded heap (GroupTopK), k rows per entity out of the
    * pair shuffle. When the exact pair term still dominates (dense
    * postings under heavy duplication — measured 21 s at 15k heavily-
    * replicated users), [[sequenceJaccardTopKBanded]] is the shipped
    * scale path: MinHash-band the gram sets and verify only band-bucket
    * candidates with the exact Jaccard.
    * Caveat that is inherent to the method, not the plan:
    * both the discriminative power and the inverted-index bound need a
    * token space larger than the entity count — over a tiny alphabet
    * (a handful of event types at millions of users) every posting list
    * is hot and dfCap would drain the index; feed richer tokens (page
    * paths, typed action codes) or raise `n` there.
    * Returns (idCol, rank, nid, jac). */
  def sequenceJaccardTopK(df: DataFrame, idCol: String, tsCol: String,
      tokCol: String, tieCol: String, n: Int = 3, k: Int = 5,
      dfCap: Int = 1000): DataFrame = {
    require(n > 0 && k > 0 && dfCap > 0, s"bad n=$n k=$k dfCap=$dfCap")
    // explicit, output-equivalent null-id prefilter (a null uid group
    // never matches the uid<>uid pair join, so it can never reach the
    // output): InferFiltersFromConstraints pushes isnotnull(uid) into
    // the two self-join branches but NOT the df-cap branch — without
    // this filter that one divergent Filter node splits otherwise
    // byte-identical subtrees and the ragged build runs twice
    val seqs = df.filter(col(idCol).isNotNull)
      .groupBy(col(idCol).cast("long").as("uid"))
      .agg(transform(sort_array(collect_list(struct(
          col(tsCol).as("ts"), col(tieCol).as("tie"),
          col(tokCol).as("tok")))),
        x => x.getField("tok")).as("toks"))
    // ONE canonical (uid, nsh, g) frame for every consumer. The trailing
    // distinct() is a value no-op (wordNgrams is already distinct per
    // uid) but it makes uid/nsh/g GROUPING KEYS — the t_bm25 subtree
    // discipline: grouping keys cannot be column-pruned, so the df-cap
    // branch (needs g only) and both self-join sides keep byte-identical
    // children and ReuseExchange computes the ragged build + explode
    // ONCE. The r7 shape (nsh and the inverted index as separate
    // projections of the gram frame) diverged by pruning into SIX
    // parquet scans / six collect_list exchanges.
    // Join key is the 64-bit hash of each gram, not the string — the
    // inverted-index self-join probes this key sum(df^2) times; same
    // collision posture as ngramJaccardPairs (|vocab|^2 / 2^65).
    val inv = seqs
      .select(col("uid"),
        graft.functions.HashExprs.wordNgrams(col("toks"), n).as("gs"))
      .select(col("uid"), size(col("gs")).as("nsh"),
        explode(col("gs")).as("gstr"))
      .select(col("uid"), col("nsh"), xxhash64(col("gstr")).as("g"))
      .distinct()
    // ONE explicit-width g-keyed exchange for all three g-consumers
    // (the df-cap aggregate and both self-join sides): the bare join
    // would plan its own hash(g) exchange and let AQE byte-coalesce it
    // — but the pair stream this stage GENERATES is the quadratic
    // sum(df²) term AQE cannot see from input bytes (measured at
    // sf0.1: the generation stage ran 2.5s under-parallel; an explicit
    // width is never re-coalesced). groupBy(g) on the repartitioned
    // frame needs no further exchange.
    val invR = inv.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, col("g"))
    val rare = invR.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
      .filter(col("gdf") <= dfCap).select(col("g"))
    val invf = invR.join(rare, "g")
    // The pair aggregate groups by (uid, nid) ONLY — 16-byte keys. The
    // pair stream is the quadratic term (sum over grams of df^2 rows,
    // ~10^8 at sf0.1), so every byte of partial-agg key is paid 10^8
    // times; nsh instead rides a NODE-sized side frame (one narrow
    // reduction of the reused inv exchange) joined back onto the
    // aggregated, candidate-sized pair frame. The divergent-projection
    // hazard only applies BELOW the reused Exchange; above it,
    // consumers are free. Jaccard is symmetric, so the quadratic stream
    // only generates the uid < nid half and the aggregated
    // CANDIDATE-sized frame mirrors via union — ReuseExchange shares
    // the one partial-agg exchange between the two union branches, so
    // the 10^8-row term runs once at half the rows while only the
    // candidate-sized final agg doubles. Interleaved same-JVM A/B on
    // sf0.1 (tools/ABBench, 3 rounds): halved 3.3 s median vs 4.7 s
    // full-stream vs 6.3 s with nsh as r7's two extra grouping keys.
    val half = invf.as("a").join(invf.as("b"),
        col("a.g") === col("b.g") && col("a.uid") < col("b.uid"))
      .groupBy(col("a.uid").as("uid"), col("b.uid").as("nid"))
      .agg(count(lit(1)).as("inter"))
    val pairs = half.unionAll(half.select(
      col("nid").as("uid"), col("uid").as("nid"), col("inter")))
    val sizes = inv.groupBy(col("uid")).agg(max(col("nsh")).as("nsh"))
    val scored = pairs
      .join(sizes.select(col("uid"), col("nsh").as("n1")), "uid")
      .join(sizes.select(col("uid").as("nid"), col("nsh").as("n2")), "nid")
      .select(col("uid"), col("nid"),
        (col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter"))).as("jac"))
    topKPerKey(scored, "uid", "jac", "nid", k)
      .select(col("uid").as(idCol), col("rank"), col("nid"), col("jac"))
  }

  /** Approximate face of [[sequenceJaccardTopK]] — the dense-posting
    * escape hatch its scaladoc names, shipped as a callable: MinHash the
    * distinct-gram sets, band the signatures (LSH), generate candidate
    * pairs from band-bucket equi-joins, then verify candidates with the
    * EXACT Jaccard (array_intersect over the two gram sets) before the
    * bounded-heap top-k. Where the exact path's inverted index pays
    * sum(df^2) over every rare gram, this pays sum(bucket^2) over
    * `bands` buckets per entity — under heavy duplication (dense
    * postings) the bucket term is far smaller; recall is the standard
    * LSH S-curve in true Jaccard (1-(1-s^r)^b), and every SURVIVING pair
    * carries its exact score, so precision is 1 and ranks agree with the
    * exact path on shared pairs (differential-pinned in
    * DedupSimilaritySpec with a measured crossover).
    *
    * 100 TB posture: the gram frame (uid, gs) is projected identically
    * by the signature branch and both verify sides, so the ragged build
    * is ReuseExchange-shared; signatures are `numHashes` longs per
    * entity regardless of sequence length; band buckets are equi-join
    * keys (AQE skew-split applies); candidate dedup happens BEFORE the
    * gram arrays join back in, so the wide verify join only ever sees
    * distinct candidate pairs. Returns (idCol, rank, nid, jac). */
  def sequenceJaccardTopKBanded(df: DataFrame, idCol: String,
      tsCol: String, tokCol: String, tieCol: String, n: Int = 3,
      k: Int = 5, numHashes: Int = 32, bands: Int = 8,
      poly: Boolean = false): DataFrame = {
    require(n > 0 && k > 0 && bands > 0 && numHashes % bands == 0,
      s"bad n=$n k=$k numHashes=$numHashes bands=$bands")
    // same uniform isnotnull prefilter as the exact path (see there)
    val seqs = df.filter(col(idCol).isNotNull)
      .groupBy(col(idCol).cast("long").as("uid"))
      .agg(transform(sort_array(collect_list(struct(
          col(tsCol).as("ts"), col(tieCol).as("tie"),
          col(tokCol).as("tok")))),
        x => x.getField("tok")).as("toks"))
    // (uid, gs) and nothing else: all three consumers (signatures,
    // verify-a, verify-b) need exactly these two columns, keeping the
    // subtrees byte-identical for ReuseExchange; per-side gram counts
    // are derived at verify time as size(gs), not carried. Empty gram
    // sets (sequences shorter than n) are dropped up front: the exact
    // path never sees them (no postings), but their all-sentinel
    // signatures would band-collide with EVERY other empty set and
    // produce 0/0 jaccard rows.
    val grams = seqs.select(col("uid"),
        graft.functions.HashExprs.wordNgrams(col("toks"), n).as("gs"))
      .filter(size(col("gs")) > 0)
    // poly=true swaps the xxh64 signature base for the polyHash twin —
    // identical banding structure, lanes replayable in ANSI SQL (the
    // d_minhash / d_mlsh_poly oracle convention)
    val sig =
      if (poly) graft.functions.HashExprs.minHashSignaturePoly(col("gs"), numHashes)
      else graft.functions.HashExprs.minHashSignature(col("gs"), numHashes)
    val cand = grams
      .select(col("uid"), explode(graft.functions.HashExprs.lshBandKeys(
        sig, bands, numHashes / bands)).as("bk"))
    val pairs0 = cand.as("a").join(cand.as("b"),
        col("a.bk") === col("b.bk") && col("a.uid") =!= col("b.uid"))
      .select(col("a.uid").as("uid"), col("b.uid").as("nid"))
      .distinct()
    val scored = pairs0
      .join(grams.select(col("uid"), col("gs").as("g1")), "uid")
      .join(grams.select(col("uid").as("nid"), col("gs").as("g2")), "nid")
      .select(col("uid"), col("nid"),
        size(array_intersect(col("g1"), col("g2"))).cast("double").as("i"),
        (size(col("g1")) + size(col("g2"))).cast("double").as("s"))
      .select(col("uid"), col("nid"), (col("i") / (col("s") - col("i"))).as("jac"))
    topKPerKey(scored, "uid", "jac", "nid", k)
      .select(col("uid").as(idCol), col("rank"), col("nid"), col("jac"))
  }

  /** Cheap posting-density probe for the seqsim plan pick: the expected
    * average document frequency of an n-gram under a uniform-gram
    * model. Per-entity distinct grams g ≈ min(events-per-entity,
    * distinctTokens^n) (the inverted index distinct()s grams per
    * entity); total postings P = entities * g; vocabulary
    * V = min(distinctTokens^n, P); avgDf = P / V. The exact face's
    * pair-join cost is sum(df^2) ≈ avgDf * P, so avgDf IS the
    * multiplier separating the sparse-token regime (near 1, exact face
    * cheap and lossless) from the dense regime where only banding
    * survives. ONE scan (count + two approx_count_distinct sketches in
    * one aggregate), no ragged build — priced far below either pair
    * plan. On the measured corpora the model reads ~4 at sf0.01, ~39
    * at sf0.1 (exact face fine at 4 s) and ~390 on the clone-rich sf1
    * corpus where the exact face took 21.5 s and banding 1.7 s —
    * consistent with the default threshold 64. */
  def sequenceGramDensity(df: DataFrame, idCol: String, tokCol: String,
      n: Int): Double = {
    val r = df.filter(col(idCol).isNotNull)
      .agg(count(lit(1)), approx_count_distinct(col(idCol)),
        approx_count_distinct(col(tokCol))).head()
    val e = r.getLong(0).toDouble
    val u = r.getLong(1).toDouble
    val d = r.getLong(2).toDouble
    if (e <= 0 || u <= 0 || d <= 0) return 0.0
    val vocabCap = math.pow(d, n.toDouble)
    val g = math.min(e / u, vocabCap)
    val p = u * g
    val v = math.max(1.0, math.min(vocabCap, p))
    p / v
  }

  /** Operational entry point for behavior-sequence similarity: one cheap
    * density probe ([[sequenceGramDensity]]) picks the exact
    * inverted-index face below `densityThreshold` and the MinHash-banded
    * face at or above it. UNLIKE `simhashPairsAdaptive`, the two faces
    * do NOT produce identical output — the banded face drops the
    * low-similarity tail by design (LSH S-curve recall; surviving pairs
    * carry exact scores) — so this is the production dispatch, not an
    * oracle-stable query; grade the faces individually. The default
    * threshold ~64 corresponds to the measured sf1 crossover where the
    * exact pair term (21.5 s) lost to banding (1.7 s) on the clone-rich
    * corpus (docs/SCALE_SOAK.md round 8). */
  def sequenceJaccardTopKAdaptive(df: DataFrame, idCol: String,
      tsCol: String, tokCol: String, tieCol: String, n: Int = 3,
      k: Int = 5, dfCap: Int = 1000, numHashes: Int = 32, bands: Int = 8,
      densityThreshold: Double = 64.0): DataFrame = {
    if (sequenceGramDensity(df, idCol, tokCol, n) < densityThreshold)
      sequenceJaccardTopK(df, idCol, tsCol, tokCol, tieCol, n, k, dfCap)
    else
      sequenceJaccardTopKBanded(df, idCol, tsCol, tokCol, tieCol, n, k,
        numHashes, bands)
  }

  /** Reciprocal-rank fusion of several per-query rankings — the standard
    * hybrid-retrieval combiner (sparse BM25/lexical + dense embedding
    * search feeding one result list; Cormack et al.'s RRF). Each input
    * frame must carry (qid, nid, rank); a document absent from a system
    * contributes 0 from that system. Scores are fixed-point integers
    * (`scale DIV (rrfK + rank)`) so the fused ordering is bit-identical
    * across engines — no float summation anywhere.
    *
    * Scale posture: inputs are already top-k bounded (#queries x k rows
    * per system), so the union + fuse aggregate moves only candidate
    * rows; the heavy lifting lives in the underlying searches. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, rrfK: Int = 60,
      scale: Long = 1000000L): DataFrame = {
    require(rankings.nonEmpty, "at least one ranking")
    val scored = rankings.map(_.select(col("qid"), col("nid"),
        expr(s"$scale DIV ($rrfK + rank)").as("s")))
      .reduce(_ unionAll _)
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("s")).as("rrf"))
    topKPerKey(scored, "qid", "rrf", "nid", k)
  }

  /** Exact token-set Jaccard top-k for a query subset — the sparse
    * (lexical) leg of hybrid retrieval. Inverted-index join: the
    * query-side postings (dimension-sized by contract — `queryFilter`
    * selects the query docs) broadcast against the corpus postings, so
    * the corpus is never all-paired. Similarity is integer-quantized
    * (`inter * 1000000 DIV union`) — rank order replays exactly in SQL.
    * For corpora with boilerplate-dominated postings, the df-capped
    * candidate generation of [[graft.dedup]]'s ngram machinery is the
    * scale escape hatch (same join shape, capped postings). */
  def lexicalJaccardTopK(docs: DataFrame, idCol: String, textCol: String,
      queryFilter: Column => Column, k: Int, minTokLen: Int = 4): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("id"),
        explode(array_distinct(graft.text.wsTokens(lower(col(textCol))))).as("tok"))
      .filter(length(col("tok")) >= minTokLen)
    val sizes = toks.groupBy(col("id")).agg(count(lit(1)).as("nt"))
    val q = toks.filter(queryFilter(col("id")))
      .select(col("id").as("qid"), col("tok"))
    val inter = toks.select(col("id").as("nid"), col("tok"))
      .join(broadcast(q), "tok")
      .filter(col("qid") =!= col("nid"))
      .groupBy(col("qid"), col("nid")).agg(count(lit(1)).as("inter"))
    val jq = inter
      .join(broadcast(sizes.filter(queryFilter(col("id")))
        .select(col("id").as("qid"), col("nt").as("na"))), "qid")
      .join(sizes.select(col("id").as("nid"), col("nt").as("nb")), "nid")
      .select(col("qid"), col("nid"),
        expr("(inter * 1000000) DIV (na + nb - inter)").as("jq"))
    topKPerKey(jq, "qid", "jq", "nid", k)
  }

  /** All pairs with cosine >= threshold within a blocking key — embedding
    * near-dup detection. Blocking bounds the quadratic term. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      col(blockCol).as("blk"))
    v.as("a").join(v.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        cosine(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
