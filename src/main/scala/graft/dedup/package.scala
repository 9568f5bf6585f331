package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, embedding-cosine. Designed for the 100 TB
  * regime:
  *
  *  - candidate generation is always an **inverted-index equi-join**
  *    (explode shingles/bands/buckets, shuffle on the key, join) — never an
  *    O(n^2) cross join;
  *  - signatures (minhash, simhash) are computed map-side in one codegen'd
  *    HOF pass over the token array, so the shuffle carries only
  *    (key, doc_id) pairs;
  *  - all hashes are deterministic integer arithmetic (no JVM-specific
  *    hashing), so results are reproducible across engines and runs.
  *
  * The pair generators take a `dfCap` document-frequency cap: shingles/
  * band-keys occurring in more than dfCap docs are dropped before the
  * self-join (they generate quadratic candidate blowup and carry no
  * signal). Off by default for oracle-exact results; at 100 TB it is the
  * knob that bounds the worst key's cost to dfCap^2.
  */
package object dedup {

  /** Whitespace tokens. */
  private def toks(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** Distinct word n-gram shingles of a text column (n>=1), as strings,
    * first-occurrence order. Tokenization is codegen'd built-ins; the
    * n-gram loop is a custom Expression (~100x over the interpreted HOF
    * form — it sits under an explode on both sides of the inverted-index
    * join, so it is the hot path of n-gram dedup). */
  def wordShingles(c: Column, n: Int): Column =
    graft.functions.HashExprs.wordNgrams(toks(c), n)

  /** Deterministic polynomial hash of a string (base 131, mod 1e9+7)
    * over its code points: the [[graft.functions.HashExprs.PolyHash]]
    * kernel. The modulus keeps every intermediate below 2^38, so the
    * arithmetic is overflow-free in any signed-64 engine (DuckDB raises on
    * BIGINT overflow; Java would silently wrap). */
  def polyHash(c: Column): Column = graft.functions.HashExprs.polyHashFast(c)

  /** MinHash signature: k permutations h_i(x) = (a_i*x + b_i) mod p over the
    * shingle base-hashes, min per permutation; array<long> of length k.
    *
    * Implemented as a custom Catalyst Expression (one tight-loop eval per
    * row): the equivalent `aggregate`/`zip_with` HOF form runs interpreted
    * and is ~100x slower. Base hash = xxhash64 (native, deterministic;
    * minhash is approximate-by-construction so it needs no cross-engine-
    * reproducible hash). See graft.functions.HashExprs. */
  def minHashSignature(shingles: Column, k: Int, seed: Long = 42L): Column =
    graft.functions.HashExprs.minHashSignature(shingles, k, seed)

  /** Band keys for LSH: split the signature into `bands` bands of `rows`
    * values, hash each band — equal band key => candidate pair. Returns
    * array<struct<band:int, key:long>> for exploding. A custom Expression
    * (one loop per row; the per-band `aggregate(slice(...))` HOF spelling
    * it replaces ran `bands` interpreted folds — ModulesSpec pins the two
    * equal). */
  def lshBandKeys(sig: Column, bands: Int, rows: Int): Column =
    graft.functions.HashExprs.lshBandKeys(sig, bands, rows)

  /** SimHash (48-bit, safe in a signed 64-bit lane): per-token deterministic
    * hash (polyHash, Knuth-multiplied), each bit votes +-1 weighted by
    * occurrence; the sign vector packs into a long. Entirely map-side.
    * Tokenization stays in codegen'd built-ins; the vote loop is a custom
    * Expression (graft.functions.HashExprs.SimHash48) — bit-exact with the
    * DuckDB oracle's list_reduce/range(48) formulation. */
  def simHash48(c: Column): Column =
    graft.functions.HashExprs.simHash48(toks(c))

  /** Hamming distance between two packed signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exact simhash near-dup pairs via the banded (Manku-style) index:
    * split the `bits`-wide signature into `maxHamming + 1` bands — by
    * pigeonhole, any pair within `maxHamming` differing bits leaves at
    * least one band untouched — so candidates come from an equi-join on
    * (band index, band bits, block) and only candidates pay the hamming
    * verification. Output (id1, id2, dist) is identical to the blocked
    * all-pairs form, but the cost is driven by band collisions instead of
    * the block-quadratic |block|^2 — the difference between usable and
    * not at web-corpus scale. (Measured crossover: at 5k docs/block the
    * all-pairs long-compare stream is still 3x FASTER — banding pays
    * explode + distinct + two sig joins — so reach for this once blocks
    * pass ~10^5 rows.)
    *
    * `blockCol` optionally confines pairs to equal-block rows (e.g.
    * language), matching the brute-force query's semantics. */
  /** The Manku band split of a packed `sig` column: maxHamming+1 bands
    * (pigeonhole — a pair within maxHamming bits agrees on at least one),
    * first `bits % nBands` bands one bit wider. Shared by the full and
    * incremental banded planners so their candidate spaces are identical
    * by construction. */
  private def simhashBandStructs(maxHamming: Int, bits: Int): Seq[Column] = {
    val nBands = maxHamming + 1
    val base = bits / nBands
    val extra = bits % nBands // first `extra` bands get one extra bit
    val offsets = (0 until nBands).scanLeft(0) { (acc, j) =>
      acc + base + (if (j < extra) 1 else 0)
    }
    (0 until nBands).map { j =>
      val w = base + (if (j < extra) 1 else 0)
      val mask = (1L << w) - 1L
      struct(lit(j).as("j"),
        shiftright(col("sig"), offsets(j)).bitwiseAND(lit(mask)).as("bk"))
    }
  }

  def simhashBandPairs(df: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int, bits: Int = 48,
      blockCol: Option[String] = None): DataFrame = {
    val bandExprs = simhashBandStructs(maxHamming, bits)
    val blockSel = blockCol.map(c => col(c).as("blk")).toSeq
    val sigs = df.select(
      Seq(col(idCol).as("id"), col(sigCol).as("sig")) ++ blockSel: _*)
    val keys = sigs.select(
      Seq(col("id"), explode(array(bandExprs: _*)).as("b")) ++
        (if (blockCol.isDefined) Seq(col("blk")) else Nil): _*)
    val blockCond = if (blockCol.isDefined)
      col("a.blk") === col("b.blk") else lit(true)
    val cand = keys.as("a").join(keys.as("b"),
        col("a.b") === col("b.b") && col("a.id") < col("b.id") && blockCond)
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    cand
      .join(sigs.select(col("id"), col("sig").as("s1")), col("id1") === col("id")).drop("id")
      .join(sigs.select(col("id"), col("sig").as("s2")), col("id2") === col("id")).drop("id")
      .select(col("id1"), col("id2"),
        hamming(col("s1"), col("s2")).cast("long").as("dist"))
      .filter(col("dist") <= maxHamming)
  }

  /** Incremental face of [[simhashBandPairs]] — streaming-backfill parity
    * with [[minhashLshPairsIncremental]]: candidates come from probing the
    * band index of (seen ∪ new) with the NEW side only, so seen-seen pairs
    * never form and per-ingest cost is delta-proportional (|new| band rows
    * probe the index; the seen corpus is never self-joined). Output ==
    * full-corpus [[simhashBandPairs]] over seen ∪ new MINUS the pairs
    * both of whose ids are seen (differential-pinned in
    * DedupSimilaritySpec). Both frames need (idCol, sigCol[, blockCol]);
    * ids must be unique across the union. Returns (id1, id2, dist). */
  def simhashBandPairsIncremental(newDf: DataFrame, seenDf: DataFrame,
      idCol: String, sigCol: String, maxHamming: Int, bits: Int = 48,
      blockCol: Option[String] = None): DataFrame = {
    val bandExprs = simhashBandStructs(maxHamming, bits)
    val blockSel = blockCol.map(c => col(c).as("blk")).toSeq
    def sigsOf(df: DataFrame) = df.select(
      Seq(col(idCol).as("id"), col(sigCol).as("sig")) ++ blockSel: _*)
    val allSigs = sigsOf(seenDf).unionByName(sigsOf(newDf))
    def keysOf(s: DataFrame) = s.select(
      Seq(col("id"), explode(array(bandExprs: _*)).as("b")) ++
        (if (blockCol.isDefined) Seq(col("blk")) else Nil): _*)
    val blockCond = if (blockCol.isDefined)
      col("a.blk") === col("b.blk") else lit(true)
    // all x new: a new-new pair collides twice (once per orientation),
    // a seen-new pair once; least/greatest + distinct canonicalizes both
    val cand = keysOf(allSigs).as("a").join(keysOf(sigsOf(newDf)).as("b"),
        col("a.b") === col("b.b") && col("a.id") =!= col("b.id") && blockCond)
      .select(least(col("a.id"), col("b.id")).as("id1"),
        greatest(col("a.id"), col("b.id")).as("id2"))
      .distinct()
    cand
      .join(allSigs.select(col("id"), col("sig").as("s1")), col("id1") === col("id")).drop("id")
      .join(allSigs.select(col("id"), col("sig").as("s2")), col("id2") === col("id")).drop("id")
      .select(col("id1"), col("id2"),
        hamming(col("s1"), col("s2")).cast("long").as("dist"))
      .filter(col("dist") <= maxHamming)
  }

  /** Blocked all-pairs simhash compare: every same-block pair pays one
    * codegen'd xor/popcount. |block|-quadratic — the small-block special
    * case of [[simhashBandPairs]] (identical output, equivalence-pinned
    * in DedupSimilaritySpec), ~3x faster below the ~10^5-docs/block
    * crossover where banding's explode + distinct + two sig joins
    * dominate. Never reach for this when a block can grow with the
    * corpus. */
  def simhashBrutePairs(df: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int, blockCol: Option[String] = None): DataFrame = {
    val blockSel = blockCol.map(c => col(c).as("blk")).toSeq
    val sigs = df.select(
      Seq(col(idCol).as("id"), col(sigCol).as("sig")) ++ blockSel: _*)
    val blockCond = if (blockCol.isDefined)
      col("a.blk") === col("b.blk") else lit(true)
    sigs.as("a").join(sigs.as("b"), blockCond && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        hamming(col("a.sig"), col("b.sig")).cast("long").as("dist"))
      .filter(col("dist") <= maxHamming)
  }

  /** Adaptive simhash near-dup pairs: ONE cheap probe (max block size — a
    * groupBy(block).count() max, or a total count with no block) picks the
    * plan. Below `bandedThreshold` docs in the largest block, the blocked
    * all-pairs compare wins (measured 3x at 5k docs/block — banding pays
    * explode + distinct + two sig joins); at or above it, only the banded
    * pigeonhole index survives (|block|^2 is dead at web scale where one
    * language is a billions-row block). Output identical either way.
    *
    * The default threshold is the measured ~10^5 crossover
    * (dedup/package.scala:86-89). The probe is a block-cardinality
    * aggregate — two tiny shuffles, O(distinct blocks) rows — priced far
    * under either pair plan. */
  def simhashPairsAdaptive(df: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int, bits: Int = 48, blockCol: Option[String] = None,
      bandedThreshold: Long = 100000L): DataFrame = {
    val maxBlock = blockCol match {
      case Some(c) =>
        val r = df.groupBy(col(c)).count().agg(max(col("count"))).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      case None => df.count()
    }
    if (maxBlock < bandedThreshold)
      simhashBrutePairs(df, idCol, sigCol, maxHamming, blockCol)
    else
      simhashBandPairs(df, idCol, sigCol, maxHamming, bits, blockCol)
  }

  /** Exact n-gram Jaccard near-duplicate pairs via inverted-index join.
    * Returns (id1, id2, inter, uni) with 2*inter >= uni (jaccard >= 0.5
    * as an exact integer predicate — no float rounding in the cut).
    *
    * df must have columns (idCol: long, textCol: string). With dfCap > 0,
    * shingles in more than dfCap docs are excluded from the intersection
    * count (denominators stay full-size), making the estimate conservative
    * — candidate generation cost drops from sum(df^2) over ALL shingles to
    * over rare ones only. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, minJaccardPct: Int = 50, dfCap: Int = 0): DataFrame = {
    // Repartition BEFORE the explode — but only when the input is actually
    // under-parallel (few parquet splits): a small input would otherwise
    // run the whole explode -> join-probe -> partial-agg pipeline in one
    // or two tasks. When the scan already yields >= shuffle-partitions
    // splits (any real corpus, and the 100 TB case) the extra shuffle is
    // pure waste — an unconditional repartition here cost 2.5x on d_ngram
    // at sf0.1. Explicit N when it does fire: AQE would coalesce a bare
    // repartition(col) of a 5k-row shuffle back to 1 partition, and the
    // partition count must reflect the POST-explosion size.
    val sh = graft.core.Partitions.ensureMinParallelism(
      df.select(col(idCol).as("id"), wordShingles(col(textCol), n).as("sh"))
        .withColumn("nsh", size(col("sh"))),
      col("id"))
    // join on the 64-bit hash of each shingle, not the string: the
    // inverted-index self-join probes this key sum(df^2) times (~36M at
    // sf0.1), and long compares beat variable-length string compares by
    // ~30% end-to-end while the shuffle carries 8 bytes/key. A hash
    // collision could only merge two shingles' posting lists; with |vocab|
    // distinct shingles the probability is |vocab|^2 / 2^65 (~2e-14 on the
    // bench corpus; uniqueness asserted in DedupSimilaritySpec).
    val inv0 = sh.select(col("id"), explode(col("sh")).as("gs"))
      .select(col("id"), xxhash64(col("gs")).as("g"))
    // document-frequency cap: one extra count+join over (g, df), paid
    // once, to cut the sum(df^2) candidate blowup of stop-word shingles
    val inv =
      if (dfCap <= 0) inv0
      else {
        val rare = inv0.groupBy(col("g")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= dfCap).select(col("g"))
        inv0.join(rare, "g")
      }
    // Group on the two ids only — carrying nsh through the 36M-row pair
    // stream widens every partial-agg entry; the (id, nsh) side joins back
    // in after the heavy aggregate. NO broadcast hint here: this frame has
    // one row per document, so at corpus scale it is billions of rows and a
    // forced broadcast (which overrides the size threshold) would OOM.
    // Unhinted, Catalyst broadcasts it when its size estimate fits under
    // autoBroadcastJoinThreshold, and AQE re-plans the sort-merge join into
    // a broadcast join at runtime from the ACTUAL shuffle size — so the
    // small-corpus plan keeps the broadcast while the 100 TB plan degrades
    // to a shuffled join instead of an OOM. Pinned in PlanQualitySpec.
    val pairs = inv.as("a").join(inv.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("inter"))
    val nshDf = sh.select(col("id"), col("nsh"))
    pairs
      .join(nshDf.withColumnRenamed("nsh", "n1"), col("id1") === col("id")).drop("id")
      .join(nshDf.withColumnRenamed("nsh", "n2"), col("id2") === col("id")).drop("id")
      .withColumn("uni", col("n1") + col("n2") - col("inter"))
      .filter(col("inter") * 100 >= col("uni") * minJaccardPct)
      .select(col("id1"), col("id2"), col("inter"), col("uni"))
  }

  /** N-gram CONTAINMENT pairs — the asymmetric cousin of
    * [[ngramJaccardPairs]]: containment(src in dst) = |src ∩ dst| /
    * |src|, the decontamination / quote-detection measure (a short eval
    * prompt fully quoted inside a long training doc scores containment
    * ~1 while its Jaccard is tiny, so a symmetric threshold misses
    * exactly the case that matters). Same inverted-index plan as the
    * Jaccard face — one unordered pair aggregate over the posting
    * self-join — with BOTH orientations derived from each surviving
    * unordered pair by two cheap projections of the (already tiny)
    * pair frame, then thresholded per direction.
    *
    * Returns oriented rows (src, dst, inter, nsrc) where
    * inter * 100 >= nsrc * minContainPct; `dfCap` prunes stop-shingle
    * postings exactly as in the Jaccard face.
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, minContainPct: Int = 80, dfCap: Int = 0): DataFrame = {
    val sh = graft.core.Partitions.ensureMinParallelism(
      df.select(col(idCol).as("id"), wordShingles(col(textCol), n).as("sh"))
        .withColumn("nsh", size(col("sh"))),
      col("id"))
    val inv0 = sh.select(col("id"), explode(col("sh")).as("gs"))
      .select(col("id"), xxhash64(col("gs")).as("g"))
    val inv =
      if (dfCap <= 0) inv0
      else {
        val rare = inv0.groupBy(col("g")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= dfCap).select(col("g"))
        inv0.join(rare, "g")
      }
    val pairs = inv.as("a").join(inv.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("inter"))
    val nshDf = sh.select(col("id"), col("nsh"))
    val base = pairs
      .join(nshDf.withColumnRenamed("nsh", "n1"), col("id1") === col("id")).drop("id")
      .join(nshDf.withColumnRenamed("nsh", "n2"), col("id2") === col("id")).drop("id")
    base.select(col("id1").as("src"), col("id2").as("dst"),
        col("inter"), col("n1").cast("long").as("nsrc"))
      .unionByName(base.select(col("id2").as("src"), col("id1").as("dst"),
        col("inter"), col("n2").cast("long").as("nsrc")))
      .filter(col("inter") * 100 >= col("nsrc") * minContainPct)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space with spherical k-means, then drop any
    * vector that has a higher-cosine-than-`minCosine` near-duplicate with
    * a smaller id INSIDE ITS CLUSTER. Clustering replaces label blocking
    * as the quadratic bound: with the sqrt(N) auto cell count, expected
    * cell size is sqrt(N), so the within-cell pair term is ~N^1.5 total —
    * the same budget as the IVF assignment itself — where unblocked
    * all-pairs is N². Cross-cell near-dups are missed by construction;
    * that recall loss is the documented SemDeDup trade.
    *
    * Deterministic end to end (seed centroids = first k by id, smallest-cid
    * tie-breaks, exact keep rule), so the WHOLE pipeline — both k-means
    * training rounds, assignment, within-cell pairs, keep flags — replays
    * in DuckDB (the d_semdedup oracle). Zero-norm vectors have no cosine
    * to anything: they keep `cid` null and are always kept.
    *
    * Returns one row per input vector: (idCol, cid, kept). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, nCells: Int = 0, trainIters: Int = 2): DataFrame = {
    import graft.similarity.{cosine, kmeansCentroids}
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val nc =
      if (nCells > 0) nCells
      else math.min(65536L, math.max(16L,
        math.ceil(math.sqrt(v.count().toDouble)).toLong)).toInt
    val centroids = kmeansCentroids(df, idCol, vecCol, nc, trainIters)
    // N x k assignment against the broadcast k-row centroid table — the
    // documented IVF cross pattern (crossByDesign in PlanQualitySpec)
    val home = v.join(broadcast(centroids))
      .select(col("id"), col("cid"), cosine(col("vec"), col("cvec")).as("sim"))
      .filter(col("sim").isNotNull)
      .groupBy(col("id"))
      .agg(max_by(col("cid"), struct(col("sim"), -col("cid"))).as("cid"))
    val cv = home.join(v, "id")
    val dropped = cv.as("a").join(cv.as("b"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .select(col("b.id").as("id"),
        cosine(col("a.vec"), col("b.vec")).as("cos"))
      .filter(col("cos") >= minCosine)
      .select(col("id")).distinct()
    v.select(col("id"))
      .join(home, Seq("id"), "left")
      .join(dropped.withColumn("__d", lit(1)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cid"), col("__d").isNull.as("kept"))
  }

  /** Edit-distance near-dup pairs within a blocking key — the fuzzy-match
    * modality for short or structured text (titles, names, leading
    * boilerplate) where token-set similarity is too coarse: one
    * transposed/edited character is distance 1 here but can flip many
    * shingles. Blocking bounds the quadratic pair term (same posture as
    * cosineNearDupPairs' label blocking); `prefixLen` caps the DP cost at
    * O(prefixLen²) per pair; Spark's thresholded levenshtein abandons a
    * pair's DP as soon as `maxDist` is exceeded. Output is canonical
    * (id1 < id2) with the exact distance. */
  def levenshteinPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, maxDist: Int, prefixLen: Int = 64): DataFrame = {
    require(maxDist >= 0 && prefixLen > 0, s"bad maxDist=$maxDist prefixLen=$prefixLen")
    val d = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
      substring(col(textCol), 1, prefixLen).as("p"))
    // Length banding inside each block — EXACT pruning: strings within
    // maxDist edits differ by at most maxDist in length, so with bucket
    // width W = maxDist+1 a qualifying pair sits in the same or adjacent
    // buckets. One side probes {b-1, b, b+1}; a pair matches exactly one
    // probe (its partner's single bucket), so no dedup pass is needed.
    // Without this the user-block quadratic grows with the corpus (a 10x
    // corpus made every lang block 10x => ~100x candidate pairs, measured
    // 13.6 s at sf1); banded, block growth only widens the length
    // HISTOGRAM, and per-bucket populations stay corpus-shaped.
    val w = maxDist + 1
    val a = d.select(col("id").as("id1"), col("blk"), col("p").as("p1"),
        explode(sequence(floor(length(col("p")) / w) - 1,
          floor(length(col("p")) / w) + 1)).as("lb"))
    val b = d.select(col("id").as("id2"), col("blk"), col("p").as("p2"),
      floor(length(col("p")) / w).as("lb"))
    a.join(b, Seq("blk", "lb"))
      .filter(col("id1") < col("id2") &&
        abs(length(col("p1")) - length(col("p2"))) <= maxDist)
      .select(col("id1"), col("id2"),
        levenshtein(col("p1"), col("p2"), maxDist).as("dist"))
      .filter(col("dist") =!= -1) // threshold form returns -1 past maxDist
  }

  /** Equality-blocked candidate pairs for record linkage — the classic
    * blocking strategy (pairs only WITHIN a block, join stays equi-keyed,
    * never all-pairs across blocks), now with the `groupCap` discipline
    * the rest of the engine's quadratic candidate generators carry
    * (the [[graft.operators.Graph.coOccurrence]] precedent;
    * r11 verdict Next #1).
    *
    * Why the cap is load-bearing at scale: a FIXED-domain blocking key
    * (brand, country, category — str_linkage's p_brand has ~25 values)
    * makes block size LINEAR in the corpus, so pair volume per block is
    * quadratic — at 100x the data that is 10,000x the verify-kernel
    * evaluations, concentrated in as many tasks as there are blocks.
    * With `blockCap > 0`, blocks holding more than `blockCap` rows are
    * DROPPED, bounding every block's cost at blockCap²/2 pairs.
    * Dropped, not truncated: truncating a block would keep an
    * arbitrary partition-order-dependent subset of its pairs — a
    * nondeterministic half-answer; a dropped block is a documented,
    * COUNTED refusal, reported through the plan-native `observe`
    * metric `"linkage_block_cap"` (fields `dropped_blocks`,
    * `kept_blocks`) so a pipeline can alert instead of silently
    * running a 10,000x job. The oversized blocks are exactly the ones
    * a linkage practitioner re-blocks on a finer key (brand+container,
    * not brand) — the cap converts a latent quadratic into an explicit
    * re-blocking decision.
    *
    * The gate costs one map-side-combined count shuffled on the SAME
    * key as the self-join plus a co-partitioned semi-join — no new
    * shuffle key enters the plan. With `blockCap = 0` (the default)
    * the plan is byte-identical to the bare blocked self-join.
    *
    * Output: one row per unordered candidate pair, every payload
    * column of `df` carried twice under `a_`/`b_` prefixes, ordered
    * `a_<idCol> < b_<idCol>`; rows with a NULL block key never pair
    * (SQL equality semantics, same as the bare self-join). The verify
    * kernel (Jaro-Winkler, Levenshtein, ...) is the caller's —
    * blocking and matching compose, as in the reference's ER surface. */
  def blockedPairs(df: DataFrame, blockCol: Column, idCol: String,
      blockCap: Int = 0): DataFrame = {
    require(df.columns.contains(idCol), s"missing id column $idCol")
    require(!df.columns.contains("__blk"),
      "column name __blk is reserved by blockedPairs")
    require(!df.columns.contains("__salt"),
      "column name __salt is reserved by blockedPairs")
    val base = df.withColumn("__blk", blockCol).filter(col("__blk").isNotNull)
    val src =
      if (blockCap <= 0) base
      else {
        val kept = base.groupBy(col("__blk"))
          .agg(count(lit(1)).as("n_rows"))
          .observe("linkage_block_cap",
            sum(when(col("n_rows") > blockCap, 1L).otherwise(0L))
              .as("dropped_blocks"),
            sum(when(col("n_rows") <= blockCap, 1L).otherwise(0L))
              .as("kept_blocks"))
          .filter(col("n_rows") <= blockCap)
          .select(col("__blk"))
        base.join(kept, Seq("__blk"), "left_semi")
      }
    val payload = df.columns.toSeq
    // SALTED sub-blocking (guide §2.5): the block key has a small fixed
    // domain by the operator's nature (~25 brands), so the bare __blk
    // equi-join runs in at most |domain| tasks — and AQE's byte-based
    // coalescing, blind to the quadratic pair OUTPUT, merges those tiny
    // inputs further (measured at sf0.1: the whole 8M-pair Jaro-Winkler
    // verify ran in ONE task, 3.45 s of a 3.6 s query). Each a-row gets
    // a deterministic sub-block salt from its id hash; the b-side
    // replicates into every salt lane, so each unordered pair meets in
    // exactly one (__blk, __salt) bucket — the pair set is byte-
    // identical, only its task placement changes. Cost: the b-side
    // shuffles saltN x its rows (linear, the standard salting price);
    // per-task pair work drops to blockCap²/saltN. saltN derives from
    // the session shuffle width (capped 64 — replication is corpus-
    // linear, so the cap bounds the price at production widths), and
    // both sides carry an EXPLICIT partition count, which AQE never
    // re-coalesces.
    val saltN = math.max(1, math.min(64,
      df.sparkSession.sessionState.conf.numShufflePartitions))
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val aSide = src.select(col("__blk") +:
        pmod(xxhash64(col(idCol)), lit(saltN.toLong)).as("__salt") +:
        payload.map(c => col(c).as(s"a_$c")): _*)
      .repartition(nParts, col("__blk"), col("__salt"))
    val bSide = src.select(col("__blk") +:
        explode(array((0 until saltN).map(i => lit(i.toLong)): _*)).as("__salt") +:
        payload.map(c => col(c).as(s"b_$c")): _*)
      .repartition(nParts, col("__blk"), col("__salt"))
    aSide.join(bSide, Seq("__blk", "__salt"))
      .filter(col(s"a_$idCol") < col(s"b_$idCol"))
      .drop("__blk", "__salt")
  }

  /** Sorted-neighborhood blocking (Hernández–Stolfo): rank every row by
    * a sort key, pair rows whose GLOBAL ranks are within `w` — the
    * record-linkage blocking used when no clean equality key (brand,
    * language) exists but similar records sort near each other
    * (names, normalized addresses). Returns (id1, id2, rn1, rn2)
    * candidates; verify with the matcher of your choice (the
    * str_linkage_sn query verifies with the Jaro–Winkler kernel).
    *
    * Exact global ranks WITHOUT a single-task sort: the (key, id) rank
    * of [[graft.core.Partitions.globalRankBy]], a running count over a
    * range partition. The rank — hence the output — is
    * partitioning-independent: partition boundaries only move WHERE
    * offsets split, never what any row's global rank is. Candidate
    * pairs come from a bucket equi-join (rank DIV w, probing b and
    * b+1); each qualifying pair matches exactly one probe, so no dedup
    * pass. Output volume is ≤ w rows per row — linear in the corpus by
    * construction, the property that makes this blocking usable at
    * 100 TB where key-blocking quadratics blow up. */
  def sortedNeighborhoodPairs(df: DataFrame, key: Column, idCol: String,
      w: Int): DataFrame = {
    require(w > 0, s"window must be positive, got $w")
    val ranked = graft.core.Partitions.globalRankBy(
        df.select(col(idCol).as("id"), key.as("k")), col("k"), "id")
      .withColumn("b", expr(s"rn DIV $w"))
    val probe = ranked.select(col("id").as("id1"), col("rn").as("rn1"),
      explode(array(col("b"), col("b") + 1)).as("bb"))
    val build = ranked.select(col("id").as("id2"), col("rn").as("rn2"),
      col("b").as("bb"))
    probe.join(build, "bb")
      .filter(col("rn2") > col("rn1") && col("rn2") - col("rn1") <= w)
      .select(col("id1"), col("id2"), col("rn1"), col("rn2"))
  }

  /** Cross-corpus contamination scan: every (train, eval) document pair
    * whose n-gram Jaccard is at least `minJaccardPct`/100 — the
    * decontamination pass that keeps benchmark/eval text out of a training
    * corpus. Returns (train_id, eval_id, inter, uni); drop the returned
    * eval_ids (or train_ids) downstream.
    *
    * Same machinery and scale posture as [[ngramJaccardPairs]] (explicit
    * pre-explode repartition, 64-bit shingle keys, exact integer Jaccard
    * cut), but the inverted-index join pairs TRAIN postings against EVAL
    * postings only — candidate volume is sum(df_train · df_eval) per
    * shingle, never within-corpus pairs. At 100 TB train × small eval,
    * only eval-side tables (postings index, per-doc counts) broadcast;
    * everything train-sized moves through shuffled joins. */
  def crossContamination(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String,
      n: Int = 2, minJaccardPct: Int = 50): DataFrame = {
    def prep(df: DataFrame) = graft.core.Partitions.ensureMinParallelism(
      df.select(col(idCol).as("id"), wordShingles(col(textCol), n).as("sh"))
        .withColumn("nsh", size(col("sh"))),
      col("id"))
    def index(sh: DataFrame) = sh
      .select(col("id"), explode(col("sh")).as("gs"))
      .select(col("id"), xxhash64(col("gs")).as("g"))
    val (shT, shE) = (prep(train), prep(eval))
    val pairs = index(shT).as("t").join(index(shE).as("e"), col("t.g") === col("e.g"))
      .groupBy(col("t.id").as("train_id"), col("e.id").as("eval_id"))
      .agg(count(lit(1)).as("inter"))
    // Only the EVAL side's counts broadcast (eval is the small corpus by
    // contract); the train counts — billions of rows at the 100 TB posture —
    // join shuffled, keyed by the already-aggregated candidate pairs, which
    // are far fewer than the posting stream.
    pairs
      .join(shT.select(col("id"), col("nsh").as("n1")),
        col("train_id") === col("id")).drop("id")
      .join(broadcast(shE.select(col("id"), col("nsh").as("n2"))),
        col("eval_id") === col("id")).drop("id")
      .withColumn("uni", col("n1") + col("n2") - col("inter"))
      .filter(col("inter") * 100 >= col("uni") * minJaccardPct)
      .select(col("train_id"), col("eval_id"), col("inter"), col("uni"))
  }

  /** Per-document duplicated-shingle ratio: the fraction of a doc's distinct
    * word n-grams that occur in at least `minDf` documents corpus-wide — the
    * boilerplate / template-contamination metric (a doc made of spans the
    * rest of the corpus also contains scores near 1). The corpus-level
    * complement of the pairwise generators above: no pair stream at all.
    *
    * Scale posture: two shuffles total — one groupBy(g) over the posting
    * stream for document frequency (partial map-side count, 8-byte keys),
    * one shuffled join back to the postings plus a groupBy(id). No
    * broadcast: at 100 TB the shingle-vocabulary table is itself huge.
    * Reference analogue: dask-awkward expresses this as map_partitions over
    * value_counts joins (`lib/structure.py` run-length tooling); here the
    * whole thing is three Catalyst aggregates. */
  def duplicatedShingleRatio(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, minDf: Int = 2): DataFrame = {
    val inv = graft.core.Partitions.ensureMinParallelism(
        df.select(col(idCol).as("id"), wordShingles(col(textCol), n).as("sh")),
        col("id"))
      .select(col("id"), explode(col("sh")).as("gs"))
      .select(col("id"), xxhash64(col("gs")).as("g"))
    // shingles are distinct within a doc, so count(*) per g IS the doc freq
    val dfreq = inv.groupBy(col("g")).agg(count(lit(1)).as("df"))
    inv.join(dfreq, "g")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("df") >= minDf, 1)).as("n_shared"))
      .select(col("id"), col("n_shingles"), col("n_shared"),
        round(col("n_shared") / col("n_shingles"), 4).as("dup_ratio"))
  }

  /** Exact Jaccard pairs via PPJoin-style prefix filtering: index only each
    * doc's rarest `p = n - ceil(t*n) + 1` shingles (global rarest-first
    * order by document frequency); any pair at jaccard >= t must share one
    * of them, so candidates shrink to prefix collisions, then an exact
    * `array_intersect` verifies. Bit-identical output to
    * [[ngramJaccardPairs]] (A/B-verified on the full sf0.1 corpus).
    *
    * WHEN TO USE: high-overlap corpora where the inverted-index pair stream
    * explodes (sum of df^2 over shingles >> candidate pairs). On the bench
    * corpus (5k docs, low duplication) the df-computation + per-doc
    * rarest-first sort + per-candidate verification cost 5x MORE than the
    * plain inverted-index aggregate — measured 11.2s vs 2.3s at sf0.1 —
    * so [[ngramJaccardPairs]] remains the default; this is the escape
    * hatch for the boilerplate-heavy web-crawl regime where the pair
    * stream, not the per-doc work, is the bottleneck. */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, minJaccardPct: Int = 50): DataFrame = {
    val spark = df.sparkSession
    val t = minJaccardPct / 100.0
    val sh = graft.core.Partitions.ensureMinParallelism(
      df.select(col(idCol).as("id"), wordShingles(col(textCol), n).as("sh")),
      col("id"))
    val inv0 = sh.select(col("id"), explode(col("sh")).as("g"))
    val dfreq = inv0.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // rarest-first global order (df, g); per-doc prefix of that order
    val ordered = inv0.join(dfreq, "g")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("ogs"))
      .select(col("id"),
        transform(col("ogs"), x => x.getField("g")).as("ogs"),
        size(col("ogs")).as("nsh"))
    val pref = ordered.select(col("id"),
      explode(slice(col("ogs"), lit(1),
        (col("nsh") - ceil(col("nsh") * t) + 1).cast("int"))).as("g"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    val full = ordered.select(col("id"), col("ogs"), col("nsh"))
    cand
      .join(full.select(col("id"), col("ogs").as("g1"), col("nsh").as("n1")),
        col("id1") === col("id")).drop("id")
      .join(full.select(col("id"), col("ogs").as("g2"), col("nsh").as("n2")),
        col("id2") === col("id")).drop("id")
      .withColumn("inter", size(array_intersect(col("g1"), col("g2"))))
      .withColumn("uni", col("n1") + col("n2") - col("inter"))
      .filter(col("inter") * 100 >= col("uni") * minJaccardPct)
      .select(col("id1"), col("id2"),
        col("inter").cast("long").as("inter"),
        col("uni").cast("long").as("uni"))
  }

  /** Exact dedup: group byte-identical raw texts (no normalization — run
    * trim/lower upstream for case/whitespace-insensitive matching), keep the
    * smallest id. The groupBy key is a hash, so the shuffle carries
    * (hash, id) only. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n"))

  /** Connected components over near-duplicate pair edges: the step that
    * turns pairwise matches into dedup CLUSTERS (keep one representative
    * per component, drop the rest).
    *
    * Adaptive in the AQE spirit: the edge set is materialized first (it
    * feeds every round anyway), and if it holds at most
    * `driverSolveMaxEdges` edges — the NORMAL case: near-dup pairs are
    * orders of magnitude fewer than corpus rows even at 100 TB, bounded
    * driver memory ~16 B/edge — a single collect runs union-find on the
    * driver, replacing a multi-job iterative fixpoint with one job.
    * Larger graphs take the distributed path: iterative min-label
    * propagation WITH POINTER JUMPING — each round every node adopts the
    * smallest of its own label, its neighbors' labels, and its label's
    * label (L(L(v))). Neighbor propagation alone needs O(component
    * diameter) rounds — a 10^6-node chain would need 10^6 shuffle rounds
    * and any maxIter cutoff silently mislabels it; the jumping term
    * halves every label chain per round, so convergence is
    * O(log diameter) and maxIter=25 covers diameters past 2^25. Per
    * round: two shuffle joins + one aggregate; lineage is cut with
    * localCheckpoint so the plan does not grow with iterations (the
    * difference between O(log d) and O(log^2 d) work at 100 TB, and a
    * driver stack overflow avoided). A loop that exhausts maxIter without
    * the convergence witness settling THROWS instead of returning a
    * partial labeling — at 100 TB a silently wrong dedup clustering is
    * strictly worse than a failed job.
    *
    * Returns (id, rep) for every node appearing in `edges`, rep = min id
    * of its component. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25, driverSolveMaxEdges: Long = 1L << 20): DataFrame = {
    // checkpoint the edge computation FIRST: the symmetrizing union has the
    // edge plan as both branches, so an un-checkpointed (possibly expensive)
    // pair pipeline would be evaluated twice — and then once more per
    // round. The pinning job also counts the edges for the path pick.
    val (e, nEdges) = graft.core.Broadcasts.pinCounted(
      edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b")))
    if (nEdges <= driverSolveMaxEdges) return ccDriver(e)
    ccDistributed(e, maxIter)._1.select(col("v").as("id"), col("l").as("rep"))
  }

  /** Distributed CC loop on a checkpointed (a, b) edge frame; returns the
    * (v, l) labeling and the round count (exposed for the scale tests —
    * the O(log diameter) bound is asserted, not assumed).
    *
    * Lineage discipline (measured, not theoretical): `localCheckpoint`
    * alone is NOT enough to keep iterative rounds O(1). It materializes
    * the RDD, but the Dataset it returns still carries origin plan state
    * (constraints/stats snapshots) from the full checkpoint chain, and
    * driver-side planning cost compounds round over round — measured
    * ~4-5x growth per round from round ~11 (tools/CcProbe `lck` mode:
    * 0.4 s rounds exploding to 200 s by round 15; one driver thread busy,
    * executors idle). Rebinding each round's checkpoint through
    * `createDataFrame(ck.rdd, ck.schema)` makes the new frame a true leaf
    * and holds every round at ~0.4 s (CcProbe `rdd` mode). */
  private[graft] def ccRebind(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  private[graft] def ccDistributed(e: DataFrame, maxIter: Int)
      : (DataFrame, Int) = {
    // no checkpoint on sym: a union over the checkpointed edge set is a
    // near-free narrow recompute, not worth another materialization job
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
    // seed with one propagation step folded into the init aggregate:
    // label0(v) = min(v, min neighbor) — for clique-shaped components
    // (the common near-dup case) this IS the fixpoint, so the loop runs
    // exactly one confirmation round
    var labels = ccRebind(sym.groupBy(col("a").as("v"))
      .agg(least(min(col("b")), first(col("a"))).as("l")))
    // labels only ever decrease, so sum(l) is a complete convergence
    // witness — one cheap aggregate per round instead of a self-join diff
    var lastSum = labels.agg(coalesce(sum(col("l")), lit(0L))).head().getLong(0)
    var i = 0
    var done = false
    while (!done && i < maxIter) {
      val nbr = sym.join(labels, sym("b") === labels("v"))
        .groupBy(col("a")).agg(min(col("l")).as("nl"))
      // pointer jumping: L(L(v)). Every label IS a node id (labels start
      // as ids and only copy other labels), so the lookup is a self-join
      // of the labeling — label chains halve each round.
      val jump = labels.as("x").join(labels.as("y"),
          col("x.l") === col("y.v"))
        .select(col("x.v").as("jv"), col("y.l").as("jl"))
      val next = labels
        .join(nbr, labels("v") === nbr("a"), "left")
        .join(jump, labels("v") === col("jv"), "left")
        .select(labels("v"),
          least(labels("l"),
            least(coalesce(col("nl"), labels("l")),
              coalesce(col("jl"), labels("l")))).as("l"))
      // checkpoint FIRST, then read the convergence witness off the
      // materialized frame: evaluating `next` exactly once per round.
      // (The earlier probe-then-checkpoint order skipped the final
      // round's materialization but evaluated the three-way join twice
      // per NON-final round — a loss for every multi-round graph, and
      // multi-round is precisely when the distributed path matters.)
      val ck = ccRebind(next)
      val s = ck.agg(coalesce(sum(col("l")), lit(0L))).head().getLong(0)
      if (s == lastSum) done = true
      else {
        labels = ck
        lastSum = s
      }
      i += 1
    }
    if (!done) throw new IllegalStateException(
      s"connectedComponents: not converged after $maxIter rounds — " +
        "raise maxIter (O(log diameter) rounds are expected)")
    (labels, i)
  }

  /** Driver-side union-find over a collected (already-checkpointed) edge
    * frame — the small-graph fast path of [[connectedComponents]]. Path
    * compression + union by rank, then a min-id sweep per root so `rep`
    * matches the distributed path exactly. */
  private def ccDriver(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    val rank = scala.collection.mutable.LongMap.empty[Int]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def add(x: Long): Unit =
      if (!parent.contains(x)) { parent(x) = x; rank(x) = 0 }
    e.select(col("a"), col("b")).as[(Long, Long)].collect().foreach {
      case (a, b) =>
        add(a); add(b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (rank(ra) < rank(rb)) parent(ra) = rb
          else if (rank(ra) > rank(rb)) parent(rb) = ra
          else { parent(rb) = ra; rank(ra) = rank(ra) + 1 }
        }
    }
    val minOfRoot = scala.collection.mutable.LongMap.empty[Long]
    parent.keys.foreach { v =>
      val r = find(v)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, Long.MaxValue), v)
    }
    spark.createDataset(parent.keys.toSeq.map(v => (v, minOfRoot(find(v)))))
      .toDF("id", "rep")
  }

  /** Drop near-duplicates: keep only cluster representatives (plus every
    * row with no near-dup edge). `pairs` as from [[ngramJaccardPairs]] /
    * [[minhashLshPairs]]. */
  def dropNearDuplicates(df: DataFrame, idCol: String,
      pairs: DataFrame, id1: String = "id1", id2: String = "id2"): DataFrame = {
    val losers = connectedComponents(pairs, id1, id2)
      .filter(col("id") =!= col("rep")).select(col("id"))
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /** Quality-aware near-dup retention: within each near-dup cluster keep
    * the single row with the HIGHEST `priorityCol` (smallest id on ties);
    * rows with no near-dup edge pass through unchanged. This is the
    * "keep the best copy" policy real curation pipelines want over
    * [[dropNearDuplicates]]'s min-id representative — e.g. keep the
    * longest / highest-quality-scored version of a mirrored page.
    *
    * 100 TB posture: one left join against the node-sized cluster-label
    * frame, then a row_number window partitioned BY CLUSTER — group sizes
    * are near-dup cluster sizes (bounded in practice; never a single-task
    * global window). Ties broken by id, so the kept set is deterministic
    * and the DuckDB oracle replays it exactly. */
  def keepBestPerCluster(df: DataFrame, idCol: String, priorityCol: String,
      pairs: DataFrame, id1: String = "id1", id2: String = "id2"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = connectedComponents(pairs, id1, id2)
    val lab = df.join(labels, df(idCol) === labels("id"), "left")
      .withColumn("__cluster", coalesce(col("rep"), df(idCol)))
      .drop("id", "rep")
    val w = Window.partitionBy(col("__cluster"))
      .orderBy(col(priorityCol).desc, col(idCol).asc)
    lab.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__cluster")
  }

  /** MinHash-LSH candidate pairs, verified with exact Jaccard on the
    * signatures (estimate = matching minhash coordinates / k).
    *
    * Candidates are deduped to distinct (id1, id2) BEFORE the similarity
    * estimate: two docs colliding in b bands would otherwise pay the k-wide
    * signature compare b times and rely on a wide `distinct` to clean up —
    * at 100 TB the distinct-on-ints-first ordering is the difference between
    * shuffling (long, long) and shuffling (long, long, array<long>[k]). */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, k: Int = 32, bands: Int = 8,
      polyBase: Boolean = false): DataFrame = {
    val rows = k / bands
    // polyBase swaps the xxh64 base hash for the cross-engine polyHash —
    // every band key and lane then reproduces exactly from SQL (the
    // d_mlsh_poly oracle), at slightly weaker mixing
    val sigExpr =
      if (polyBase)
        graft.functions.HashExprs.minHashSignaturePoly(
          wordShingles(col(textCol), n), k)
      else minHashSignature(wordShingles(col(textCol), n), k)
    // under-parallel input guard before the k-lane hash build (same
    // reasoning as minhashSignatures below): the cached first
    // materialization otherwise runs at scan parallelism — one task on
    // the one-split fixture corpora
    val sigs = graft.core.Partitions.ensureMinParallelism(df, col(idCol))
      .select(col(idCol).as("id"), sigExpr.as("sig"))
      .cache() // reused 3x (banding + both sides of the candidate join)
    val buckets = sigs.select(col("id"),
        explode(lshBandKeys(col("sig"), bands, rows)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    cand
      .join(sigs.select(col("id"), col("sig").as("sig1")), col("id1") === col("id"))
      .drop("id")
      .join(sigs.select(col("id"), col("sig").as("sig2")), col("id2") === col("id"))
      .select(col("id1"), col("id2"),
        (size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => x === y),
          e => e)).cast("double") / k).as("est_jaccard"))
  }

  /** The persisted state of incremental near-dup ingest: (id, sig)
    * xxh64 MinHash signatures — exactly what [[minhashLshPairs]] builds
    * internally, exposed so an ingest pipeline computes each batch's
    * signatures ONCE, dedups against the store, and appends them. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, k: Int = 32): DataFrame =
    // under-parallel input guard (the d_ngram discipline): k xxh64 lanes
    // over every shingle is the CPU-heavy part of the LSH pipelines, and
    // the fixture corpora are one parquet split — without the guard the
    // whole signature build runs serially (measured 0.4-0.5 s single-task
    // stages inside d_lsh_quality/d_minhash_lsh at sf0.1). No-op on any
    // real corpus (scan splits >= shuffle width).
    graft.core.Partitions.ensureMinParallelism(df, col(idCol))
      .select(col(idCol).as("id"),
        minHashSignature(wordShingles(col(textCol), n), k).as("sig"))

  /** Incremental near-dup ingest — the production pattern batch-full
    * [[minhashLshPairs]] and the streaming near-dup filter bracket: each
    * run dedups its NEW batch against the existing corpus through the
    * corpus's PERSISTED signatures ([[minhashSignatures]]), never
    * recomputing or re-pairing what earlier runs covered. Candidates
    * require at least one NEW side: the banding join probes only the
    * delta's buckets against (store + delta), so seen-seen pairs — all
    * reported by earlier runs by induction — never even form. Output =
    * exactly [[minhashLshPairs]] over (seen + new) minus its seen-seen
    * pairs, at delta-proportional cost; pinned by a differential test.
    *
    * 100 TB posture: the store-side bucket explode is a linear scan of
    * the signature table (8-byte lanes, no text); the candidate join is
    * delta-bucket-keyed, so a 1% delta probes ~1% of bucket space;
    * verify joins attach two k-lane signatures per surviving candidate
    * only. Returns (id1, id2, est_jaccard) with id1 < id2. */
  def minhashLshPairsIncremental(newSigs: DataFrame, seenSigs: DataFrame,
      k: Int = 32, bands: Int = 8): DataFrame = {
    val rows = k / bands
    val allSigs = seenSigs.select(col("id"), col("sig"))
      .unionByName(newSigs.select(col("id"), col("sig")))
    def buckets(s: DataFrame): DataFrame =
      s.select(col("id"), explode(lshBandKeys(col("sig"), bands, rows)).as("bk"))
        .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = buckets(allSigs).as("a").join(buckets(newSigs).as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id1"),
        greatest(col("a.id"), col("b.id")).as("id2"))
      .distinct()
    cand
      .join(allSigs.select(col("id"), col("sig").as("sig1")),
        col("id1") === col("id")).drop("id")
      .join(allSigs.select(col("id"), col("sig").as("sig2")),
        col("id2") === col("id"))
      .select(col("id1"), col("id2"),
        (size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => x === y),
          e => e)).cast("double") / k).as("est_jaccard"))
  }
}
