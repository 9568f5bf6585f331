package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language-ID heuristics, document
  * fingerprinting. All pure Column expressions (codegen'd, shuffle-free,
  * embarrassingly parallel) — at 100 TB these run map-side at scan speed.
  *
  * The reference has no text-pipeline module (strings only, `lib/str.py`);
  * these extend the same columnar style to the data-curation operators a
  * Spark-based corpus pipeline needs.
  */
package object text {

  /** Whitespace token list. */
  def wsTokens(c: Column): Column = split(trim(c), "\\s+")

  /** Whitespace token count. */
  def countTokensWs(c: Column): Column = size(wsTokens(c))

  /** BPE-ish subword token count: runs of letters, runs of digits, and
    * individual non-alphanumeric symbols each count as one token —
    * the classic pre-tokenizer regex. */
  val bpePattern = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9\\s]"
  def countTokensBpe(c: Column): Column = regexp_count(c, lit(bpePattern))

  // The signals of one text column are their *FromCounts faces over its
  // textCounts struct. Catalyst folds `struct(...).field` to the field's
  // own expression, so each signal still computes only the counts it reads.
  private def counts(c: Column, stop: Seq[String] = defaultStopwords): Column =
    textCounts(c, wsTokens(c), stop)

  /** Ratio of punctuation/symbol characters to total characters. */
  def punctRatio(c: Column): Column = punctRatioFromCounts(counts(c))

  /** Ratio of alphabetic characters to total characters. */
  def alphaRatio(c: Column): Column = alphaRatioFromCounts(counts(c))

  val defaultStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Fraction of tokens that are stopwords — a fluency signal. */
  def stopwordRatio(c: Column, stop: Seq[String] = defaultStopwords): Column =
    stopwordRatioFromCounts(counts(c, stop))

  /** Mean whitespace-token length. */
  def meanTokenLen(c: Column): Column = meanTokenLenFromCounts(counts(c))

  /** Composite quality score in [0,1] — the usual length/punctuation/
    * stopword blend used for corpus filtering:
    *   0.3*min(len/200,1) + 0.3*(1-min(5*punct,1))
    *     + 0.2*min(10*stop,1) + 0.2*alpha
    * quantized to 4 decimals ENTIRELY in integer arithmetic:
    * floor(num * 10^4 / den) over the exact common-denominator form
    * (den = 2000*len*nt), then one division by 10^4. No float round()
    * anywhere — engines genuinely disagree there: for a non-dyadic
    * quotient whose shortest decimal repr lands on x.xxxx5 (measured:
    * 3552192/5376000 = 0.66075 at sf1), Spark's Round goes through the
    * double's SHORTEST STRING ("0.66075" -> HALF_UP -> 0.6608) while
    * DuckDB/C round the true binary value (0.66074999... -> 0.6607).
    * Integer floor-quantization is identical everywhere, at any scale.
    * Empty text (len = 0) scores 0.3 — the length and alpha terms
    * vanish, punctuation contributes its full 0.3, stopwords nothing —
    * matching the ratio conventions above. nt >= 1 always (splitting a
    * trimmed string yields at least one token), so den > 0 off the
    * empty branch.
    *
    * Overflow-proof to JVM string limits (advisor finding): the naive
    * num*10^4 blows Long near len ~ 10^6 (Spark non-ANSI wraps silently,
    * DuckDB errors — the engines diverge exactly there). Three moves keep
    * every intermediate under 2^63 with the SAME output for any doc
    * under 2^25 chars/tokens (i.e. every real corpus doc):
    *  1. scale reduction: floor(num*10^4 / (2000*len*nt)) ==
    *     floor(num*5 / (len*nt)) exactly — 2000x headroom for free;
    *  2. div/mod decomposition: floor(n*5/d) == (n div d)*5 +
    *     ((n mod d)*5) div d, so nothing is ever multiplied past d*5;
    *  3. input clamps at 2^25 on len/nt (and ac <= len, so the num <=
    *     2000*len*nt invariant the decomposition bound relies on holds),
    *     bounding num at 2000*2^50 < 2^63. Docs beyond 33.5M chars score
    *     with saturated ratios — documented, and mirrored in the oracle. */
  def qualityScore(c: Column): Column = qualityScoreFromCounts(counts(c))

  /** [[qualityScore]] over a [[textCounts]] struct. */
  def qualityScoreFromCounts(tc: Column): Column = {
    val len = tc.getField("len"); val pc = tc.getField("punct")
    val ac = tc.getField("alpha"); val nt = tc.getField("ntok")
    val sc = tc.getField("nstop")
    val CAP = 1L << 25
    val lenC = least(len, lit(CAP))
    val ntC = least(nt, lit(CAP))
    val num = lit(3L) * least(lenC, lit(200L)) * lenC * ntC +
      lit(600L) * (lenC - least(lit(5L) * pc, lenC)) * ntC +
      lit(400L) * least(lit(10L) * sc, ntC) * lenC +
      lit(400L) * least(ac, lenC) * ntC
    val den = lenC * ntC
    // `div`, not `/`: Spark's `/` on longs is DOUBLE division, and the
    // intermediates exceed 2^53 where doubles drop integer exactness
    def idiv(a: Column, b: Column): Column =
      org.apache.spark.sql.GraftBridge.column(
        org.apache.spark.sql.catalyst.expressions.IntegralDivide(
          org.apache.spark.sql.GraftBridge.expression(a),
          org.apache.spark.sql.GraftBridge.expression(b)))
    val q = idiv(num, den) * lit(5L) + idiv((num % den) * lit(5L), den)
    when(len === 0, lit(0.3)).otherwise(q.cast("double") / lit(10000.0))
  }

  /** The shared primitive counts every quality signal derives from —
    * char length, punctuation/alpha char counts, whitespace-token count,
    * stopword count, summed token length — as ONE struct column, so a
    * query projecting several signals pays ONE text pass instead of one
    * per signal. Projected side by side, `punctRatio`/`alphaRatio`/
    * `stopwordRatio`/`meanTokenLen`/`qualityScore` each re-run their own
    * regexp/split scan of the full text (~10 passes for the 5-signal
    * t_quality shape) unless runtime subexpression elimination happens to
    * fuse them; building this struct in its own projection and deriving
    * the signals via the `*FromCounts` faces makes the single-pass shape
    * a property of the PLAN: Catalyst's CollapseProject refuses to inline
    * a non-cheap producer expression referenced more than once, so the
    * counts projection survives as its own operator and every consumer
    * reads six longs. Callers split it in two map-side projections:
    * {{{
    *   df.select(id, text.as("t"), wsTokens(text).as("toks"))   // split once
    *     .select(id, textCounts(col("t"), col("toks")).as("tc")) // count once
    *     .select(id, punctRatioFromCounts(col("tc")), ...)       // derive
    * }}}
    * At 100 TB this is the difference between scan-speed quality scoring
    * and regex-bound CPU: the regexes dominate, and they run once. */
  def textCounts(text: Column, toks: Column,
      stop: Seq[String] = defaultStopwords): Column = struct(
    length(text).cast("long").as("len"),
    regexp_count(text, lit("[^A-Za-z0-9\\s]")).cast("long").as("punct"),
    regexp_count(text, lit("[A-Za-z]")).cast("long").as("alpha"),
    size(toks).cast("long").as("ntok"),
    size(filter(toks, t => t.isin(stop.map(x => x: Any): _*)))
      .cast("long").as("nstop"),
    aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("toklen"))

  /** [[punctRatio]] over a [[textCounts]] struct. */
  def punctRatioFromCounts(tc: Column): Column = {
    val len = tc.getField("len")
    when(len > 0, tc.getField("punct").cast("double") / len)
      .otherwise(lit(0.0))
  }

  /** [[alphaRatio]] over a [[textCounts]] struct. */
  def alphaRatioFromCounts(tc: Column): Column = {
    val len = tc.getField("len")
    when(len > 0, tc.getField("alpha").cast("double") / len)
      .otherwise(lit(0.0))
  }

  /** [[stopwordRatio]] over a [[textCounts]] struct. */
  def stopwordRatioFromCounts(tc: Column): Column = {
    val nt = tc.getField("ntok")
    when(nt > 0, tc.getField("nstop").cast("double") / nt)
      .otherwise(lit(0.0))
  }

  /** [[meanTokenLen]] over a [[textCounts]] struct. */
  def meanTokenLenFromCounts(tc: Column): Column = {
    val nt = tc.getField("ntok")
    when(nt > 0, tc.getField("toklen").cast("double") / nt)
  }

  /** The Gopher quality-filter rule set (Rae et al. 2021, "Scaling
    * Language Models", Appendix A) as per-document boolean flags plus
    * the conjunctive keep — the published web-corpus filter most
    * pretraining pipelines start from. Every rule is evaluated as an
    * INTEGER cross-multiplication (e.g. mean word length in [3, 10] as
    * `3 * n <= sum_len <= 10 * n`), so there is no float threshold to
    * drift between engines — the flags replay bit-for-bit in SQL.
    * Rules (thresholds per the paper):
    *  - r_wc:     50 <= word count <= 100,000
    *  - r_mwl:    mean word length in [3, 10] characters
    *  - r_sym:    symbol-to-word ratio ('#' or '...') < 0.1
    *  - r_bullet: <= 10% of lines start with a bullet ('-', '*', '•')
    *  - r_ellip:  <= 30% of lines end with '...'
    *  - r_alpha:  >= 80% of words contain an alphabetic character
    *  - r_stop:   >= 2 distinct of the stop list present (default: the
    *              paper's 8 English words; pass a corpus-appropriate
    *              list for other languages/domains)
    * All map-side over one scan; returns (idCol, n_words, the 7 flags,
    * keep). */
  def gopherQualityFlags(df: DataFrame, idCol: String, textCol: String,
      stopList: Seq[String] = Seq("the", "be", "to", "of", "and", "that",
        "have", "with")): DataFrame = {
    require(stopList.nonEmpty, "stopList must be non-empty")
    val t = col(textCol)
    val toks = wsTokens(t)
    val lines = split(t, "\n")
    val nW = size(toks).cast("long")
    val nL = size(lines).cast("long")
    val sumLen = aggregate(toks, lit(0L), (acc, x) => acc + length(x))
    val nSym = (length(t) - length(regexp_replace(t, "#", ""))).cast("long") +
      ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3).cast("long")
    val nBullet = size(filter(lines,
      l => ltrim(l).rlike("^[-*•]"))).cast("long")
    val nEllip = size(filter(lines, l => l.rlike("\\.\\.\\.$"))).cast("long")
    val nAlpha = size(filter(toks, x => x.rlike("[A-Za-z]"))).cast("long")
    val lowerToks = transform(toks, x => lower(x))
    val nStop = size(filter(
      array(stopList.map(lit): _*),
      s => array_contains(lowerToks, s))).cast("long")
    val flags = Seq(
      (nW >= 50L && nW <= 100000L).as("r_wc"),
      (sumLen >= nW * 3L && sumLen <= nW * 10L).as("r_mwl"),
      (nSym * 10L < nW).as("r_sym"),
      (nBullet * 10L <= nL).as("r_bullet"),
      (nEllip * 10L <= nL * 3L).as("r_ellip"),
      (nAlpha * 5L >= nW * 4L).as("r_alpha"),
      (nStop >= 2L).as("r_stop"))
    df.select(col(idCol) +: nW.as("n_words") +: flags: _*)
      .withColumn("keep",
        Seq("r_wc", "r_mwl", "r_sym", "r_bullet", "r_ellip", "r_alpha",
          "r_stop").map(col).reduce(_ && _))
  }

  /** Language markers for the n-gram/stopword language-ID heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq(" der ", " und ", " die "),
    "en" -> Seq(" the ", " and ", " of "),
    "es" -> Seq(" el ", " de ", " la "),
    "fr" -> Seq(" le ", " et ", " les "),
    "zh" -> Seq("的", "是", "了"))

  /** Count of non-overlapping occurrences of `sub` in `c`. */
  def countOccurrences(c: Column, sub: String): Column =
    when(length(c) === 0, 0).otherwise(
      ((length(c) - length(replace(c, lit(sub), lit("")))) / sub.length)
        .cast("int"))

  /** Heuristic language ID: argmax of marker-hit counts over a padded copy
    * of the text; ties break toward the lexicographically greatest code
    * (deterministic). Returns the 2-letter code. */
  def langId(c: Column): Column = {
    val padded = concat(lit(" "), c, lit(" "))
    val scored = langMarkers.map { case (lang, markers) =>
      struct(
        markers.map(m => countOccurrences(padded, m))
          .reduce(_ + _).as("score"),
        lit(lang).as("lang"))
    }
    array_max(array(scored: _*)).getField("lang")
  }

  /** Canonical bag-of-words fingerprint: distinct sorted lowercase tokens,
    * md5-hashed. Near-identical docs that differ only in word order/count
    * collide — the cheap exact-canonicalization dedup key. */
  def bagOfWordsFingerprint(c: Column): Column =
    md5(array_join(array_sort(array_distinct(wsTokens(lower(c)))), " "))

  /** Polynomial rolling hash over the characters (base 131, mod 1e9+7) —
    * an order-sensitive content fingerprint. Evaluates through the
    * PolyHash expression's tight per-row loop (the `aggregate` HOF spelling
    * is interpreted per character); ModulesSpec pins the two equal, and the
    * DuckDB oracles mirror it with list_reduce. */
  def rollingHash(c: Column): Column =
    graft.functions.HashExprs.polyHashFast(c)

  /** Stratified EXACT-quota sampling: from each stratum, keep exactly
    * `(n_stratum * num) DIV den` rows — the balanced-subset primitive
    * (per-language/per-source corpus balancing) where [[mixtureKeep]]'s
    * threshold form is only exact in expectation. Selection is
    * deterministic and seedless: rows rank within their stratum by
    * (rollingHash(key), id) — a reproducible pseudo-random order that is
    * stable under re-partitioning and replays in SQL — and the first
    * `quota` win. Adding rows to a stratum reshuffles ranks but never
    * depends on physical layout.
    *
    * Scale: one count-per-stratum aggregate (broadcast back — stratum
    * count is bounded by contract) and one per-stratum sort for
    * row_number. For small fixed quotas, a bounded-heap
    * [[graft.operators.GroupTopK]] pass is the cheaper shape; the
    * proportional-quota form here genuinely needs the rank. */
  def stratifiedSampleExact(df: DataFrame, stratumCol: String, key: Column,
      idCol: String, num: Int, den: Int): DataFrame = {
    require(num > 0 && den > 0 && num <= den, s"bad fraction $num/$den")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(rollingHash(key), col(idCol))
    val sizes = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("_strat_n"))
    df.join(broadcast(sizes), stratumCol)
      .withColumn("_strat_rn", row_number().over(w))
      .filter(expr(s"_strat_rn <= (_strat_n * $num) DIV $den"))
      .drop("_strat_rn", "_strat_n")
  }

  /** Weighted sample of k rows without replacement — sequential Poisson
    * sampling (Ohlsson 1998): each row draws a deterministic
    * pseudo-uniform u from its content hash and wins a slot when its
    * priority u/weight ranks among the k smallest, giving
    * inclusion probability ≈ proportional to weight (the πps scheme
    * survey statistics uses when exact πps is too expensive). Chosen
    * over Efraimidis–Spirakis u^(1/w) ON PURPOSE: division is IEEE
    * correctly-rounded so the priorities — and therefore the selected
    * SET — are bit-identical in any engine, while pow's last-ulp
    * wobble could flip the rank-k boundary cross-engine.
    *
    * Deterministic and seedless like [[stratifiedSampleExact]]:
    * u = (rollingHash(key)+1)/(10^9+7) ∈ (0,1], ties broken by id —
    * stable under re-partitioning, replays in SQL.
    *
    * Scale: orderBy+limit plans as TakeOrdered (per-partition top-k
    * heaps, one k-row merge) — no global sort, no shuffle of the
    * corpus. */
  def weightedSampleK(df: DataFrame, key: Column, idCol: String,
      weight: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (rollingHash(key) + 1).cast("double") / 1000000007.0
    df.withColumn("_prio", u / weight.cast("double"))
      .orderBy(col("_prio"), col(idCol))
      .limit(k)
  }

  /** Exact quantile normalization (rank transform): replace a numeric
    * feature by its corpus percentile — the distribution-free scaling
    * feature pipelines apply before mixing heterogeneous signals.
    * Percentile = (rank − 1)·10⁶ DIV (N − 1) in exact ppm integers
    * (0 for the minimum, 10⁶ for the maximum), rank from the two-level
    * range-partitioned global scan ([[graft.core.Partitions
    * .globalRankBy]] — no single-task sort) with `idCol` as the
    * deterministic tiebreak. A 1-row count broadcast supplies N. */
  def quantileNormalize(df: DataFrame, valueCol: String, idCol: String)
      : DataFrame = {
    val ranked = graft.core.Partitions.globalRankBy(
      df.select(col(idCol).as("id"), col(valueCol).as("v")), col("v"), "id")
    val n = df.agg(count(lit(1)).as("nn"))
    ranked.crossJoin(broadcast(n))
      .select(col("id").as(idCol), col("k").as(valueCol), col("rn"),
        expr("CASE WHEN nn > 1 THEN ((rn - 1) * 1000000) DIV (nn - 1) " +
          "ELSE CAST(0 AS BIGINT) END").as("pct_ppm"))
  }

  /** Feature hashing (the hashing-trick vectorizer): whitespace tokens
    * hash into `dim` buckets (polyHash mod dim — the oracle-replayable
    * hash convention), per-document bucket counts come out as a fixed
    * `dim`-length vector. Entirely row-local HOFs — no explode, no
    * shuffle, map-only at any corpus size. The hash runs once per token
    * (codegen subexpression elimination shares the bucket array across
    * lanes); the lane loop re-scans only the small int array, O(dim ·
    * tokens) cheap compares — the trade that buys zero wire traffic. */
  def featureHash(textCol: Column, dim: Int): Column = {
    require(dim > 0 && dim <= 1024, s"dim out of range: $dim")
    val bks = transform(wsTokens(lower(textCol)),
      t => pmod(graft.functions.HashExprs.polyHashFast(t), lit(dim.toLong)))
    transform(sequence(lit(0), lit(dim - 1)),
      j => size(filter(bks, b => b === j.cast("long"))).cast("long"))
  }

  /** Repetition quality metrics (the Gopher-rule family): per document,
    * the fraction of all n-grams taken by the single most frequent one
    * (`top_frac`, word-soup/keyword-stuffing detector) and the fraction of
    * duplicated n-grams (`dup_frac`, boilerplate/copy-loop detector).
    * Sequential n-grams (NOT deduped shingles), exact integer counts,
    * explode + two partial-aggregated groupBys — no per-document state
    * beyond the aggregation. Documents with fewer than `max(nTop, nDup)`
    * tokens emit null fractions. */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String,
      nTop: Int = 2, nDup: Int = 3): DataFrame = {
    val toks = wsTokens(lower(col(textCol)))
    val base = df.select(col(idCol).as("id"),
      graft.functions.HashExprs.wordNgramsSeq(toks, nTop).as("gt"),
      graft.functions.HashExprs.wordNgramsSeq(toks, nDup).as("gd"))
    val top = base.select(col("id"), explode(col("gt")).as("g"))
      .groupBy(col("id"), col("g")).agg(count(lit(1)).as("n"))
      .groupBy(col("id"))
      .agg((max(col("n")).cast("double") / sum(col("n"))).as("top_frac"))
    val dup = base.select(col("id"), explode(col("gd")).as("g"))
      .groupBy(col("id"))
      .agg((lit(1.0) - countDistinct(col("g")).cast("double") / count(lit(1)))
        .as("dup_frac"))
    df.select(col(idCol).as("id"))
      .join(top, Seq("id"), "left").join(dup, Seq("id"), "left")
      .select(col("id").as(idCol), col("top_frac"), col("dup_frac"))
  }

  /** Deterministic train/valid/test assignment by content hash: the same
    * key lands in the same split on any cluster, any run, any partitioning
    * — no RNG state, no shuffle, no sampling drift between pipeline stages
    * that each re-read the corpus. Buckets `rollingHash(key) mod 100`:
    * `[0, trainPct)` → train, `[trainPct, trainPct+validPct)` → valid,
    * rest → test. */
  def hashSplit(key: Column, trainPct: Int = 80, validPct: Int = 10): Column = {
    require(trainPct > 0 && validPct >= 0 && trainPct + validPct <= 100,
      s"invalid split percentages: train=$trainPct valid=$validPct")
    val b = pmod(rollingHash(key), lit(100L))
    when(b < trainPct, "train")
      .when(b < trainPct + validPct, "valid")
      .otherwise("test")
  }

  /** Deterministic weighted mixture sampling (data mixing): keep a row iff
    * its hash bucket falls below its source's weight in [0, 1] — e.g. keep
    * half of 'en', all of everything else. Same reproducibility contract as
    * [[hashSplit]]: a pure map-side filter, no RNG, stable under
    * re-partitioning, and the kept set is monotone in the weight (raising
    * a source's weight only ADDS documents — reruns stay supersets). */
  def mixtureKeep(key: Column, source: Column, weights: Map[String, Double],
      default: Double = 1.0): Column = {
    require((default +: weights.values.toSeq).forall(w => w >= 0 && w <= 1),
      s"weights must be in [0,1]: $weights default=$default")
    val b = pmod(rollingHash(key), lit(10000L)).cast("double") / 10000.0
    val thr = weights.foldLeft(lit(default)) { case (acc, (s, w)) =>
      when(source === s, lit(w)).otherwise(acc)
    }
    b < thr
  }

  /** Deterministic per-source repeat counts for EPOCH-style mixing — the
    * upsampling half of data mixing ([[mixtureKeep]] is the downsampling
    * half): a source with weight 2.5 contributes every doc twice plus a
    * hash-chosen half of docs a third time. Returns the integer copy
    * count (>= 0); materialize with
    * `explode(array_repeat(lit(1), copies))` or an equivalent generator.
    * Same reproducibility contract as [[hashSplit]] — no RNG, stable
    * under repartitioning, and monotone in the weight. Use dyadic
    * fractional parts (.5/.25/...) when bit-exact cross-engine agreement
    * matters. */
  def mixtureRepeat(key: Column, source: Column, weights: Map[String, Double],
      default: Double = 1.0): Column = {
    require((default +: weights.values.toSeq).forall(_ >= 0),
      s"weights must be >= 0: $weights default=$default")
    val b = pmod(rollingHash(key), lit(10000L)).cast("double") / 10000.0
    val w = weights.foldLeft(lit(default)) { case (acc, (s, x)) =>
      when(source === s, lit(x)).otherwise(acc)
    }
    (floor(w) + when(b < w - floor(w), 1).otherwise(0)).cast("int")
  }

  /** Sentence pieces of a text column: split on runs of terminal
    * punctuation, trim, drop empties. Restricted to the regex subset shared
    * by Java and RE2 (no lookbehind), so SQL oracles and Go/Trino tooling
    * segment identically. */
  def sentences(c: Column): Column =
    filter(transform(split(c, "[.!?]+"), p => trim(p)), p => length(p) > 0)

  /** Top-k TF-IDF terms per document. Ranking is by the deterministic
    * integer key (tf desc, df asc, term asc) — for a fixed tf, idf is
    * strictly decreasing in df, so this is the tf-major tf-idf order
    * without float comparisons deciding ranks (cross-engine `ln` ulp drift
    * can never flip a rank); the float score ships as an output column,
    * not a sort key. Per-doc ranking is a key-partitioned window (bounded
    * by document length); the document-frequency join is tok-keyed and
    * shuffled on both sides — at 100 TB the vocabulary table is itself
    * huge, so no broadcast. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // corpus cardinality rides the plan as a broadcast 1-row aggregate
    // (the oracle's scalar subquery in plan form, the bm25 stats shape) —
    // ONE lazy plan, no driver count job
    val nd = df.agg(count(lit(1)).cast("double").as("ndocs"))
    val toks = df.select(col(idCol).as("id"),
      explode(wsTokens(lower(col(textCol)))).as("tok"))
    val tf = toks.groupBy(col("id"), col("tok")).agg(count(lit(1)).as("tf"))
    // tf rows are distinct (id, tok), so count per tok IS document frequency
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("tf").desc, col("df").asc, col("tok"))
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(nd))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id").as(idCol), col("tok"), col("tf"), col("df"),
        round(col("tf") * log(col("ndocs") / col("df")), 4).as("score"),
        col("rank"))
  }

  /** BM25 top-k retrieval (Robertson-Spärck Jones, the Okapi form) over a
    * deterministic query set derived from the corpus itself: the `2*nq`
    * highest-corpus-frequency tokens of length >= 4 (ties broken by token
    * asc) are paired in rank order into `nq` two-term queries, so both
    * engines construct the identical benchmark workload with no external
    * query file. Two-term queries keep the per-document score a sum of
    * exactly <= 2 doubles — fp addition is commutative, so the score is
    * bit-identical regardless of which term's row arrives first.
    *
    * score(q, D) = sum over q's terms t present in D of
    *   ln(1 + (N - df + 0.5)/(df + 0.5)) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    *
    * 100 TB shape: ONE lazy plan, no driver action anywhere. Tokenize +
    * per-doc length map-side; one shuffle for (doc, tok) term
    * frequencies; one vocabulary-sized shuffle for document frequencies.
    * The query-set derivation (filter + global top-(2*nq) + a 2*nq-row
    * rank window, bounded by contract) and the scoring join both hang off
    * the SAME tf subtree — Catalyst's ReuseExchange computes that shuffle
    * once (pinned in PlanQualitySpec), where a collect-then-rejoin design
    * paid the tokenize + tf shuffle twice (measured 4.4 s -> 1.9 s at
    * sf0.1). The corpus stats (N, sum dl) are a 1-row map-side aggregate
    * cross-joined in as a broadcast — the oracle's scalar subqueries, in
    * plan form. The query set is broadcast into tf, so the corpus-sized
    * side never reshuffles for scoring; per-query top-k runs on the
    * bounded-heap [[graft.operators.GroupTopK]] aggregate (at most k
    * candidates per (query, partition) cross the wire, not every scored
    * pair). Ranks order by the 4-decimal rounded score (desc, doc asc):
    * a cross-engine `ln` ulp drift of ~1e-16 cannot move a 4dp boundary,
    * so ranking is engine-stable. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      nq: Int = 3, k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE regex split per row: split to an array column first, then take
    // size + explode from it (inline `size(split(..))` + `explode(split(
    // ..))` would run the regex twice per document)
    val toks = df
      .select(col(idCol).as("id"), wsTokens(lower(col(textCol))).as("ts"))
      .select(col("id"), size(col("ts")).cast("long").as("dl"),
        explode(col("ts")).as("tok"))
    // dl is a GROUPING KEY, not max(dl): it is functionally dependent on
    // id (same groups either way), and keeping it a key means the partial
    // aggregate + exchange below are byte-identical in the dfreq and
    // scoring branches — an aggregate expression would be column-pruned
    // out of the dfreq branch, splitting the subtrees and defeating
    // ReuseExchange. (Catalyst additionally infers `length(tok) >= 4`
    // into the shared subtree from the qterms join constraint — join-safe
    // on both branches, and it shrinks the token shuffle to the terms
    // that can ever match.)
    val tf = toks.groupBy(col("id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("ctf"))
    // corpus cardinality + mean doc length: a map-side scan (token COUNT
    // per doc needs no explode and no shuffle — deliberately NOT derived
    // from tf, whose shared subtree carries the inferred length filter),
    // broadcast-cross-joined below as the oracle's scalar subqueries in
    // plan form; sum-of-longs / count is exact, so both engines divide
    // the same integers
    val stats = df.select(countTokensWs(lower(col(textCol))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("s"))
      .select(col("n"), (col("s").cast("double") / col("n")).as("avgdl"))
    // query terms: global top-(2*nq) by corpus frequency; the rank window
    // runs on 2*nq rows (bounded by contract), pairing ranks into qids
    val w = Window.orderBy(col("ctf").desc, col("qtok"))
    val qterms = dfreq.filter(length(col("tok")) >= 4)
      .orderBy(col("ctf").desc, col("tok")).limit(2 * nq)
      .select(col("tok").as("qtok"), col("df").as("qdf"), col("ctf"))
      .withColumn("qid", floor((row_number().over(w) - 1) / 2).cast("int"))
      .drop("ctf")
    val idf = log(lit(1.0) +
      (col("n").cast("double") - col("qdf") + lit(0.5)) / (col("qdf") + lit(0.5)))
    val tfn = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    val scored = tf.join(broadcast(qterms), col("tok") === col("qtok"))
      .crossJoin(broadcast(stats))
      .groupBy(col("qid"), col("id"))
      .agg(round(sum(idf * tfn), 4).as("score"))
    graft.similarity.topKPerKey(scored, "qid", "score", "id", k)
      .select(col("qid"), col("rank"), col("id").as(idCol), col("score"))
  }

  /** Per-document mean unigram log-probability under the corpus's own
    * unigram distribution — the language-model quality proxy (CCNet-style
    * perplexity bucketing, computable without any external model): rare-
    * token soup scores very negative, common fluent text near the corpus
    * mode. Two shuffles: corpus token counts, then a tok-keyed join back
    * and a per-doc aggregate. */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(wsTokens(lower(col(textCol)))).as("tok"))
    val cnts = toks.groupBy(col("tok")).agg(count(lit(1)).as("ctf"))
    // corpus token total as a broadcast 1-row aggregate: ONE lazy plan,
    // no driver action; `tok` is a grouping key so the `cnts` subtree is
    // byte-identical here and in the join branch and its exchange is
    // computed once (ReuseExchange — the bm25 discipline). An empty
    // corpus yields an empty join (no rows ever divide by the null sum).
    val tot = cnts.agg(sum(col("ctf")).cast("double").as("tot"))
    toks.join(cnts, "tok")
      .crossJoin(broadcast(tot))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_toks"),
        avg(log(col("ctf") / col("tot"))).as("logprob"))
      .select(col("id").as(idCol), col("n_toks"), col("logprob"))
  }

  /** CCNet-style quality bucketing: split the corpus into `nBuckets` tiers
    * by [[unigramLogProb]] score (bucket 0 = best/most-fluent). The
    * (nBuckets-1)-element exact-percentile threshold array rides the plan
    * as a broadcast 1-row aggregate — ONE lazy plan, no driver job — and
    * the bucket assignment is a map-side comparison against its elements:
    * no global sort, no corpus-wide window, so the shape survives 100 TB
    * (swap the exact percentile for `percentile_approx` there; everything
    * else is unchanged). Returns (idCol, n_toks, logprob, bucket). */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 2, s"bad nBuckets=$nBuckets")
    val scored = unigramLogProb(df, idCol, textCol)
    val cuts = (1 until nBuckets).map(_.toDouble / nBuckets)
    val thr = scored.agg(
      expr(s"percentile(logprob, array(${cuts.mkString(",")}))").as("thr"))
    // bucket 0 = HIGHEST logprob tier (most fluent); fold ascending so the
    // highest threshold's check lands OUTERMOST in the nested when-chain
    val b = (0 until nBuckets - 1).foldLeft(lit(nBuckets - 1): Column) {
      case (acc, i) =>
        when(col("logprob") >= element_at(col("thr"), i + 1),
          lit(nBuckets - 2 - i)).otherwise(acc)
    }
    scored.crossJoin(broadcast(thr))
      .select(col(idCol), col("n_toks"), col("logprob"), b.as("bucket"))
  }

  /** Sentence-level corpus dedup, keep-first: any exact sentence occurring
    * at least `minOcc` times corpus-wide (byte-identical after [[sentences]]
    * trimming) survives only at its FIRST occurrence — smallest (doc, pos) —
    * and is dropped everywhere else. The boilerplate-sentence scrubber
    * (nav text, legal footers, templated intros) at a granularity between
    * [[dedupSpans]] (token windows) and document near-dup.
    *
    * Three shuffles: posexplode sentences, one aggregate per sentence text
    * (count + min position — map-side partial), one join back + per-doc
    * rebuild. Returns (idCol, n_sent, n_kept, kept_sents: array<string>)
    * with survivors in original order and original case. */
  def dedupSentences(df: DataFrame, idCol: String, textCol: String,
      minOcc: Int = 2): DataFrame = {
    require(minOcc >= 2, s"bad minOcc=$minOcc")
    val sents = graft.core.Partitions.ensureMinParallelism(
      df.select(col(idCol).as("id"), posexplode(sentences(col(textCol))))
        .select(col("id"), (col("pos") + 1).as("sp"), col("col").as("sent")),
      col("id"))
    val occ = sents.groupBy(col("sent"))
      .agg(count(lit(1)).as("occ"),
        min(struct(col("id"), col("sp"))).as("first"))
    val kept = sents.join(occ, "sent")
      .filter(col("occ") < minOcc ||
        (col("first.id") === col("id") && col("first.sp") === col("sp")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        transform(sort_array(collect_list(struct(col("sp"), col("sent")))),
          x => x.getField("sent")).as("kept_sents"))
    // coalesce n_sent too: sentences(null) is null, and a null-text row
    // would otherwise emit (id, null, 0, []) — inconsistent with the
    // other output columns' null-to-zero contract
    df.select(col(idCol).as("id"),
        coalesce(size(sentences(col(textCol))).cast("long"), lit(0L)).as("n_sent"))
      .join(kept, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_sent"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_sents"),
          lit(Array.empty[String]).cast("array<string>")).as("kept_sents"))
  }

  /** Concat-and-chunk sequence packing: documents are laid out in `idCol`
    * order, token counts accumulate, and each document is assigned to the
    * training sequence (`seq_id`) its FIRST token lands in — the classic
    * GPT-style packing layout (reference has no analogue; this is the
    * training-data-pipeline step downstream of tokenization).
    *
    * The global prefix sum is the two-level scan of
    * [[graft.core.Partitions.runningSums]], not one global window: a
    * single `Window.orderBy(id)` with no partition key would funnel the
    * full corpus through ONE task.
    *
    * Returns (idCol, n_tok, start_tok, seq_id): `start_tok` is the global
    * token offset where the document begins, `seq_id = start_tok / budget`.
    */
  def packSequences(df: DataFrame, idCol: String, nTokCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"bad budget=$budget")
    // null/negative token counts (e.g. size() of a null text) would silently
    // null the prefix sums downstream — clamp to 0 so every doc keeps a shard
    val d = df.select(col(idCol).cast("long").as("id"),
      greatest(coalesce(col(nTokCol).cast("long"), lit(0L)), lit(0L)).as("n_tok"))
    graft.core.Partitions.runningSums(d, Seq(col("id")), Seq("n_tok"))
      .withColumn("start_tok", col("cum_n_tok") - col("n_tok"))
      .select(col("id").as(idCol), col("n_tok"), col("start_tok"),
        floor(col("start_tok") / budget).cast("long").as("seq_id"))
  }

  /** Exact substring-span removal (the "exact substring dedup" of
    * Lee et al. 2022, arXiv:2107.06499, re-expressed relationally): any
    * `w`-token window whose exact text occurs at least `minOcc` times
    * corpus-wide (counting occurrences, so within-document repeats count)
    * is a duplicated span; every token covered by at least one duplicated
    * span is removed, and the per-document survivor text is rebuilt.
    *
    * Instead of the paper's monolithic suffix array — which needs the whole
    * corpus materialized on one machine or a bespoke distributed SA build —
    * fixed-width windows make the whole thing four shuffles of ordinary
    * relational ops: posexplode windows, count occurrences per window text,
    * join the duplicated ones back, explode their covered positions
    * (distinct), anti-join against token positions, and re-assemble with a
    * sorted collect_list. With `hashKeys=false` window keys are the raw
    * w-token strings so a SQL oracle can reproduce the run bit-for-bit;
    * `hashKeys=true` is the 100 TB posture — xxhash64 turns every shuffled
    * gram key into 8 bytes, identical output modulo a ~2^-64 collision
    * (equivalence pinned in ModulesSpec; at sf0.1 the two time identically
    * — ~0.3s — because the shuffle is memory-resident; the 8-byte key pays
    * off when gram postings spill to disk/network at real scale).
    *
    * Returns (idCol, n_toks, n_kept, kept_text): a doc with no duplicated
    * spans keeps all tokens; a fully-covered doc keeps zero and an empty
    * string (drop those downstream).
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
      w: Int, minOcc: Int = 2, hashKeys: Boolean = false): DataFrame = {
    require(w > 0 && minOcc >= 2, s"bad w=$w minOcc=$minOcc")
    // span MATCHING is case-insensitive (lowercased window keys), but the
    // survivor text rebuilds from the ORIGINAL tokens — silently
    // case-folding every untouched document would corrupt the corpus
    val toks = graft.core.Partitions.ensureMinParallelism(
      df.select(col(idCol).as("id"), wsTokens(col(textCol)).as("tok")),
      col("id"))
    // (id, s, g): window starting at 1-based token position s
    val lowered = transform(col("tok"), t => lower(t))
    val rawGram = col("col")
    val grams = toks.select(col("id"),
        posexplode(graft.functions.HashExprs.wordNgramsSeq(lowered, w)))
      .select(col("id"), (col("pos") + 1).as("s"),
        (if (hashKeys) xxhash64(rawGram) else rawGram).as("g"))
    val dup = grams.groupBy(col("g")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOcc).select(col("g"))
    val covered = grams.join(dup, "g")
      .select(col("id"), explode(sequence(col("s"), col("s") + (w - 1))).as("p"))
      .distinct()
    val pos = toks.select(col("id"), posexplode(col("tok")))
      .select(col("id"), (col("pos") + 1).as("p"), col("col").as("t"))
    val kept = pos.join(covered, Seq("id", "p"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          sort_array(collect_list(struct(col("p"), col("t")))),
          x => x.getField("t")), " ").as("kept_text"))
    toks.select(col("id"), size(col("tok")).cast("long").as("n_toks"))
      .join(kept, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_toks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Overlapping token-window chunking — the RAG/pretraining chunk step
    * upstream of [[packSequences]]: document text becomes `ceil(n/stride)`
    * chunks of up to `size` whitespace tokens, chunk `i` covering token
    * positions `[i*stride, min(i*stride+size, n))`. With `stride < size`
    * consecutive chunks overlap by `size - stride` tokens (the standard
    * retrieval-context overlap); `stride == size` tiles exactly.
    *
    * A document always yields at least one chunk (an empty/null text
    * yields one empty chunk, so no document silently vanishes between
    * pipeline stages — drop `n_chunk_toks = 0` rows downstream if
    * desired). Start positions are `0, stride, 2*stride, ...` strictly
    * below `n`, so no chunk is ever empty for non-empty docs and the tail
    * chunk is the only one shorter than `size`.
    *
    * 100 TB posture: a single generator expression — `explode(sequence)`
    * over a per-row bounded range + `slice`/`array_join` on the already-
    * split token array — entirely inside the scan's whole-stage-codegen
    * span. No shuffle, no UDF, no state; output volume is
    * `ceil(n/stride)` rows per doc by construction (the caller picks
    * stride to bound the blow-up factor at `size/stride`). Per-doc bound:
    * `sequence` materializes the chunk-id array per row, so a single doc
    * is capped at ~`stride * MAX_ROUNDED_ARRAY_LENGTH` tokens (hundreds
    * of millions at any realistic stride) — split pathological docs
    * upstream.
    *
    * Returns (idCol, chunk_id, n_chunk_toks, chunk_text). */
  def chunkText(df: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"bad chunk size=$size stride=$stride (need 0 < stride <= size)")
    // split once per row; explode from the bound array column
    val d = df.select(col(idCol).as("id"), wsTokens(col(textCol)).as("ts"))
      .select(col("id"), col("ts"),
        coalesce(size_(col("ts")), lit(0)).as("n"))
    d.select(col("id"), col("ts"),
        explode(sequence(lit(0),
          greatest((col("n") - 1), lit(0)).divide(stride).cast("int")))
          .as("chunk_id"))
      .select(col("id").as(idCol), col("chunk_id").cast("long").as("chunk_id"),
        slice(col("ts"), col("chunk_id") * stride + 1, lit(size)).as("ck"))
      .select(col(idCol), col("chunk_id"),
        // null text -> null token array -> one (0, "") chunk, keeping the
        // no-document-vanishes contract instead of emitting null cells
        coalesce(size_(col("ck")), lit(0)).cast("long").as("n_chunk_toks"),
        coalesce(array_join(col("ck"), " "), lit("")).as("chunk_text"))
  }
  // `size` the function vs `size` the parameter: alias the sql function
  private def size_(c: Column): Column = org.apache.spark.sql.functions.size(c)

  /** BPE merge-rule training (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units"): learn `nMerges`
    * byte-pair merges from the corpus word-frequency table. Classic
    * formulation — train on the word vocabulary with counts, not the
    * running text: each round counts adjacent symbol pairs weighted by
    * word frequency, merges the most frequent pair (ties to the
    * lexicographically smaller (a, b)), and rewrites the vocabulary.
    *
    * Words are whitespace tokens of `lower(textCol)` restricted to
    * `^[a-z0-9]+$` (the symbol alphabet must exclude the '|' delimiter
    * below; everything else segments as unknown downstream), and training
    * runs on the top `vocabCap` words by (count desc, word asc) — the
    * standard bounded-vocab gate, and the contract that makes every
    * later stage driver-safe.
    *
    * Symbol sequences travel as delimited strings `|c1||c2||...|`, so a
    * merge is ONE literal string replace: `|a||b|` -> `|ab|`. Literal
    * replace is left-to-right non-overlapping in both engines, which IS
    * BPE's merge order (e.g. [a,a,a] + (a,a) -> [aa, a]), and the
    * replacement can never cascade within a round because a merged symbol
    * `ab` only equals a rule operand of a LATER round. The DuckDB oracle
    * replays every round with the same replace.
    *
    * 100 TB posture: the corpus is scanned ONCE (word count: one shuffle
    * with map-side partials, then a bounded TakeOrdered for the cap).
    * The merge rounds themselves run DRIVER-LOCAL over the collected
    * capped vocabulary — a `vocabCap`-row collect bounded by contract,
    * the same convention as the PQ codebook sample and the <=1M-edge
    * union-find. A distributed round over <= cap rows would pay a
    * scheduler round-trip per merge for zero parallelism (measured:
    * ~0.25 s/round at local[32] vs microseconds on the driver); at any
    * corpus size the only work that grows is the single scan.
    *
    * Returns `nMerges` rows (merge_rank, sym_a, sym_b, merged,
    * pair_count), stopping early if the vocabulary runs out of adjacent
    * pairs. */
  def bpeTrainMerges(df: DataFrame, textCol: String, vocabCap: Int = 200,
      nMerges: Int = 12): DataFrame = {
    require(vocabCap > 0 && nMerges > 0, s"bad cap=$vocabCap merges=$nMerges")
    val spark = df.sparkSession
    import spark.implicits._
    // the one distributed job: word count + bounded top-cap
    val vocab0: Array[(Array[String], Long)] = df
      .select(explode(wsTokens(lower(col(textCol)))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(vocabCap)
      .as[(String, Long)].collect()
      .map { case (w, c) => (w.split("").filter(_.nonEmpty), c) }
    val vocab = vocab0.map { case (syms, _) => syms }
    val cnts = vocab0.map(_._2)
    val rules = Array.newBuilder[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      // weighted adjacent-pair counts; argmax by (weight desc, a, b)
      val pc = new java.util.HashMap[(String, String), Long]()
      var vi = 0
      while (vi < vocab.length) {
        val s = vocab(vi)
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          pc.merge(k, cnts(vi), _ + _)
          i += 1
        }
        vi += 1
      }
      if (pc.isEmpty) exhausted = true
      else {
        var best: (String, String) = null
        var bw = 0L
        pc.forEach { (k, w) =>
          if (best == null || w > bw ||
              (w == bw && (k._1 < best._1 ||
                (k._1 == best._1 && k._2 < best._2)))) {
            best = k; bw = w
          }
        }
        val (a, b) = best
        rules += ((r, a, b, a + b, bw))
        // left-to-right non-overlapping merge (the literal-replace order)
        vi = 0
        while (vi < vocab.length) {
          val s = vocab(vi)
          if (s.length >= 2) {
            val out = Array.newBuilder[String]
            var i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == a && s(i + 1) == b) {
                out += a + b; i += 2
              } else { out += s(i); i += 1 }
            }
            vocab(vi) = out.result()
          }
          vi += 1
        }
        r += 1
      }
    }
    rules.result().toSeq
      .toDF("merge_rank", "sym_a", "sym_b", "merged", "pair_count")
  }

  /** Apply learned BPE merges and count the resulting subword tokens per
    * document — the "how many tokens will this corpus cost" pass. Words
    * matching `^[a-z0-9]+$` segment through the full merge sequence; any
    * other token counts as a single unknown. One codegen'd expression
    * over the scan — no join, no shuffle, no UDF: the merge-and-count
    * runs as a tight symbol-array loop ([[graft.functions.BpeExprs]]),
    * the algorithm the trainer uses and the fuzz pins equal to the
    * literal-replace semantics the oracle replays. (The HOF replace-fold
    * spelling is a test-side witness, `graft.HofWitness` — Spark
    * evaluates higher-order lambdas interpreted, re-scanning the
    * delimited string once per rule.) Returns (idCol, n_words, n_bpe). */
  def bpeSegmentCounts(df: DataFrame, idCol: String, textCol: String,
      rules: Seq[(String, String)]): DataFrame = {
    rules.foreach { case (a, b) =>
      require(a.nonEmpty && b.nonEmpty && !a.contains("|") && !b.contains("|"),
        s"rule operands must be non-empty and '|'-free, got ('$a', '$b')")
    }
    val toks = wsTokens(lower(col(textCol)))
    df.select(col(idCol),
      coalesce(size_(toks), lit(0)).cast("long").as("n_words"),
      coalesce(graft.functions.BpeExprs.bpeCount(toks, rules), lit(0L))
        .as("n_bpe"))
  }

  /** DSIR-style importance scoring (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw document
    * by the log-likelihood ratio of its hashed n-gram features under a
    * bag-of-ngrams model of the TARGET domain vs the RAW corpus —
    * `score(d) = sum over d's features of [ln p_target(b) - ln p_raw(b)]`
    * with add-one smoothing over `nBuckets` hashed buckets. High scores
    * mark documents that look like the target domain; the standard
    * pretraining-data selection step is "keep the top-k by score".
    *
    * Features are word unigrams AND bigrams (the paper's configuration),
    * WITH multiplicity, hashed by the cross-engine [[graft.dedup.polyHash]]
    * into `polyHash(f) % nBuckets` (poly < 1e9+7 is non-negative, so `%`
    * agrees across engines). Weights are pure double ops mirrored
    * op-for-op in the DuckDB oracle:
    * `ln((tc+1)/(Tt+B)) - ln((rc+1)/(Tr+B))`; per-doc sums round to 4dp
    * at the query edge (same ulp posture as [[unigramLogProb]]).
    *
    * 100 TB posture: feature extraction is map-side (codegen'd PolyHash on
    * exploded features); bucket counting is one shuffle each for raw and
    * target with map-side partials into exactly `nBuckets` rows; the
    * weight table is bounded by contract at `nBuckets` rows and joins back
    * via an explicit `broadcast` (the one forced broadcast here is
    * CORRECT — B is a constructor constant, not data-sized); scoring is
    * one per-doc shuffle. The two totals are window sums over the
    * bounded weight table itself — no extra corpus pass, no driver job.
    * Nothing scales with corpus size except the linear scans.
    *
    * Returns (idCol, n_feats, score) — one row per raw doc with at least
    * one feature (null text drops, matching the explode convention). */
  def dsirScore(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, nBuckets: Int = 4096): DataFrame = {
    require(nBuckets > 0, s"bad nBuckets=$nBuckets")
    def feats(df: DataFrame): DataFrame = {
      val t = wsTokens(lower(col(textCol)))
      df.select(col(idCol).cast("long").as("id"),
          concat(t, graft.functions.HashExprs.wordNgramsSeq(t, 2)).as("fs"))
        .select(col("id"), explode(col("fs")).as("f"))
        .select(col("id"),
          (graft.functions.HashExprs.polyHashFast(col("f")) % nBuckets).as("b"))
    }
    val rawF = feats(raw)
    val tgtF = feats(target)
    val rc = rawF.groupBy(col("b")).agg(count(lit(1)).as("rc"))
    val tc = tgtF.groupBy(col("b")).agg(count(lit(1)).as("tc"))
    // totals are unbounded window sums OVER THE WEIGHT TABLE ITSELF —
    // a single-task global window, which is exactly right here because
    // the frame is bounded at <= nBuckets rows by contract. The
    // alternatives both rescan the corpus: driver .head() totals add two
    // eager jobs, and a 1-row aggregate cross join is NOT exchange-reused
    // by AQE against the rc/tc shuffles (measured: 5 corpus scans).
    // This shape is one lazy plan with exactly 3 corpus passes.
    // Full outer join: a target bucket absent from raw still counts
    // toward tt (generic-target semantics); rc=0 buckets drop out at the
    // scoring inner join anyway.
    val win = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val w = rc.join(tc, Seq("b"), "full")
      .select(col("b"), coalesce(col("rc"), lit(0L)).as("rc"),
        coalesce(col("tc"), lit(0L)).as("tc"))
      .select(col("b"), col("rc"), col("tc"),
        sum(col("rc")).over(win).as("tr"), sum(col("tc")).over(win).as("tt"))
      .select(col("b"),
        (log((col("tc").cast("double") + 1.0) /
            (col("tt") + nBuckets).cast("double")) -
          log((col("rc").cast("double") + 1.0) /
            (col("tr") + nBuckets).cast("double"))).as("w"))
    rawF.join(broadcast(w), "b")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("w")).as("score"))
      .select(col("id").as(idCol), col("n_feats"), col("score"))
  }

  /** Bigram language-model scoring with Stupid Backoff (Brants et al.
    * 2007, "Large Language Models in Machine Translation") — the
    * web-scale LM quality signal one step up from [[unigramLogProb]]:
    * train bigram/unigram counts on `train`, score each `test` doc by
    * the mean per-bigram log-score
    *   S(w2 | w1) = c(w1 w2) / c(w1)          when the bigram was seen,
    *              = 0.4 * c(w2) / N            backed off to the unigram
    *              = 0.4 / N                    for an unseen w2
    * (no normalization — Stupid Backoff's defining shortcut; 0.4 is the
    * paper's constant, exactly representable in binary so both engines
    * multiply the same double).
    *
    * Sequential bigrams (wordNgramsSeq — duplicates kept: a doc that
    * repeats a transition repeats its evidence). Engine-exact the same
    * way [[naiveBayesClassify]] is: per-bigram log terms floor-quantize
    * to 2^20ths before the per-doc INTEGER sum, so the mean cannot
    * depend on reduction order; the returned `logprob` is that integer
    * sum divided once by 2^20 and once by the bigram count. One lazy
    * plan: bigram and unigram count tables are tok-keyed aggregates,
    * corpus total rides as a broadcast 1-row aggregate, scoring is two
    * vocab-keyed left joins + a per-doc aggregate. Docs with < 2 tokens
    * have no bigrams and produce no row. Returns
    * (idCol, n_bigrams, logprob). */
  def bigramLogProb(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val Q = 1L << 20
    def bigrams(df: DataFrame, idc: Column) = df
      .select(idc.as("id"),
        explode(graft.functions.HashExprs.wordNgramsSeq(
          wsTokens(lower(col(textCol))), 2)).as("bg"))
    val trBg = bigrams(train, lit(0L))
    val c2 = trBg.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val uni = train.select(
        explode(wsTokens(lower(col(textCol)))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val tot = uni.agg(sum(col("c1")).cast("double").as("nn"))
    // per-test-doc bigrams: w1 = token before the space, w2 = after (the
    // space-joined bigram splits back unambiguously for whitespace
    // tokenization — tokens cannot contain whitespace by construction)
    val te = bigrams(test, col(idCol))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val term = when(col("c2").isNotNull,
        col("c2").cast("double") / col("c1f").cast("double"))
      .otherwise(lit(0.4) * coalesce(col("c1t"), lit(0L)).cast("double") /
        col("nn"))
    te.join(c2, Seq("bg"), "left")
      .join(uni.select(col("w").as("w1"), col("c1").as("c1f")), Seq("w1"), "left")
      .join(uni.select(col("w").as("w2"), col("c1").as("c1t")), Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      // an unseen w2 backs off to 0.4 * 0 / N = 0 probability — floor the
      // log of a tiny positive floor instead: 0.4/N (the "+1 token" view)
      .select(col("id"),
        floor(log(when(term > 0, term).otherwise(lit(0.4) / col("nn"))) * Q)
          .cast("long").as("q"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sq"))
      .select(col("id").as(idCol), col("n_bigrams"),
        (col("sq").cast("double") / Q / col("n_bigrams")).as("logprob"))
  }

  /** Interpolated Kneser-Ney bigram scoring with the corpus as its own
    * model — the standard-smoothing upgrade over [[bigramLogProb]]'s
    * stupid backoff (Kneser & Ney 1995; Chen & Goodman 1999's
    * interpolated form). For every observed bigram (w1, w2):
    *
    *   P_KN(w2|w1) = (c(w1 w2) - d) / c(w1)
    *               + (d * N1+(w1,*) / c(w1)) * (N1+(*,w2) / N1+(*,*))
    *
    * with discount d = 0.75. The continuation factor N1+(*,w2)/types is
    * the KN insight: "how many contexts does w2 follow" rather than raw
    * frequency, so boilerplate tokens that only ever follow one context
    * (e.g. "Francisco" after "San") stop inflating doc scores — exactly
    * the failure mode of unigram/backoff scoring on templated web text.
    *
    * Self-scoring means every doc bigram is observed (c12 >= 1), so the
    * discounted term is positive and no unseen-event branch exists.
    *
    * EXACTNESS contract (what the DuckDB oracle relies on): every count
    * is int64; the probability is ONE fixed double dag over those ints
    * (division and multiplication are IEEE-correctly-rounded, so the
    * bits match across engines when the tree matches — the literal is
    * written 0.75e0 so no engine parses it as DECIMAL), and the per-doc
    * reduction sums floor(ln(p) * 2^20) int64 lanes — order-independent.
    *
    * 100 TB posture: one corpus bigram pass; the count tables are
    * vocab-sized key-partitioned aggregates off that one frame; scoring
    * is a bigram-keyed join back plus a per-doc agg. The only broadcast
    * is the 1-row bigram-type count. Docs with < 2 tokens produce no
    * row. Returns (idCol, n_bigrams, kn_q) with kn_q the summed
    * quantized log-prob (divide by 2^20 * n_bigrams for nats/bigram). */
  def kneserNeyDocScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val Q = 1L << 20
    val docBg = df.select(col(idCol),
        explode(graft.functions.HashExprs.wordNgramsSeq(
          wsTokens(lower(col(textCol))), 2)).as("bg"))
    val c2 = docBg.groupBy(col("bg")).agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val lhs = c2.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p"))
    val cont = c2.groupBy(col("w2")).agg(count(lit(1)).as("nc"))
    val types = c2.agg(count(lit(1)).as("ntypes"))
    val probs = c2.join(lhs, "w1").join(cont, "w2")
      .crossJoin(broadcast(types))
      .select(col("bg"), expr(
        "(CAST(c12 AS DOUBLE) - 0.75e0) / CAST(c1 AS DOUBLE)" +
          " + (0.75e0 * CAST(n1p AS DOUBLE) / CAST(c1 AS DOUBLE))" +
          " * (CAST(nc AS DOUBLE) / CAST(ntypes AS DOUBLE))").as("p"))
    docBg.join(probs, "bg")
      .select(col(idCol), floor(log(col("p")) * Q).cast("long").as("q"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("kn_q"))
  }

  /** Temperature-based mixture rebalancing — the multilingual-pretraining
    * p^alpha reweighting (XLM-R / mT5 convention): given per-source corpus
    * shares p_d, the target sampling shares are q_d proportional to
    * p_d^alpha (alpha < 1 upsamples low-resource sources, alpha = 1 is a
    * no-op, alpha -> 0 approaches uniform), and each source's repeat
    * factor is r_d = budget * q_d * N / n_d — chosen so the expected
    * post-mix corpus size is budget * N. Where [[mixtureKeep]] and
    * [[mixtureRepeat]] take EXPLICIT weights, this derives them from the
    * corpus itself.
    *
    * One lazy plan, no driver action: per-source counts (bounded by the
    * source alphabet), normalizations as window sums over that bounded
    * table (the dsirScore totals trick — the frame is <= |sources| rows
    * by contract). `repeat1e4` = floor(r_d * 1e4) rides along as the
    * integer threshold [[applyMixture]] consumes: quantizing the repeat
    * to 1e-4ths makes the applied copy counts integer-exact cross-engine
    * (the residual risk is pow() differing in the last ulp exactly at a
    * floor boundary — the bm25 ulp argument). Returns one row per source:
    * (source, n, p, q, repeat, repeat1e4). */
  def temperatureMixture(df: DataFrame, sourceCol: String, alpha: Double,
      budget: Double = 1.0): DataFrame = {
    require(alpha > 0 && budget > 0, s"bad alpha=$alpha budget=$budget")
    val win = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    df.groupBy(col(sourceCol).as("source")).agg(count(lit(1)).as("n"))
      .select(col("source"), col("n"),
        (col("n").cast("double") / sum(col("n")).over(win).cast("double")).as("p"),
        (pow(col("n").cast("double"), alpha) /
          sum(pow(col("n").cast("double"), alpha)).over(win)).as("q"),
        sum(col("n")).over(win).cast("double").as("nn"))
      .select(col("source"), col("n"), col("p"), col("q"),
        (lit(budget) * col("q") * col("nn") / col("n").cast("double")).as("repeat"))
      .select(col("source"), col("n"), col("p"), col("q"), col("repeat"),
        floor(col("repeat") * 10000).cast("long").as("repeat1e4"))
  }

  /** Deterministic application of a [[temperatureMixture]] table: per-doc
    * copy counts copies = repeat1e4 div 10^4 plus one more when the doc's
    * hash fraction (pmod(rollingHash(key), 10^4)) falls under the
    * fractional part — integer threshold against an integer hash, exact
    * in any engine, stable under repartitioning, monotone in the weight
    * (the [[mixtureRepeat]] contract with a DERIVED, column-valued
    * weight). The mixture table broadcasts (<= |sources| rows). Returns
    * the input columns plus `copies`; materialize duplicates with
    * `explode(array_repeat(lit(1), copies))` or a generator. */
  def applyMixture(df: DataFrame, key: Column, sourceCol: String,
      mix: DataFrame): DataFrame =
    df.join(broadcast(mix.select(col("source").as("__mix_source"),
        col("repeat1e4").as("__mix_r"))),
        col(sourceCol) === col("__mix_source"))
      .withColumn("copies", expr("__mix_r DIV 10000") +
        when(pmod(rollingHash(key), lit(10000L)) <
          pmod(col("__mix_r"), lit(10000L)), 1L).otherwise(0L))
      .drop("__mix_source", "__mix_r")

  /** Multinomial Naive Bayes text classifier — the trainable companion to
    * the n-gram langid heuristic (and the classic fastText-quality stand-in
    * that needs no gradient loop): train token likelihoods per label on
    * `train`, classify `test` by argmax of log P(label) + sum log
    * P(token | label) with add-one smoothing.
    *
    * Engine-exact by integer quantization: every per-token log term (and
    * the prior) is floor-quantized to 2^20ths BEFORE summation —
    * integer sums are associative, so the scores (and the argmax) cannot
    * depend on either engine's reduction order, where raw double sums
    * can flip a near-tied argmax between engines. (Residual cross-engine
    * risk is ln() differing in the last ulp exactly at a floor boundary
    * — the bm25 ulp argument, measured-negligible.) Ties break to the
    * lexicographically smallest label.
    *
    * 100 TB shape: ONE driver action bounded by contract (the label
    * alphabet); token-likelihood table is one tok-keyed aggregate whose
    * exchange is shared with the class-totals branch (tok is a grouping
    * key — the bm25 discipline); totals and priors ride as broadcast
    * 1-row aggregates; scoring is a vocab-keyed join + per-doc integer
    * aggregate. Docs with zero tokens produce no row (no evidence, no
    * score). Returns (idCol, pred). */
  def naiveBayesClassify(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, labelCol: String): DataFrame = {
    val classes = train.select(col(labelCol).cast("string").as("y"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    require(classes.nonEmpty, "empty training set")
    val Q = 1L << 20
    val toks = train.select(col(labelCol).cast("string").as("y"),
      explode(wsTokens(lower(col(textCol)))).as("tok"))
    val wc = toks.groupBy(col("tok")).agg(
      count(when(col("y") === classes.head, 1)).as("n_0"),
      classes.tail.zipWithIndex.map { case (c, i) =>
        count(when(col("y") === c, 1)).as(s"n_${i + 1}") }: _*)
    val tot = wc.agg(count(lit(1)).as("v"),
      classes.indices.map(i => sum(col(s"n_$i")).as(s"t_$i")): _*)
    val priors = train.agg(count(lit(1)).as("nd"),
      classes.zipWithIndex.map { case (c, i) =>
        count(when(col(labelCol).cast("string") === c, 1)).as(s"d_$i") }: _*)
    val ttoks = test.select(col(idCol).as("id"),
      explode(wsTokens(lower(col(textCol)))).as("tok"))
    val terms = ttoks.join(wc, Seq("tok"), "left")
      .crossJoin(broadcast(tot))
      .select(col("id") +: classes.indices.map { i =>
        floor(log((coalesce(col(s"n_$i"), lit(0L)) + 1).cast("double") /
          (col(s"t_$i") + col("v")).cast("double")) * Q)
          .cast("long").as(s"q_$i") }: _*)
    val scores = terms.groupBy(col("id"))
      .agg(sum(col("q_0")).as("s_0"),
        classes.indices.tail.map(i => sum(col(s"q_$i")).as(s"s_$i")): _*)
      .crossJoin(broadcast(priors))
      .select(col("id") +: classes.indices.map { i =>
        (col(s"s_$i") + floor(log(col(s"d_$i").cast("double") /
          col("nd").cast("double")) * Q).cast("long")).as(s"f_$i") }: _*)
    // argmax fold, strict > so ties keep the earlier (smaller) label
    val (_, pred) = classes.indices.tail.foldLeft(
        (col("f_0"), lit(classes.head))) { case ((bs, bc), i) =>
      (when(col(s"f_$i") > bs, col(s"f_$i")).otherwise(bs),
        when(col(s"f_$i") > bs, lit(classes(i))).otherwise(bc))
    }
    scores.select(col("id").as(idCol), pred.as("pred"))
  }

  /** PII patterns for training-data scrubbing. Deliberately restricted to
    * the regex subset that means the same thing in Java regex (Spark,
    * codegen'd `regexp_replace`/`regexp_count`) and RE2 (DuckDB oracle,
    * Trino, Go tooling): character classes, bounded repetition, alternation
    * — no lookaround, no backreferences, no \\w-style perl classes whose
    * unicode behavior differs between engines. Each entry is
    * (class name, pattern, replacement token). */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", "\\+?[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}", "<PHONE>"),
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"))

  /** Redact every PII class in [[piiPatterns]], longest-pattern-first so an
    * SSN inside a phone-shaped string can't double-fire. A pure map-side
    * expression stack (one codegen'd `regexp_replace` per class): at 100 TB
    * this runs inside the scan's whole-stage-codegen span, no shuffle, no
    * UDF serialization. */
  def redactPii(c: Column): Column =
    piiPatterns.foldLeft(c) { case (acc, (_, pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }

  /** Per-class PII hit counts as a struct column (fields named after the
    * class) — the audit face of [[redactPii]]. Counts fire on the ORIGINAL
    * text, in the same order-insensitive way DuckDB's regexp counts do, so
    * the two faces can disagree only where classes overlap textually (ssn
    * vs phone); redaction order handles that, counting deliberately does
    * not hide it. */
  def piiCounts(c: Column): Column =
    struct(piiPatterns.map { case (name, pat, _) =>
      regexp_count(c, lit(pat)).as(name)
    }: _*)

  /** Precision/recall sweep over every decision threshold of a score
    * column — the report that calibrates a quality-filter cutoff (which
    * threshold keeps 90% of known-good docs? what precision does it buy?)
    * against a labeled sample, entirely in exact integer arithmetic.
    *
    * Predicting positive means `score >= threshold`; one output row per
    * DISTINCT score, descending-cumulative TP/FP and ppm-quantized
    * precision/recall (int64 floor division — the q_pagerank fixed-point
    * convention, bit-identical cross-engine).
    *
    * 100 TB posture: one corpus-sized map-side-combined aggregate
    * collapses the corpus to the distinct-score frame; the cumulative
    * and the totals run over THAT frame in score-descending order as
    * the two-level scan of [[graft.core.Partitions.runningSums]] (no
    * single-task window, no second corpus pass). Returns
    * (thr, tp, fp, prec_ppm, rec_ppm). */
  def prCurve(df: DataFrame, scoreCol: String, labelCol: Column): DataFrame = {
    val g = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol).cast("long").as("thr"))
      .agg(count(when(labelCol, 1)).as("pos"), count(lit(1)).as("n"))
    graft.core.Partitions.runningSums(g, Seq(col("thr").desc), Seq("pos", "n"))
      .select(col("thr"), col("cum_pos").as("tp"),
        (col("cum_n") - col("cum_pos")).as("fp"),
        expr("cum_pos * 1000000 DIV cum_n").as("prec_ppm"),
        expr("CASE WHEN tot_pos > 0 THEN cum_pos * 1000000 DIV tot_pos END")
          .as("rec_ppm"))
  }

  /** Whole-document bin packing: assign each document to a training
    * "bin" of at most `capTokens` tokens WITHOUT splitting documents —
    * the complement of [[packSequences]] (which concatenates and chunks
    * mid-document). Pipelines that must keep documents intact (eval
    * sets, long-context curricula, RAG corpora) pack this way.
    *
    * Optimal bin packing is NP-hard; the implemented contract is the
    * standard scalable compromise: documents are sharded by
    * `pmod(id, nShards)` (deterministic, no RNG) and packed next-fit-
    * decreasing WITHIN each shard — sort by token count descending, walk
    * once, open a new bin whenever the current document no longer fits.
    * NFD's sequential walk is the per-shard cost by design: the caller
    * sizes `nShards` so a shard is ~10⁴ documents, and all shards pack
    * in parallel (repartition on the shard key + sortWithinPartitions +
    * ONE streaming mapPartitions fold — O(1) state per task, no
    * collect_list, no driver anything). A document larger than the cap
    * gets a bin of its own (never dropped, never split).
    *
    * Determinism: shard, order (tok DESC, id), and the fold are all
    * integer-exact, so the full per-document assignment replays in SQL
    * as a recursive CTE. Returns one row per document:
    * (idCol, shard, bin_id, n_tok) with bin_id 1-based per shard. */
  def packBinsNoSplit(df: DataFrame, idCol: String, nTokCol: String,
      capTokens: Long, nShards: Int): DataFrame = {
    require(capTokens > 0 && nShards > 0,
      s"bad capTokens=$capTokens nShards=$nShards")
    val spark = df.sparkSession
    import spark.implicits._
    val sorted = df.filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        pmod(col(idCol).cast("long"), lit(nShards.toLong)).as("shard"),
        greatest(coalesce(col(nTokCol).cast("long"), lit(0L)), lit(0L)).as("tok"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("tok").desc, col("id"))
      .as[(Long, Long, Long)]
    sorted.mapPartitions { it =>
      // a task may hold several shards back-to-back (hash partitioning);
      // the fold state resets on every shard boundary
      var cur = Long.MinValue; var cum = 0L; var bin = 0L
      it.map { case (id, shard, tok) =>
        if (shard != cur) { cur = shard; bin = 1L; cum = 0L }
        if (cum > 0L && cum + tok > capTokens) { bin += 1L; cum = 0L }
        cum += tok
        (id, shard, bin, tok)
      }
    }.toDF(idCol, "shard", "bin_id", "n_tok")
  }

  /** Per-document Shannon character entropy — the cheap "is this text
    * or line noise" quality feature (base64 blobs and repeated-char
    * padding sit at the entropy extremes; natural language clusters in
    * the middle). Complements the ratio features in [[qualityScore]].
    *
    * Entirely ROW-LOCAL (zero shuffle): the per-char counts come from
    * the RUN BOUNDARIES of the sorted character array — `filter` over a
    * `sequence` of positions keeps the indices where the char changes,
    * and `zip_with` against the shifted boundary list turns them into
    * run lengths. Every HOF here is O(len) per row; the obvious
    * [[graft.structure.runLengths]] fold is O(len²) (Catalyst array
    * append copies the accumulator per element — measured as a stuck
    * single-task hour at 50k×500-char docs under Verify's coalesce(1),
    * seconds this way). The entropy sum
    *
    *   entq = Σ_c cnt_c · floor(2²⁰ · ln(n / cnt_c))
    *
    * quantizes each term to int64 BEFORE summing over the bounded char
    * domain, so the statistic is order-independent and replays
    * hash-exact (ln is one correctly-rounded libm/StrictMath-agreeing
    * call on the same double — the t_kneser contract). The reported
    * `entropy` (nats) is entq/(n·2²⁰): ONE IEEE division of exact
    * integers. Returns (idCol, n_chars_total, n_distinct, entq,
    * entropy). */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cs = array_sort(split(col(textCol), "")) // bound as "cs" below
    df.select(col(idCol), cs.as("cs"))
      .select(col(idCol), col("cs"),
        size(col("cs")).cast("long").as("n_chars_total"),
        // 0-based positions that START a run of equal chars
        filter(sequence(lit(0), size(col("cs")) - 1), i =>
          (i === 0) || element_at(col("cs"), i + 1) =!=
            element_at(col("cs"), i)).as("starts"))
      .select(col(idCol), col("n_chars_total"),
        size(col("starts")).cast("long").as("n_distinct"),
        // run length = next start (or n) minus this start
        zip_with(
          col("starts"),
          concat(slice(col("starts"), lit(2),
              greatest(size(col("starts")) - 1, lit(0))),
            array(size(col("cs")))),
          (a, b) => b - a).as("runs"))
      .select(col(idCol), col("n_chars_total"), col("n_distinct"),
        aggregate(col("runs"), lit(0L), (acc, cnt) =>
          acc + cnt.cast("long") *
            floor(lit(1048576.0) *
              log(col("n_chars_total").cast("double") / cnt.cast("double")))
              .cast("long")).as("entq"))
      .withColumn("entropy",
        expr("CAST(entq AS DOUBLE) / (n_chars_total * 1048576)"))
  }
}
