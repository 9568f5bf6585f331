package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar string functions (reference `src/dask_awkward/lib/str.py` — 43
  * Arrow-kernel wrappers). Each maps to a codegen'd Spark SQL function; for
  * strings nested inside lists, apply these inside `transform(...)` exactly
  * as the reference applies them "at any nesting depth" via map_partitions
  * (reference `lib/str.py:16-23`).
  */
package object strings {

  /** `str.capitalize` (reference `str.py:27`): first char upper, rest lower. */
  def capitalize(c: Column): Column =
    concat(upper(substring(c, 1, 1)), lower(c.substr(lit(2), length(c))))

  /** `str.title` (reference `str.py:851`): first letter of each
    * whitespace-delimited word uppercased, rest lowered. */
  def title(c: Column): Column = initcap(lower(c))

  /** `str.swapcase` (reference `str.py:835`) — per-character case flip via a
    * char-array transform (no Arrow kernel equivalent in Spark). */
  def swapcase(c: Column): Column =
    array_join(
      transform(split(c, ""), ch =>
        when(ch === upper(ch) && ch =!= lower(ch), lower(ch))
          .when(ch === lower(ch) && ch =!= upper(ch), upper(ch))
          .otherwise(ch)),
      "")

  /** `str.lower` / `str.upper` (reference `str.py:446,917`). */
  def lowerS(c: Column): Column = lower(c)
  def upperS(c: Column): Column = upper(c)

  /** `str.center(width, padding)` (reference `str.py:43`): lpad half the
    * deficit, rpad the rest; strings already >= width pass through
    * unchanged (Spark's lpad/rpad would TRUNCATE them — Python/Arrow
    * center never does). */
  def center(c: Column, width: Int, pad: String = " "): Column = {
    val deficit = greatest(lit(width) - length(c), lit(0))
    when(length(c) >= width, c)
      .otherwise(rpad(lpad(c, (length(c) + deficit / 2).cast("int"), lit(pad)),
        width, pad))
  }

  /** `str.lpad` / `str.rpad` (reference `str.py:462,676`). */
  def lpadS(c: Column, width: Int, pad: String = " "): Column = lpad(c, width, pad)
  def rpadS(c: Column, width: Int, pad: String = " "): Column = rpad(c, width, pad)

  /** `str.trim/ltrim/rtrim` + whitespace variants
    * (reference `str.py:883,462,696,500,714,901`). */
  def trimWhitespace(c: Column): Column = trim(c)
  def ltrimWhitespace(c: Column): Column = ltrim(c)
  def rtrimWhitespace(c: Column): Column = rtrim(c)
  def trimChars(c: Column, chars: String): Column = trim(c, chars)

  /** `str.count_substring` (reference `str.py:63`): non-overlapping count. */
  def countSubstring(c: Column, sub: String): Column =
    when(length(c) === 0, 0).otherwise(
      ((length(c) - length(replace(c, lit(sub), lit("")))) / sub.length)
        .cast("int"))

  /** `str.count_substring_regex` (reference `str.py:83`). */
  def countSubstringRegex(c: Column, pattern: String): Column =
    regexp_count(c, lit(pattern))

  /** `str.starts_with` / `str.ends_with` (reference `str.py:815,103`). */
  def startsWith(c: Column, p: String): Column = c.startsWith(p)
  def endsWith(c: Column, p: String): Column = c.endsWith(p)

  /** `str.find_substring` (reference `str.py:141`): 0-based first index,
    * -1 when absent (Arrow semantics). Spark `locate` is 1-based, 0 absent. */
  def findSubstring(c: Column, sub: String): Column = locate(sub, c) - 1

  /** `str.find_substring_regex` (reference `str.py:161`). */
  def findSubstringRegex(c: Column, pattern: String): Column =
    regexp_instr(c, lit(pattern)) - 1

  /** `str.match_like` (reference `str.py:516`): SQL LIKE with %/_ . */
  def matchLike(c: Column, pattern: String): Column = c.like(pattern)

  /** `str.match_substring` / `_regex` (reference `str.py:536,556`). */
  def matchSubstring(c: Column, sub: String): Column = c.contains(sub)
  def matchSubstringRegex(c: Column, pattern: String): Column = c.rlike(pattern)

  /** `str.extract_regex` (reference `str.py:123`). */
  def extractRegex(c: Column, pattern: String, group: Int): Column =
    regexp_extract(c, pattern, group)

  /** `str.replace_substring` / `_regex` (reference `str.py:616,638`). */
  def replaceSubstring(c: Column, search: String, repl: String): Column =
    replace(c, lit(search), lit(repl))
  def replaceSubstringRegex(c: Column, pattern: String, repl: String): Column =
    regexp_replace(c, pattern, repl)

  /** `str.replace_slice` (reference `str.py:594`) — overlay. */
  def replaceSlice(c: Column, start: Int, stop: Int, repl: String): Column =
    overlay(c, lit(repl), lit(start + 1), lit(stop - start))

  /** `str.slice` (reference `str.py:730`): 0-based [start, stop). */
  def sliceString(c: Column, start: Int, stop: Int): Column =
    substring(c, start + 1, math.max(0, stop - start))

  /** `str.split_pattern` / `_regex` / `split_whitespace`
    * (reference `str.py:752,774,796`). Spark's `split` pattern is always a
    * regex, so the plain variant quotes it. */
  def splitPattern(c: Column, sep: String): Column =
    split(c, java.util.regex.Pattern.quote(sep))
  def splitPatternRegex(c: Column, pattern: String): Column = split(c, pattern)
  def splitWhitespace(c: Column): Column =
    split(trim(c), "\\s+")

  /** `str.join` (reference `str.py:397`): join list-of-strings per row. */
  def joinStrings(c: Column, sep: String): Column = array_join(c, sep)

  /** `str.join_element_wise` (reference `str.py:415`). */
  def joinElementWise(sep: String, cols: Column*): Column =
    concat_ws(sep, cols: _*)

  /** `str.repeat` / `str.reverse` / `str.length`
    * (reference `str.py:576,660,430`). */
  def repeatS(c: Column, n: Int): Column = repeat(c, n)
  def reverseS(c: Column): Column = reverse(c)
  def lengthS(c: Column): Column = length(c)

  /** `str.is_*` classifiers (reference `str.py:201-393`) — empty strings are
    * false (Arrow semantics: utf8_is_* on "" is false). */
  def isAlnum(c: Column): Column = c.rlike("^[\\p{L}\\p{N}]+$")
  def isAlpha(c: Column): Column = c.rlike("^\\p{L}+$")
  def isAscii(c: Column): Column = c.rlike("^[\\x00-\\x7F]+$")
  def isDecimal(c: Column): Column = c.rlike("^\\p{Nd}+$")
  def isDigit(c: Column): Column = c.rlike("^\\p{Nd}+$")
  def isNumeric(c: Column): Column = c.rlike("^\\p{N}+$")
  def isLower(c: Column): Column = c.rlike("\\p{Ll}") && !c.rlike("\\p{Lu}")
  def isUpper(c: Column): Column = c.rlike("\\p{Lu}") && !c.rlike("\\p{Ll}")
  def isSpace(c: Column): Column = c.rlike("^\\s+$")
  def isPrintable(c: Column): Column = c.rlike("^\\P{Cc}*$") && length(c) > 0
  def isTitle(c: Column): Column = c === initcap(lower(c)) && c.rlike("\\p{L}")

  /** `str.index_in` (reference `str.py:181`): 0-based index of each value in
    * a lookup list, null when absent. */
  def indexIn(c: Column, values: Seq[String]): Column = {
    val arr = array(values.map(lit): _*)
    val pos = array_position(arr, c)
    when(pos > 0, pos - 1)
  }

  /** `str.is_in` (reference `str.py:281`). */
  def isInSet(c: Column, values: Seq[String]): Column =
    c.isin(values.map(x => x: Any): _*)

  /** `str.to_categorical` (reference `str.py:867`): dictionary-encode a
    * string column. Returns the frame with a dense 0-based `codeCol`
    * (codes assigned in sorted value order, so they are deterministic and
    * engine-independent) plus the dictionary itself as a second frame —
    * the (value, code) pairs the reference stores as the Arrow dictionary.
    *
    * Scale shape: one distinct shuffle over the values, then the
    * generalized two-level rank ([[graft.core.Partitions.globalRankBy]])
    * over the distinct set — range-partitioned local ranks plus bounded
    * per-partition offsets, so a HIGH-cardinality column degrades
    * gracefully into parallel partitions instead of funneling the whole
    * dictionary through one unpartitioned window task. The join back
    * reads the dictionary pinned once ([[graft.core.Broadcasts.pinCounted]],
    * whose count rides on the pinning job) and broadcasts it only when
    * that count is at most `broadcastMaxDict` entries and fits the byte
    * budget ([[graft.core.Broadcasts.fits]]): a genuinely high-cardinality
    * column degrades to a shuffle join instead of the forced-broadcast OOM
    * a hint would override Spark's size safety into. The returned
    * dictionary is the lazy ranked frame. */
  def toCategorical(df: org.apache.spark.sql.DataFrame, valueCol: String,
      codeCol: String, broadcastMaxDict: Long = 1000000L)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    require(!df.columns.contains(codeCol),
      s"toCategorical: input already has a column named '$codeCol'")
    require(valueCol != "__graft_cat_v" && codeCol != "__graft_cat_rn",
      "toCategorical: '__graft_cat_v'/'__graft_cat_rn' are reserved")
    // distinct values double as the rank tiebreak id (trivially unique).
    // Internal names for the rank call: globalRankBy's output carries its
    // own "k" column, so a value column literally named "k" (or a code
    // column named like the rank) would otherwise collide ambiguously.
    val dict = graft.core.Partitions.globalRankBy(
        df.select(col(valueCol).as("__graft_cat_v")).distinct(),
        col("__graft_cat_v"), "__graft_cat_v", "__graft_cat_rn")
      .select(col("__graft_cat_v").as(valueCol),
        (col("__graft_cat_rn") - 1).cast("long").as(codeCol))
    val (pinned, n) = graft.core.Broadcasts.pinCounted(dict)
    val dictJ =
      if (n <= broadcastMaxDict && graft.core.Broadcasts.fits(n, pinned.schema))
        broadcast(pinned)
      else pinned
    (df.join(dictJ, valueCol), dict)
  }

  /** Unicode normalization (UAX #15) — the Arrow `utf8_normalize`
    * analog; see [[graft.functions.UnicodeExprs]]. */
  def normalizeUnicode(c: Column, form: String = "NFC"): Column =
    graft.functions.UnicodeExprs.unicodeNormalize(c, form)

  /** `ak.strings_astype` — a TODO stub in the reference itself
    * (reference `structure.py:857-865` raises DaskAwkwardNotImplemented),
    * implemented here with the semantics its docstring promises: parse an
    * array-of-strings column to numbers. Malformed elements become null
    * (try_cast semantics — in ANSI mode a plain cast would throw
    * mid-pipeline on the first stray token, and silently nulling is what
    * every CSV-ish ingestion expects); leading/trailing whitespace is
    * trimmed first, matching numpy's `astype(str -> float)` tolerance.
    * Row-local, but `transform` is `CodegenFallback`: it interprets its
    * lambda per element and keeps the projection holding it out of
    * whole-stage codegen. */
  def stringsAstype(c: Column, to: String): Column =
    transform(c, x => trim(x).try_cast(to))
}
