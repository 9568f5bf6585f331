package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.structure._
import graft.reducers._

/** Structure-operator wave (SURVEY §2.4, reference `lib/structure.py`).
  *
  * Each query builds the ragged order-items view (one groupBy shuffle),
  * applies the nested operator row-locally (zero further shuffles: list
  * kernels and array functions inside one projection), then reduces to scalar
  * columns so the DuckDB oracle can verify values exactly.
  *
  * Integer outputs are cast to BIGINT on both sides so schemas match.
  */
object Structure {
  type Q = (SparkSession, String) => DataFrame

  private def qtys: Column = transform(col("items"), _.getField("quantity"))
  private def prices: Column = transform(col("items"), _.getField("extendedprice"))
  private def flags: Column = transform(col("items"), _.getField("returnflag"))

  private def nested(s: SparkSession, dir: String): DataFrame =
    Tables.ordersNested(s, dir)

  val queries: Map[String, Q] = Map(
    // ak.num(axis=1) — reference lib/structure.py:627
    "s_num" -> { (s, dir) =>
      nested(s, dir).select(col("o_orderkey"),
        num(col("items")).cast("long").as("n_items"))
    },

    // ak.flatten(axis=1) round-trip via explode — reference lib/structure.py:436
    "s_flatten" -> { (s, dir) =>
      nested(s, dir)
        .select(col("o_orderkey"), explode(col("items")).as("it"))
        .groupBy(col("o_orderkey"))
        .agg(round(sum(col("it.quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
    },

    // ak.sort(axis=1) + head-3 — reference lib/structure.py:825
    "s_sort" -> { (s, dir) =>
      nested(s, dir).select(col("o_orderkey"),
        array_join(
          transform(slice(sort_array(qtys, asc = false), 1, 3),
            x => x.cast("long").cast("string")), ",").as("top3"))
    },

    // ak.argsort: first 3 positions in (value, idx) order — lib/structure.py:178
    "s_argsort" -> { (s, dir) =>
      nested(s, dir).select(col("o_orderkey"),
        array_join(transform(slice(argsortList(qtys), 1, 3),
          i => i.cast("string")), ",").as("idx3"))
    },

    // ak.firsts — reference lib/structure.py:399
    "s_firsts" -> { (s, dir) =>
      nested(s, dir).select(col("o_orderkey"),
        firsts(qtys).cast("long").as("first_qty"))
    },

    // ak.cartesian(axis=1) — reference lib/structure.py:244
    "s_cartesian" -> { (s, dir) =>
      val pairs = cartesianLists(qtys, qtys)
      nested(s, dir).select(col("o_orderkey"),
        num(pairs).cast("long").as("n_pairs"),
        round(sumList(transform(pairs,
          p => p.getField("a") * p.getField("b"))), 2).as("sum_prod"))
    },

    // ak.combinations(n=2) — reference lib/structure.py:284
    "s_combinations" -> { (s, dir) =>
      val pairs = combinations2(qtys)
      nested(s, dir).select(col("o_orderkey"),
        num(pairs).cast("long").as("n_pairs"),
        round(sumList(transform(pairs,
          p => p.getField("a") * p.getField("b"))), 2).as("sum_prod"))
    },

    // ak.combinations(n=3) + with-replacement pairs — reference
    // lib/structure.py:284-331 (general n via custom Expression)
    "s_comb_n" -> { (s, dir) =>
      val triples = combinationsN(qtys, 3)
      val replPairs = combinationsN(qtys, 2, replacement = true)
      nested(s, dir).select(col("o_orderkey"),
        num(triples).cast("long").as("n_triples"),
        round(sumList(transform(triples,
          t => get(t, lit(0)) * get(t, lit(1)) * get(t, lit(2)))), 2).as("sum_prod3"),
        num(replPairs).cast("long").as("n_pairs_repl"),
        round(sumList(transform(replPairs,
          p => get(p, lit(0)) * get(p, lit(1)))), 2).as("sum_prod2r"))
    },

    // ak.local_index — reference lib/structure.py:561
    "s_local_index" -> { (s, dir) =>
      nested(s, dir).select(col("o_orderkey"),
        sumList(localIndex(col("items"))).cast("long").as("sum_idx"))
    },

    // ak.pad_none + ak.fill_none — reference lib/structure.py:712,349
    "s_pad_fill" -> { (s, dir) =>
      val padded = padNone(qtys, 5)
      nested(s, dir).select(col("o_orderkey"),
        num(padded).cast("long").as("padded_len"),
        num(padNoneClip(qtys, 3)).cast("long").as("clipped_len"),
        round(sumList(fillNone(padded, lit(0.0))), 2).as("sum_filled"))
    },

    // ak.run_lengths over returnflag in linenumber order — lib/structure.py:772
    "s_runlengths" -> { (s, dir) =>
      nested(s, dir).select(col("o_orderkey"),
        num(runLengths(flags)).cast("long").as("n_runs"))
    },

    // ak.mask + ak.drop_none + ak.where — lib/core.py:1788, structure.py:376,1002
    "s_where_mask" -> { (s, dir) =>
      val masked = maskList(qtys, _ >= 5)
      val whered = whereList(transform(qtys, _ > 25), qtys, fullLike(qtys, lit(0.0)))
      nested(s, dir).select(col("o_orderkey"),
        num(dropNone(masked)).cast("long").as("n_kept"),
        sumList(isNone(masked).cast("array<int>")).cast("long").as("n_masked"),
        round(sumList(whered), 2).as("sum_big"))
    },

    // ak.zip + elementwise arithmetic over two ragged arrays — structure.py:1252
    "s_zip" -> { (s, dir) =>
      nested(s, dir).select(col("o_orderkey"),
        round(sumList(zip_with(qtys, prices, (q, p) => q * p)), 2).as("dot"))
    },

    // inner-axis slice + gather — reference lib/core.py:1503,1509
    "s_slice_gather" -> { (s, dir) =>
      nested(s, dir).select(col("o_orderkey"),
        round(sumList(sliceList(qtys, 1, 3)), 2).as("mid_sum"),
        round(firsts(gather(qtys, array(size(qtys) - 1, lit(0)))), 2).as("last_qty"))
    },

    // ak.unflatten by counts — reference lib/structure.py:895
    "s_unflatten" -> { (s, dir) =>
      val n = size(qtys)
      // regroup the flat quantity list into pairs: counts = [2,2,...,rem]
      val counts = transform(
        sequence(lit(0), ((n + lit(1)) / 2).cast("int") - 1),
        i => least(lit(2), n - i * 2))
      nested(s, dir).select(col("o_orderkey"),
        num(unflattenList(qtys, counts)).cast("long").as("n_groups"),
        round(sumList(transform(unflattenList(qtys, counts),
          g => sumList(g))), 2).as("sum_regrouped"))
    },

    // ak.concatenate(axis=0) = unionByName — reference lib/operations.py:50
    "s_concat0" -> { (s, dir) =>
      val a = Tables.lineitem(s, dir).filter(col("l_quantity") <= 10)
      val b = Tables.lineitem(s, dir).filter(col("l_quantity") >= 45)
      a.unionByName(b)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
    },

    // ak.concatenate(axis=1) per-row — reference lib/operations.py:121
    "s_concat1" -> { (s, dir) =>
      val lo = filter(qtys, _ <= 25)
      val hi = filter(qtys, _ > 25)
      nested(s, dir).select(col("o_orderkey"),
        num(concatLists(lo, hi)).cast("long").as("n_total"),
        round(sumList(concatLists(lo, hi)), 2).as("sum_total"))
    },

    // ak.values_astype — reference lib/structure.py:956
    "s_astype" -> { (s, dir) =>
      nested(s, dir).select(col("o_orderkey"),
        sumList(valuesAstype(qtys, org.apache.spark.sql.types.LongType))
          .cast("long").as("sum_int"))
    },

    // list-of-list construction + ravel + num(axis=2) — structure.py:750,627
    "s_ravel" -> { (s, dir) =>
      val byFlag = array(
        filter(col("items"), _.getField("returnflag") === "A"),
        filter(col("items"), _.getField("returnflag") === "N"),
        filter(col("items"), _.getField("returnflag") === "R"))
      nested(s, dir).select(col("o_orderkey"),
        num(ravel2(byFlag)).cast("long").as("n_ravel"),
        array_join(transform(numAxis2(byFlag), _.cast("string")), ",").as("counts"),
        round(sumList(transform(ravel2(byFlag), _.getField("quantity"))), 2)
          .as("sum_qty"))
    },

    // broadcasting a per-row scalar against a ragged array — structure.py:206
    "s_broadcast" -> { (s, dir) =>
      nested(s, dir).select(col("o_orderkey"),
        round(sumList(broadcastWith(qtys, size(qtys).cast("double"))(_ + _)), 2)
          .as("sum_shifted"))
    },

    // ak.with_field / withField on nested structs — structure.py:1034
    "s_with_field" -> { (s, dir) =>
      val withNet = transform(col("items"), it =>
        it.withField("net", it.getField("extendedprice") *
          (lit(1) - it.getField("discount"))))
      // Money sums are aggregated in DECIMAL on both engines: each term is
      // an exact 4-decimal value, so decimal aggregation is order-independent
      // and the rounded result matches DuckDB bit-for-bit (see Oracles.money).
      nested(s, dir).select(col("o_orderkey"),
        Oracles.moneySumList(transform(withNet, _.getField("net"))).as("sum_net"))
    })

  val oracle: Map[String, String] = Map(
    "s_num" ->
      """SELECT l_orderkey AS o_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1""",
    "s_flatten" ->
      """SELECT l_orderkey AS o_orderkey, round(sum(l_quantity),2) AS sum_qty, count(*) AS n FROM lineitem GROUP BY 1""",
    "s_sort" ->
      """SELECT l_orderkey AS o_orderkey, string_agg(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR), ',' ORDER BY l_quantity DESC, rn) AS top3 FROM (SELECT l_orderkey, l_quantity, row_number() OVER (PARTITION BY l_orderkey ORDER BY l_quantity DESC) AS rn FROM lineitem) t WHERE rn <= 3 GROUP BY 1""",
    "s_argsort" ->
      """SELECT l_orderkey AS o_orderkey, string_agg(CAST(idx AS VARCHAR), ',' ORDER BY l_quantity, idx) AS idx3 FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY l_quantity, idx) AS rnk FROM (SELECT l_orderkey, l_quantity, row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity, l_extendedprice, l_discount, l_returnflag) - 1 AS idx FROM lineitem) u) t WHERE rnk <= 3 GROUP BY 1""",
    "s_firsts" ->
      """SELECT l_orderkey AS o_orderkey, CAST(max(l_quantity) FILTER (WHERE rn = 1) AS BIGINT) AS first_qty FROM (SELECT l_orderkey, l_quantity, row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity, l_extendedprice, l_discount, l_returnflag) AS rn FROM lineitem) t GROUP BY 1""",
    "s_cartesian" ->
      """SELECT l_orderkey AS o_orderkey, count(*)*count(*) AS n_pairs, round(sum(l_quantity)*sum(l_quantity),2) AS sum_prod FROM lineitem GROUP BY 1""",
    "s_combinations" ->
      """SELECT l_orderkey AS o_orderkey, count(*)*(count(*)-1)//2 AS n_pairs, round((sum(l_quantity)*sum(l_quantity) - sum(l_quantity*l_quantity))/2, 2) AS sum_prod FROM lineitem GROUP BY 1""",
    "s_local_index" ->
      """SELECT l_orderkey AS o_orderkey, count(*)*(count(*)-1)//2 AS sum_idx FROM lineitem GROUP BY 1""",
    // sum over 3-combinations of products = elementary symmetric e3 =
    // (s1^3 - 3*s1*s2 + 2*s3)/6; with-replacement pairs = complete
    // homogeneous h2 = (s1^2 + s2)/2 (power sums s_k = sum q^k)
    "s_comb_n" ->
      """SELECT l_orderkey AS o_orderkey, count(*)*(count(*)-1)*(count(*)-2)//6 AS n_triples, round((pow(sum(l_quantity),3) - 3*sum(l_quantity)*sum(l_quantity*l_quantity) + 2*sum(l_quantity*l_quantity*l_quantity))/6, 2) AS sum_prod3, count(*)*(count(*)+1)//2 AS n_pairs_repl, round((pow(sum(l_quantity),2) + sum(l_quantity*l_quantity))/2, 2) AS sum_prod2r FROM lineitem GROUP BY 1""",
    "s_pad_fill" ->
      """SELECT l_orderkey AS o_orderkey, CASE WHEN count(*) >= 5 THEN count(*) ELSE 5 END AS padded_len, CAST(3 AS BIGINT) AS clipped_len, round(sum(l_quantity),2) AS sum_filled FROM lineitem GROUP BY 1""",
    "s_runlengths" ->
      """SELECT l_orderkey AS o_orderkey, CAST(sum(CASE WHEN prev IS NULL OR prev <> l_returnflag THEN 1 ELSE 0 END) AS BIGINT) AS n_runs FROM (SELECT l_orderkey, l_returnflag, lag(l_returnflag) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity, l_extendedprice, l_discount, l_returnflag) AS prev FROM lineitem) t GROUP BY 1""",
    "s_where_mask" ->
      """SELECT l_orderkey AS o_orderkey, CAST(count(*) FILTER (WHERE l_quantity >= 5) AS BIGINT) AS n_kept, CAST(count(*) FILTER (WHERE l_quantity < 5) AS BIGINT) AS n_masked, round(sum(CASE WHEN l_quantity > 25 THEN l_quantity ELSE 0 END),2) AS sum_big FROM lineitem GROUP BY 1""",
    "s_zip" ->
      """SELECT l_orderkey AS o_orderkey, round(sum(l_quantity*l_extendedprice),2) AS dot FROM lineitem GROUP BY 1""",
    "s_slice_gather" ->
      """SELECT l_orderkey AS o_orderkey, round(coalesce(sum(l_quantity) FILTER (WHERE rn IN (2,3)), 0),2) AS mid_sum, round(max(l_quantity) FILTER (WHERE rn = n),2) AS last_qty FROM (SELECT l_orderkey, l_quantity, row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity, l_extendedprice, l_discount, l_returnflag) AS rn, count(*) OVER (PARTITION BY l_orderkey) AS n FROM lineitem) t GROUP BY 1""",
    "s_unflatten" ->
      """SELECT l_orderkey AS o_orderkey, (count(*)+1)//2 AS n_groups, round(sum(l_quantity),2) AS sum_regrouped FROM lineitem GROUP BY 1""",
    "s_concat0" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity),2) AS sum_qty FROM (SELECT * FROM lineitem WHERE l_quantity <= 10 UNION ALL SELECT * FROM lineitem WHERE l_quantity >= 45) t GROUP BY 1""",
    "s_concat1" ->
      """SELECT l_orderkey AS o_orderkey, count(*) AS n_total, round(sum(l_quantity),2) AS sum_total FROM lineitem GROUP BY 1""",
    "s_astype" ->
      """SELECT l_orderkey AS o_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_int FROM lineitem GROUP BY 1""",
    "s_ravel" ->
      """SELECT l_orderkey AS o_orderkey, count(*) AS n_ravel, CAST(count(*) FILTER (WHERE l_returnflag='A') AS VARCHAR) || ',' || CAST(count(*) FILTER (WHERE l_returnflag='N') AS VARCHAR) || ',' || CAST(count(*) FILTER (WHERE l_returnflag='R') AS VARCHAR) AS counts, round(sum(l_quantity),2) AS sum_qty FROM lineitem GROUP BY 1""",
    "s_broadcast" ->
      """SELECT l_orderkey AS o_orderkey, round(sum(l_quantity) + count(*)*count(*), 2) AS sum_shifted FROM lineitem GROUP BY 1""",
    "s_with_field" ->
      s"""SELECT l_orderkey AS o_orderkey, ${Oracles.moneySql("l_extendedprice*(1-l_discount)")} AS sum_net FROM lineitem GROUP BY 1""")
}
