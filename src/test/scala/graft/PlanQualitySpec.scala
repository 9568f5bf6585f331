package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Plan-shape assertions: the queries must not just be correct at sf0.01 —
  * their physical plans must be the ones that survive 100 TB. Guards the
  * properties the perf work established so a refactor can't silently
  * reintroduce a cartesian product or lose pushdown/broadcast.
  */
class PlanQualitySpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("no query plans a CartesianProduct or nested-loop join") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan =
        try fn(spark, dir).queryExecution.executedPlan.toString
        catch { case e: Throwable => fail(s"$name failed to plan: $e") }
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$plan")
      // every join in the suite has an equi key (blocking labels, band
      // keys, ids) — a nested-loop join appearing means a key got lost.
      // Exceptions: IVF cell assignment intentionally broadcast-crosses
      // the corpus with the nCells-row centroid table (score-all-then-
      // argmax), and brute-force top-k crosses the corpus with the tiny
      // broadcast query set — the documented exact-scan baselines. A
      // small-broadcast nested loop IS the right plan there.
      // (sim_pq: the ADC pass broadcast-crosses the tiny query-table set
      // against the COMPRESSED corpus — that scan is the design)
      // (d_semdedup: k-means training + cell assignment broadcast-cross
      // the corpus with the k-row centroid table, same as sim_kmeans)
      // (t_bm25: the 1-ROW corpus-stats aggregate enters scoring as a
      // broadcast cross — the oracle's scalar subquery in plan form)
      // (sim_mmr: candidate generation IS bruteForceTopK — the same tiny
      // broadcast-query-set cross as sim_topk; the greedy itself is a
      // bounded keyed MapGroups, no cross)
      // (sim_sq8: the 1-ROW range-stats frame broadcast-crosses into the
      // encode/dequantize passes, and the tiny query set crosses the
      // compressed corpus — both the sim_topk/t_bm25 shapes)
      // (t_ppl / t_tfidf: the 1-ROW corpus token-total / cardinality
      // aggregates ride the plan as broadcast crosses since round 8 —
      // previously driver actions, now the oracle's scalar subqueries in
      // plan form)
      // (q_pagerank: the 1-ROW dangling-mass and node-count aggregates
      // ride every iteration as broadcast crosses — scalar subqueries in
      // plan form, the t_bm25 shape)
      // (sim_rrf: the dense leg IS bruteForceTopK — the sim_topk tiny
      // broadcast-query-set cross)
      // (d_lsh_quality / sim_recall: 1-ROW count aggregates cross-joined
      // into the report row — scalar subqueries in plan form)
      val crossByDesign = Set("sim_ivf", "sim_kmeans", "sim_topk", "sim_pq",
        "d_semdedup", "t_bm25", "sim_mmr", "sim_sq8", "t_ppl", "t_tfidf",
        "t_bigram", "t_nbayes", "q_pagerank", "sim_rrf", "sim_recall",
        "d_lsh_quality",
        // quantileNormalize/skewReport/rfmSegments ship 1-row stats
        // broadcasts (counts / corpus max ts) over bounded frames
        "t_qnorm", "q_skewreport", "ev_rfm",
        // kneserNeyDocScore ships the 1-row bigram-type count
        "t_kneser",
        // personalizedPageRank ships the 1-row (n_nodes × n_seeds)
        // counts broadcast into the static teleport frame
        "q_ppr",
        // ksDriftByPeriod's evaluation grid is periods × score-support
        // BY THE MATH (the sup must see every corpus jump point); both
        // sides are bounded domains, the support side broadcasts
        "ev_drift",
        // modularity ships the 1-row 2m total as a broadcast cross into
        // the label-cardinality report frame (the t_bm25 shape)
        "q_modularity",
        // the PPR-quality report crosses its two 1-ROW seed-share
        // aggregates into one report row (the d_lsh_quality shape); the
        // underlying rank chains inherit q_ppr/q_pagerank's allowances
        "q_ppr_quality",
        // the outer interval-join audit crosses the 1-ROW final-
        // watermark aggregate into the per-purchase frame (broadcast)
        "st_ijoin_outer")
      assert(crossByDesign(name) || !plan.contains("BroadcastNestedLoopJoin"),
        s"$name degrades to a nested-loop join:\n$plan")
    }
  }

  test("q5_join broadcasts the small dimension tables") {
    val plan = SparkEntry.queries("q5_join")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q6_filter pushes predicates into the parquet scan") {
    val pushed = graft.inspect.Inspect.pushedFilters(
      SparkEntry.queries("q6_filter")(spark, dir))
    assert(pushed.values.flatten.exists(f => f.contains(">=") || f.contains("<")),
      s"expected range predicates pushed to scan, got $pushed")
  }

  test("relational aggregates keep partial (map-side) aggregation") {
    val plan = SparkEntry.queries("q1_agg")(spark, dir)
      .queryExecution.executedPlan.toString
    // partial + final pair: two HashAggregate nodes around the exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(2000))
  }

  test("shuffle budget: nested structure queries shuffle exactly once") {
    // the ragged fixture costs one groupBy exchange; the row-local nested
    // operator must add zero more
    for (name <- Seq("s_num", "s_sort", "s_comb_n", "r_axis1")) {
      val s = graft.inspect.Inspect.explainSummary(
        SparkEntry.queries(name)(spark, dir))
      assert(s.exchanges <= 1, s"$name shuffles ${s.exchanges}x: $s")
    }
  }

  test("list kernels: no interpreted fold, filter or predicate HOF in the ragged reducers") {
    // aggregate/filter/exists/forall are CodegenFallback: each list
    // element interprets a lambda. The query text of these three holds
    // none, so any such node comes from the reducer/structure library.
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayExists,
      ArrayFilter, ArrayForAll}
    for (name <- Seq("r_axis1", "r_softmax", "s_unflatten")) {
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan
      val hofs = plan.flatMap(_.expressions.flatMap(_.collect {
        case e @ (_: ArrayAggregate | _: ArrayFilter | _: ArrayExists | _: ArrayForAll) =>
          e.nodeName
      }))
      assert(hofs.isEmpty, s"$name evaluates interpreted list HOFs: ${hofs.distinct}")
    }
  }

  test("multimodal decode stages are map-only: zero exchanges") {
    // decode/feature extraction is the classic CPU-heavy map stage — at
    // 100 TB it must scale linearly with executors, so a shuffle sneaking
    // into the pipeline (e.g. via a repartition or a non-local encode) is
    // a scale regression, not a style nit
    for (name <- Seq("mm_meta", "mm_features", "mm_frames", "mm_parse",
        "mm_pixels", "mm_audio")) {
      val s = graft.inspect.Inspect.explainSummary(
        SparkEntry.queries(name)(spark, dir))
      assert(s.exchanges == 0, s"$name shuffles ${s.exchanges}x: $s")
    }
  }

  test("native asof join plans AsofJoinExec with exactly two exchanges") {
    val df = SparkEntry.queries("ev_asof_native")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"), plan.take(2000))
    // one shuffle per side (key-clustering), then the merge is local; the
    // downstream per-user aggregate reuses the left clustering, so only the
    // final rollup may add one more
    val s = graft.inspect.Inspect.explainSummary(df)
    assert(s.exchanges <= 3, s"asof pipeline shuffles ${s.exchanges}x: $s")
  }

  test("nearest asof: both direction windows share one union shuffle") {
    // the nearest direction runs TWO window passes (asc + desc time sort)
    // over the same key partitioning — the plan must sort twice but
    // exchange the union only once (the second window reuses the
    // clustering), or the operator pays double shuffle at scale
    val df = graft.operators.AsofJoin.asofJoin(
      graft.core.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts")),
      graft.core.Tables.events(spark, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pval")),
      "user_id", "ts", Seq("pval"), "nearest")
    val plan = df.queryExecution.executedPlan.toString
    val windows = "Window ".r.findAllIn(plan).length
    assert(windows == 2, s"expected 2 window passes, got $windows:\n${plan.take(3000)}")
    // partitioning for the window union: exactly one hash exchange on
    // user_id feeding both windows (upstream agg exchanges are separate)
    val unionExchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(plan).length
    assert(unionExchanges <= 2,
      s"union clustering exchanged ${unionExchanges}x:\n${plan.take(3000)}")
  }

  test("bloom anti join: candidate branch joins, miss branch scans only") {
    val plan = SparkEntry.queries("q_bloom_anti")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain") || plan.contains("BloomFilter"),
      s"bloom predicate missing from plan:\n${plan.take(2000)}")
  }

  test("explainSummary counts the plan shapes of a join query") {
    val s = graft.inspect.Inspect.explainSummary(
      SparkEntry.queries("q5_join")(spark, dir))
    assert(s.scans >= 2 && s.broadcastJoins >= 1, s.toString)
  }

  test("DSv2 source sustains a 2M-row generate+aggregate (scale smoke)") {
    val n = 2000000L
    val df = spark.read.format("graft.sources.EventsSource")
      .option("rows", n.toString).option("partitions", "16").load()
    import spark.implicits._
    val agg = df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("c"), sum(col("event_id")).as("s"))
      .agg(sum(col("c")), sum(col("s"))).as[(Long, Long)].head()
    assert(agg._1 == n)
    assert(agg._2 == n * (n - 1) / 2) // sum of 0..n-1: generation is exact
  }

  test("scale smoke: range join, heavy hitters, group top-k at 1M rows") {
    import spark.implicits._
    // range join: 1M points, 10k adjacent 100-wide intervals tiling the
    // domain => EXACTLY one match per point. A duplicate-producing bucket
    // bug or a quadratic plan both fail loudly here.
    val pts = spark.range(1000000).select($"id".as("pt"))
    val ivs = spark.range(10000).select(($"id" * 100).as("lo"),
      ($"id" * 100 + 99).as("hi"))
    val joined = graft.operators.RangeJoin
      .pointInInterval(pts, ivs, "pt", "lo", "hi", bucketWidth = 100)
    assert(joined.count() == 1000000L)

    // heavy hitters: 1M rows, hot key = 30%, capacity far below the 10k
    // distinct tail — the hot key must survive with >= (true - N/(cap+1))
    val items = spark.range(1000000).select(
      when($"id" % 10 < 3, "hot").otherwise(concat(lit("t"), $"id" % 9973)).as("x"))
    val hh = graft.sketches.FrequentItems.frequentItems(items, "x", 64)
      .as[(String, Long)].collect().toMap
    assert(hh.contains("hot"))
    assert(hh("hot") <= 300000L && hh("hot") >= 300000L - 1000000L / 65)

    // bounded top-k: 100k groups x 10 rows, k=3 => exactly 300k rows and
    // per-group maxima are the arithmetic truth
    val grouped = spark.range(1000000).select(($"id" % 100000).as("g"), $"id".as("v"))
    val top = grouped.groupBy($"g")
      .agg(graft.operators.GroupTopK.largestK($"v", 3).as("top"))
      .select($"g", explode($"top").as("v"))
    assert(top.count() == 300000L)
    val g0 = top.filter($"g" === 0).select($"v").as[Long].collect().toSet
    assert(g0 == Set(900000L, 800000L, 700000L))

    // prefix scan: 1M rows of constant token count — closed-form ordinals
    // verify the bucket decomposition end-to-end at scale (last row's
    // start = (n-1)*5, seq = floor((n-1)*5/2048))
    val corpus = spark.range(1000000).select($"id".as("doc_id"), lit(5L).as("nt"))
    val packed = graft.text.packSequences(corpus, "doc_id", "nt", 2048)
    assert(packed.count() == 1000000L)
    val lastRow = packed.filter($"doc_id" === 999999L)
      .select($"start_tok", $"seq_id").as[(Long, Long)].head()
    assert(lastRow == ((4999995L, 4999995L / 2048)))
    assert(packed.agg(sum($"n_tok")).as[Long].head() == 5000000L)
  }

  test("salted ragged build is bit-identical on a 200k-row hot key") {
    // the aggregate-side skew mitigation at fixture scale: 80% of rows on
    // one key must pre-pack across salt cells and still merge to exactly
    // the sorted array the unsalted build produces
    import spark.implicits._
    val df = spark.range(250000).select(
      when($"id" < 200000, lit(7L)).otherwise($"id" % 50 + 100).as("k"),
      struct(($"id" * 31 % 9973).as("a"), $"id".as("b")).as("s"))
    val salted = graft.core.Skew.saltedCollectSortedList(
      df, "k", $"s", "xs", salts = 16, saltCols = Seq($"s.b"))
    val plain = df.groupBy($"k").agg(sort_array(collect_list($"s")).as("xs"))
    val j = salted.as("l").join(plain.as("r"), $"l.k" === $"r.k")
      .select($"l.k", ($"l.xs" === $"r.xs").as("eq"), size($"l.xs").as("n"))
      .as[(Long, Boolean, Int)].collect()
    assert(j.length == 51 && j.forall(_._2), j.filterNot(_._2).take(3).mkString(","))
    assert(j.find(_._1 == 7L).get._3 == 200000)
  }

  test("partitionBy layout prunes directories at the scan") {
    // the 100 TB table-layout contract: a write partitioned by a low-
    // cardinality filter column turns that filter into directory pruning —
    // the scan must list ONE partition directory, not read-and-discard
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_pp").toString
    graft.core.Tables.events(spark, dir).write.partitionBy("event_type")
      .mode("overwrite").parquet(d)
    val q = spark.read.parquet(d).filter(col("event_type") === "purchase")
      .agg(count(lit(1)).as("n"))
    val exact = graft.core.Tables.events(spark, dir)
      .filter($"event_type" === "purchase").count()
    assert(q.collect().head.getLong(0) == exact)
    def leafScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        // adaptive roots and materialized query stages are leaf nodes that
        // hide their subtrees — unwrap both
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          leafScans(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          leafScans(s.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      }.flatten
    val scan = leafScans(q.queryExecution.executedPlan)
      .headOption.getOrElse(fail("no file scan in plan"))
    assert(scan.toString.contains("PartitionFilters"), scan.toString.take(1500))
    // the metric proves pruning happened at listing time: only the purchase
    // directory's files were read, out of 5 event_type directories
    val purchaseFiles = new java.io.File(s"$d/event_type=purchase")
      .listFiles().count(_.getName.endsWith(".parquet")).toLong
    val allFiles = new java.io.File(d).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet")).toLong
    assert(scan.metrics("numFiles").value == purchaseFiles,
      s"scanned ${scan.metrics("numFiles").value} files, expected $purchaseFiles of $allFiles")
    assert(allFiles > purchaseFiles, "fixture must have multiple partitions")
  }

  test("AQE splits a skewed shuffle-join partition at runtime") {
    // one hot key carrying 200k rows vs 4-row cold keys: with the skew
    // thresholds scaled down to the fixture, AQE must replan the sort-merge
    // join's hot partition into parallel splits (the runtime answer to data
    // skew this engine relies on at 100 TB — salting is reserved for
    // aggregates, which AQE does not split).
    import spark.implicits._
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val fact = spark.range(200000).select(lit(0L).as("k"), $"id".as("v"))
        .unionAll(spark.range(400).select(($"id" % 100 + 1).as("k"), $"id".as("v")))
      val dim = spark.range(101).select($"id".as("dk"), ($"id" * 2).as("dv"))
      val joined = fact.join(dim, $"k" === $"dk")
      // execute THIS frame (count() would plan a separate query and leave
      // joined's adaptive plan unfinalized)
      assert(joined.toLocalIterator().asScala.length == 200400) // every key matches one dim row
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skewed"),
        s"AQE did not mark/split the skewed partition:\n${plan.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("d_ngram's (id, nsh) joins carry no forced broadcast hint") {
    // The per-document (id, nsh) frame is corpus-sized (one row per doc):
    // a broadcast() hint there would override the size threshold and OOM at
    // billions of documents. Pin both sides of the conditional:
    // (a) with broadcasts disabled at planner AND AQE level, the whole
    //     pipeline plans with zero broadcast joins — proof no hint forces one;
    // (b) at defaults on the small fixture, the finalized adaptive plan DOES
    //     broadcast the small side — proof dropping the hint cost nothing
    //     where a broadcast is right.
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      keys.foreach(conf.set(_, "-1"))
      val plan = SparkEntry.queries("d_ngram")(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
        s"a broadcast survives threshold=-1 — a forced hint is back:\n${plan.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
    val df = SparkEntry.queries("d_ngram")(spark, dir)
    df.toLocalIterator().asScala.length // finalize the adaptive plan
    val fin = df.queryExecution.executedPlan.toString
    assert(fin.contains("BroadcastHashJoin"),
      s"small-corpus plan lost its broadcast after dropping the hint:\n${fin.take(3000)}")
  }

  test("simhash adaptive pair plan: brute below the crossover, banded above") {
    // The graded d_simhash_pairs runs simhashPairsAdaptive: a max-block-
    // size probe picks blocked all-pairs below ~10^5 docs/block (3x
    // faster there) and the Manku pigeonhole index above (the plan that
    // survives web scale). Pin the CHOICE on both sides by forcing the
    // threshold around the fixture's block sizes.
    val sigs = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), graft.dedup.simHash48(col("text")).as("sh"))
    // side 1: fixture blocks are far under the default threshold → brute
    // (a join on the block key, NO band explode)
    val small = graft.dedup.simhashPairsAdaptive(sigs, "doc_id", "sh", 6,
        blockCol = Some("lang"))
      .queryExecution.executedPlan.toString
    assert(!small.contains("Generate explode"),
      s"small blocks should take the all-pairs compare, not banding:\n${small.take(3000)}")
    // side 2: threshold 1 forces every block over it → the banded index
    // (band explode present, and no join keyed on the block ALONE — the
    // |block|² shape that dies at web scale)
    val banded = graft.dedup.simhashPairsAdaptive(sigs, "doc_id", "sh", 6,
        blockCol = Some("lang"), bandedThreshold = 1L)
      .queryExecution.executedPlan.toString
    assert(banded.contains("Generate explode"),
      s"no band explode — candidate generation is not the banded index:\n${banded.take(3000)}")
    val blockOnlyJoin = """Join \[(?:blk|lang)#\d+\], \[(?:blk|lang)#\d+\]""".r
    assert(blockOnlyJoin.findFirstIn(banded).isEmpty,
      s"a join keyed on the block alone — the |block|² plan is back:\n${banded.take(3000)}")
  }

  test("st_dedup: one exchange, map-side partial aggregation") {
    val plan = SparkEntry.queries("st_dedup")(spark, dir)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n${plan.take(2000)}")
    assert(plan.contains("partial_count") || plan.contains("partial_min"),
      s"no map-side combine — every duplicate row crosses the wire:\n${plan.take(2000)}")
  }

  test("t_chunk: chunking is one shuffle-free generate inside codegen") {
    val plan = SparkEntry.queries("t_chunk")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"chunking must be map-only — a shuffle here scans the corpus " +
        s"twice at 100 TB:\n${plan.take(2000)}")
    assert(plan.contains("Generate explode"),
      s"expected a generator for the chunk windows:\n${plan.take(2000)}")
  }

  test("t_quality computes each text pass once (staged counts projection)") {
    // the 5 quality signals share primitive counts via the textCounts
    // struct; before this shape the query re-ran regexp_count/split ~10x
    // per document (it was the bench's #2 query). The pin: ONE regex
    // pass per distinct pattern and ONE whitespace split in the
    // OPTIMIZED plan — i.e. CollapseProject did NOT inline the counts
    // into every consumer. If this fails, the staged projections in
    // TextQueries."t_quality" got collapsed or bypassed.
    val qe = SparkEntry.queries("t_quality")(spark, dir).queryExecution
    val opt = qe.optimizedPlan.toString
    def occurrences(s: String, sub: String): Int =
      s.sliding(sub.length).count(_ == sub)
    // regexp_count lowers to size(regexp_extract_all(...)) — one per pattern
    assert(occurrences(opt, "regexp_extract_all") == 2,
      s"expected exactly 2 regex passes (punct + alpha), plan:\n${opt.take(3000)}")
    assert(occurrences(opt, "split(trim(") == 1,
      s"expected exactly 1 whitespace tokenization, plan:\n${opt.take(3000)}")
    // still map-only and column-pruned to the two columns it needs
    val exec = qe.executedPlan.toString
    assert(!exec.contains("Exchange"), s"quality scoring must not shuffle")
    assert(exec.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to (doc_id, text):\n${exec.take(2000)}")
  }

  test("t_bpe_seg: segmentation after training is a map-only projection") {
    // training collects its bounded rule table eagerly; the returned
    // segmentation frame itself must plan zero exchanges — the 12-replace
    // fold is one codegen'd projection over the scan
    val plan = SparkEntry.queries("t_bpe_seg")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"segmentation must not shuffle:\n${plan.take(2000)}")
    assert(plan.contains("*(1)"), // whole-stage-codegen stage marker
      s"replace fold fell out of codegen:\n${plan.take(2000)}")
  }

  test("t_dsir: weight table broadcasts; exactly 3 corpus scans") {
    val df = SparkEntry.queries("t_dsir")(spark, dir)
    df.collect() // AQE final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the nBuckets-row weight table must broadcast onto the feature " +
        s"stream — a shuffle join here reshuffles the corpus:\n${plan.take(3000)}")
    // rc pass + tc pass + scoring pass. The totals must NOT add scans:
    // they are window sums over the bounded weight table (the 1-row
    // aggregate cross-join alternative measured 5 scans — AQE does not
    // exchange-reuse it against the rc/tc shuffles). Count only the AQE
    // final-plan section: toString repeats the initial plan below it.
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val scans = "FileScan parquet".r.findAllIn(finalPlan).length
    assert(scans == 3,
      s"expected 3 corpus scans, got $scans:\n${finalPlan.take(3000)}")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"unexpected cross:\n${plan.take(3000)}")
  }

  test("t_bm25: tf shuffle is computed once and reused; queries broadcast") {
    val df = SparkEntry.queries("t_bm25")(spark, dir)
    df.collect() // materialize so AQE's final plan (with reuse) is visible
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"tf exchange not shared between the dfreq and scoring branches — " +
        s"the corpus is tokenized and shuffled twice:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"query terms did not enter as a broadcast — the corpus-sized tf " +
        s"side reshuffles for scoring:\n${plan.take(3000)}")
    assert(plan.contains("collect_top_k") || plan.contains("collecttopk"),
      s"per-query top-k is not the bounded heap:\n${plan.take(3000)}")
  }

  test("manifest skipping scans strictly fewer files; answers unchanged") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_skipplan").toString + "/li"
    graft.io.GraftIO.toParquetWithMetadata(
      graft.core.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity"))
        .repartitionByRange(8, col("l_orderkey")),
      tmp)
    def files(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f.relation.location.inputFiles.length.toLong
      }.sum
    val full = spark.read.parquet(tmp)
    // lineitem orderkeys span ~1..6000 at sf0.001: [1000, 1500] sits in
    // a strict subset of the 8 range-partitioned files
    val skip = graft.io.GraftIO
      .fromParquetSkipping(spark, tmp, "l_orderkey", 1000L, 1500L, "bigint")
    assert(files(full) == 8L, s"expected 8 data files, saw ${files(full)}")
    assert(files(skip) < 8L && files(skip) > 0L,
      s"manifest pruning ineffective: ${files(skip)} of 8 files in the scan")
    // pruning must be invisible to the answer
    val a = full.filter(col("l_orderkey").between(1000L, 1500L))
      .agg(count(lit(1)), sum(col("l_quantity"))).collect().toSeq
    val b = skip.filter(col("l_orderkey").between(1000L, 1500L))
      .agg(count(lit(1)), sum(col("l_quantity"))).collect().toSeq
    assert(a == b, s"skipping changed the answer: $a vs $b")
  }

  test("Z-order + multi-predicate manifest skipping prunes on BOTH dimensions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_zskip").toString + "/li"
    // Z-order gives l_orderkey AND l_partkey locality per file; a
    // single-column sort could only serve one of them
    graft.io.GraftIO.writeZOrdered(
      graft.core.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity")),
      tmp, Seq("l_orderkey", "l_partkey"), numFiles = 16)
    graft.io.GraftIO.writeManifest(spark, tmp)
    def files(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f.relation.location.inputFiles.length.toLong
      }.sum
    val full = spark.read.parquet(tmp)
    val one = graft.io.GraftIO.fromParquetSkippingMulti(spark, tmp,
      Seq(("l_orderkey", 1000L, 2500L, "bigint")))
    val two = graft.io.GraftIO.fromParquetSkippingMulti(spark, tmp,
      Seq(("l_orderkey", 1000L, 2500L, "bigint"),
        ("l_partkey", 1L, 60L, "bigint")))
    assert(files(full) == 16L, s"expected 16 data files, saw ${files(full)}")
    assert(files(one) < 16L, s"1-D pruning ineffective: ${files(one)}")
    assert(files(two) < files(one),
      s"second predicate pruned nothing: ${files(two)} vs ${files(one)} — " +
        "Z-order locality is not reaching the manifest stats")
    val pred = col("l_orderkey").between(1000L, 2500L) &&
      col("l_partkey").between(1L, 60L)
    val a = full.filter(pred)
      .agg(count(lit(1)), sum(col("l_quantity"))).collect().toSeq
    val b = two.filter(pred)
      .agg(count(lit(1)), sum(col("l_quantity"))).collect().toSeq
    assert(a == b, s"skipping changed the answer: $a vs $b")
  }

  test("event analytics scan the corpus exactly once") {
    // funnel / retention / transitions are single-pass by design: one
    // per-entity build (ragged fold, min+collect_set pair, window lead)
    // feeds bounded-frame post-aggregation. A second parquet scan
    // appearing means a subtree diverged and the corpus pays twice.
    // t_prcurve joins the same list: one corpus aggregate collapses to
    // the distinct-score frame, everything after runs on that frame —
    // ev_islands / ev_decompose / ev_mase / ev_chisq are single-pass
    // window/aggregate chains over one collapse of the corpus
    // ev_drift lazily derives the (day, score) aggregate three times
    // (day totals, score totals, the grid probe) — all three subtrees
    // must collapse to one executed corpus read
    for (name <- Seq("ev_funnel", "ev_retention", "ev_transitions",
        "ev_paths", "ev_sessionize", "ev_funnel_sessions",
        "ev_funnel_times",
        "ev_islands", "ev_decompose", "ev_mase", "ev_chisq",
        "ev_drift", "ev_position", "ev_features")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val scans = "Scan parquet".r.findAllIn(plan).size
      assert(scans == 1,
        s"$name reads the corpus $scans times:\n${plan.take(3000)}")
    }
    // every caller of Partitions.runningSums materializes
    // (localCheckpoint) the range-tagged frame so the pid-offset join's
    // partitioning premise is physical, not ReuseExchange-dependent:
    // the corpus scan feeding the scan happens in the materialization
    // job (a single linear scan->aggregate->exchange lineage with
    // nothing to diverge), and the FINAL plan must read the
    // checkpointed RDD — a parquet scan beyond the query's own (t_qnorm
    // counts N on the corpus, str_categorical joins the codes back onto
    // it) means a subtree escaped the materialization and the corpus
    // pays twice.
    for ((name, ownScans) <- Seq("t_auc" -> 0, "t_ks" -> 0, "t_gini" -> 0,
        "t_prcurve" -> 0, "t_pack" -> 0, "t_qnorm" -> 1, "r_quantiles_grp" -> 0,
        "str_categorical" -> 1)) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val scans = "Scan parquet".r.findAllIn(plan).size
      assert(scans == ownScans,
        s"$name re-reads the corpus past the checkpoint ($scans scans):\n${plan.take(3000)}")
      assert(plan.contains("Scan ExistingRDD") || plan.contains("LogicalRDD"),
        s"$name: checkpointed frame missing from the plan:\n${plan.take(3000)}")
    }
  }

  test("ev_seqsim: ragged sequence build runs ONCE, shared by every branch") {
    // the r7 plan rebuilt the collect_list subtree up to 6x (projection
    // divergence defeated ReuseExchange); the r8 shape makes (uid, nsh,
    // g) GROUPING KEYS of one canonical frame plus a uniform isnotnull
    // prefilter, so the df-cap branch and both self-join sides reuse one
    // exchange. Exactly one partial_collect_list may appear in the final
    // adaptive plan; the other consumers must be ReusedExchange.
    for (name <- Seq("ev_seqsim", "ev_seqsim_banded")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // AQE final plan is where stage reuse is visible
      // count inside the FINAL adaptive plan only — the toString also
      // prints the pre-reuse "Initial Plan" section, which legitimately
      // repeats the subtree
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val builds = "partial_collect_list".r.findAllIn(plan).size
      assert(builds == 1,
        s"$name: ragged build duplicated ($builds partial_collect_list):\n${plan.take(3000)}")
      assert(plan.contains("ReusedExchange"),
        s"$name: no ReusedExchange — consumers rebuilt the sequence frame:\n${plan.take(3000)}")
    }
  }

  test("q_topk_group aggregates with a map-side bounded heap, no window sort") {
    val plan = SparkEntry.queries("q_topk_group")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_collecttopk") || plan.contains("partial_collect_top_k"),
      s"no map-side partial top-k:\n${plan.take(2000)}")
    assert(!plan.contains("Window"), s"fell back to a window sort:\n${plan.take(2000)}")
  }

  test("q_linkpred_prec aggregates wedge pairs where the edges sit, ranks with bounded heaps") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import graft.operators.{Graph, LinkPredict}
    def finalPlan(df: org.apache.spark.sql.DataFrame): SparkPlan = {
      df.collect() // the final adaptive plan
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
        case p => p
      }
    }
    // the graded graph fits the table gate: one kernel ranks each query,
    // so no wedge column reaches the plan
    val graded = finalPlan(SparkEntry.queries("q_linkpred_prec")(spark, dir)).toString
    assert(graded.contains("link_rank") && !graded.contains("cw#"),
      s"the graded query does not rank in the kernel:\n${graded.take(3000)}")
    // the same train graph and query set with the table gate closed: the
    // broadcast-adjacency plan
    val all = Graph.coOccurrence(graft.core.Tables.lineitem(spark, dir), "l_orderkey", "l_partkey")
    val hold = expr("pmod(least(src, dst) * 31 + greatest(src, dst), 13) = 0")
    val queries = all.edges.filter(hold && col("src") < col("dst"))
      .select(col("src").as("node")).distinct().filter(col("node") % 7 === 0)
    val root = finalPlan(LinkPredict.rankForQueries(all.filter(!hold), queries, 10,
      hubCap = 0, adjBudgetBytes = graft.core.Broadcasts.defaultBudgetBytes, tableBudgetBytes = 0L))
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case s: QueryStageExec => nodes(s.plan)
      case _ => p.children.flatMap(nodes)
    })
    val text = root.toString
    val pairAgg = nodes(root).collectFirst {
      case h: HashAggregateExec if h.groupingExpressions.map(_.name) == Seq("u", "v") => h
    }.getOrElse(fail(s"no (u, v) pair aggregate:\n${text.take(3000)}"))
    // from the final pair aggregate down to the wedge join: one task
    var n: SparkPlan = pairAgg
    while (!n.isInstanceOf[BroadcastHashJoinExec]) {
      assert(!n.isInstanceOf[Exchange] && !n.isInstanceOf[QueryStageExec],
        s"the wedge pairs shuffle before their aggregate:\n${text.take(3000)}")
      assert(n.children.nonEmpty, s"no broadcast wedge join under the pair aggregate:\n${text.take(3000)}")
      n = n.children.head
    }
    assert(n.asInstanceOf[BroadcastHashJoinExec].leftKeys.map(_.toString)
      .exists(_.startsWith("cw")), s"not the wedge join: $n")
    assert(!text.contains("Window"), s"ranks with a window sort:\n${text.take(3000)}")
    assert(text.contains("partial_collect_top_k") || text.contains("partial_collecttopk"),
      s"no map-side partial top-k:\n${text.take(3000)}")
  }

  test("RangeJoinRewrite turns bare BETWEEN joins into hash joins") {
    import spark.implicits._
    val ev = graft.core.Tables.events(spark, dir)
    val pts = ev.select($"event_id", $"ts")
    val ivs = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("pid"),
        ($"ts" - expr("INTERVAL 7 MINUTES")).as("lo"),
        ($"ts" + expr("INTERVAL 3 MINUTES")).as("hi"))
    def weak = pts.join(ivs, $"ts" >= $"lo" && $"ts" <= $"hi")
    def strictFlipped = ivs.join(pts, $"ts" > $"lo" && $"ts" < $"hi")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"event_id", $"pid").as[(Long, Long)].collect()

    // rule dormant by default: the bare range join nested-loops
    val offPlan = weak.queryExecution.executedPlan.toString
    assert(offPlan.contains("BroadcastNestedLoopJoin") ||
      offPlan.contains("CartesianProduct"), offPlan.take(1500))
    val wantWeak = pairs(weak).toSet
    val wantStrict = pairs(strictFlipped).toSet
    assert(wantWeak.nonEmpty && wantStrict.subsetOf(wantWeak))

    val key = graft.plans.RangeJoinRewrite.WidthKey
    try {
      spark.conf.set(key, "300")
      for ((df, want, label) <- Seq(
          (weak, wantWeak, "weak"), (strictFlipped, wantStrict, "strict-flipped"))) {
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin") &&
          !plan.contains("CartesianProduct"),
          s"$label still nested-loops:\n${plan.take(1500)}")
        val got = pairs(df)
        assert(got.length == got.toSet.size, s"$label produced duplicates")
        assert(got.toSet == want, s"$label pair-set mismatch")
      }
      // joins that already have an equi key are left alone (no explode)
      val equi = pts.join(ivs, $"event_id" === $"pid" && $"ts" >= $"lo" && $"ts" <= $"hi")
      val equiPlan = equi.queryExecution.executedPlan.toString
      assert(!equiPlan.contains("Generate"), equiPlan.take(1500))
      // LEFT OUTER with points outer: rewritten, row-for-row identical
      // (unmatched points null-extend exactly once)
      val lo = pts.join(ivs, $"ts" >= $"lo" && $"ts" <= $"hi", "left")
      val loPlan = lo.queryExecution.executedPlan.toString
      assert(!loPlan.contains("BroadcastNestedLoopJoin"), loPlan.take(1500))
      val loGot = lo.select($"event_id", $"pid").as[(Long, Option[Long])].collect()
      spark.conf.unset(key)
      val loWant = pts.join(ivs, $"ts" >= $"lo" && $"ts" <= $"hi", "left")
        .select($"event_id", $"pid").as[(Long, Option[Long])].collect()
      assert(loGot.sorted.toSeq == loWant.sorted.toSeq)
      assert(loWant.exists(_._2.isEmpty), "fixture must have unmatched points")
      spark.conf.set(key, "300")
      // LEFT OUTER with the INTERVAL side outer: must NOT rewrite
      // (an exploded outer side would null-extend per bucket)
      val loBad = ivs.join(pts, $"ts" >= $"lo" && $"ts" <= $"hi", "left")
      assert(loBad.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
      // SEMI/ANTI with points probing: rewritten, exact row sets
      for (how <- Seq("left_semi", "left_anti")) {
        val df = pts.join(ivs, $"ts" >= $"lo" && $"ts" <= $"hi", how)
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$how still nested-loops:\n${plan.take(1200)}")
        val got = df.select($"event_id").as[Long].collect()
        spark.conf.unset(key)
        val want = pts.join(ivs, $"ts" >= $"lo" && $"ts" <= $"hi", how)
          .select($"event_id").as[Long].collect()
        spark.conf.set(key, "300")
        assert(got.length == got.toSet.size, s"$how duplicated rows")
        assert(got.toSet == want.toSet, s"$how row-set mismatch")
      }
    } finally spark.conf.unset(key)
  }

  test("RangeJoinRewrite: per-join width hints via column metadata") {
    import spark.implicits._
    // no global conf: each join carries its own width as column metadata
    val ptsN = Seq((1L, 5L), (2L, 17L), (3L, 50L), (4L, 999L)).toDF("id", "pt")
    val ivsN = Seq((10L, 4L, 6L), (11L, 15L, 55L)).toDF("iid", "lo", "hi")
    val ptsW = graft.operators.RangeJoin.withBucketWidthHint(ptsN, "pt", 7L)
    // a second, unrelated range join in the same session with a much wider
    // natural bucket
    val ptsB = Seq((1L, 1000L), (2L, 5000L)).toDF("id2", "pt2")
    val ivsB = Seq((20L, 900L, 1100L)).toDF("iid2", "lo2", "hi2")
    val ivsBW = graft.operators.RangeJoin.withBucketWidthHint(ivsB, "lo2", 500L)

    val j1 = ptsW.join(ivsN, $"pt" >= $"lo" && $"pt" <= $"hi")
    val j2 = ptsB.join(ivsBW, $"pt2" >= $"lo2" && $"pt2" <= $"hi2")
    for ((j, w, naive) <- Seq(
        (j1, 7L, ptsN.join(ivsN, $"pt" >= $"lo" && $"pt" <= $"hi")),
        (j2, 500L, ptsB.join(ivsB, $"pt2" >= $"lo2" && $"pt2" <= $"hi2")))) {
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"width-$w join still nested-loops:\n${plan.take(1200)}")
      // the bucket expression divides by THIS join's width
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains(s"/ $w.0"), s"width $w missing:\n${opt.take(1200)}")
      assert(j.collect().toSet == naive.collect().toSet)
    }
    // hint on one join must not leak into the other
    val opt2 = j2.queryExecution.optimizedPlan.toString
    assert(!opt2.contains("/ 7.0"), opt2.take(1200))
  }

  test("ev_range and ev_overlap bucket through RangeJoinRewrite") {
    // RangeJoin issues the bare inequality join with a width hint and the
    // rule does the bucketing: its bucket attributes are in the plan
    for (q <- Seq("ev_range", "ev_overlap")) {
      val opt = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
      assert(opt.flatMap(_.output).exists(_.name.startsWith("__graft_rj_")),
        s"$q was not bucketed by RangeJoinRewrite:\n${opt.toString.take(2000)}")
    }
  }

  test("ev_asof_bcast: one projection over the scan, no RDD, one exchange") {
    // the broadcast as-of is the AsofLookup kernel in a projection: no
    // round trip through an RDD, and the aggregate's exchange is the only
    // one — nothing below it shuffles the fact side
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    object H extends AdaptiveSparkPlanHelper
    val df = SparkEntry.queries("ev_asof_bcast")(spark, dir)
    df.collect() // AQE final plan
    val plan = df.queryExecution.executedPlan
    val text = plan.toString
    assert(H.collect(plan) { case r: RDDScanExec => r }.isEmpty &&
      !text.contains("ExistingRDD") && !text.contains("LogicalRDD"), text.take(3000))
    val exchanges = H.collect(plan) { case e: ShuffleExchangeLike => e }
    assert(exchanges.size == 1, text.take(3000))
    assert(H.collect(exchanges.head.child) { case a: HashAggregateExec => a }.nonEmpty,
      s"the one exchange is not the aggregate's:\n${text.take(3000)}")
  }

  test("RangeJoinRewrite: null points and null bounds match the naive join") {
    import spark.implicits._
    val pts = Seq((1L, Some(5L)), (2L, None), (3L, Some(50L)))
      .toDF("lid", "pt")
    val ivs = Seq(
      (10L, Some(0L), Some(10L)),   // matches pt=5
      (11L, None, Some(100L)),      // null lo: matches nothing
      (12L, Some(0L), None),        // null hi: matches nothing
      (13L, Some(40L), Some(60L)))  // matches pt=50
      .toDF("rid", "lo", "hi")
    val key = graft.plans.RangeJoinRewrite.WidthKey
    def runAll() = {
      val inner = pts.join(ivs, $"pt" >= $"lo" && $"pt" <= $"hi")
        .select($"lid", $"rid").as[(Long, Long)].collect().toSet
      val left = pts.join(ivs, $"pt" >= $"lo" && $"pt" <= $"hi", "left")
        .select($"lid", $"rid").as[(Long, Option[Long])].collect()
        .sorted.toSeq
      (inner, left)
    }
    val (wantInner, wantLeft) = runAll()
    try {
      spark.conf.set(key, "7")
      val (gotInner, gotLeft) = runAll()
      assert(gotInner == wantInner && gotInner == Set((1L, 10L), (3L, 13L)))
      assert(gotLeft == wantLeft)
      // null point must survive the left-outer exactly once
      assert(gotLeft.count(_._1 == 2L) == 1 && gotLeft.find(_._1 == 2L).get._2.isEmpty)
    } finally spark.conf.unset(key)
  }

  test("RangeJoinRewrite: bare overlap joins hash-join, exact incl. degenerates") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    // random intervals incl. degenerate lo>hi and nulls on both sides
    def ivs(n: Int, idBase: Long) = (0 until n).map { i =>
      val lo = rnd.nextInt(200).toLong - 20
      val span = rnd.nextInt(40).toLong - 10 // negative => degenerate
      (idBase + i,
        if (rnd.nextInt(12) == 0) None else Some(lo),
        if (rnd.nextInt(12) == 0) None else Some(lo + span))
    }
    val a = ivs(80, 0L).toDF("aid", "alo", "ahi")
    val b = ivs(60, 1000L).toDF("bid", "blo", "bhi")
    def runOverlap() = a.join(b, $"alo" <= $"bhi" && $"blo" <= $"ahi")
      .select($"aid", $"bid").as[(Long, Long)].collect()
    val want = runOverlap().toSet
    assert(want.size == runOverlap().length, "naive join emits unique pairs")
    val key = graft.plans.RangeJoinRewrite.WidthKey
    try {
      spark.conf.set(key, "16")
      val got = runOverlap()
      // exactly once per pair (the first-shared-bucket dedup), same set
      assert(got.length == got.toSet.size, "rewrite duplicated pairs")
      assert(got.toSet == want,
        s"missing=${(want -- got.toSet).take(5)} extra=${(got.toSet -- want).take(5)}")
      val plan = a.join(b, $"alo" <= $"bhi" && $"blo" <= $"ahi")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan.take(2000))
      // timestamp intervals exercise the Cast path (width unit = seconds)
      val at = a.select($"aid", timestamp_seconds($"alo").as("alo"),
        timestamp_seconds($"ahi").as("ahi"))
      val bt = b.select($"bid", timestamp_seconds($"blo").as("blo"),
        timestamp_seconds($"bhi").as("bhi"))
      val gotT = at.join(bt, $"alo" <= $"bhi" && $"blo" <= $"ahi")
        .select($"aid", $"bid").as[(Long, Long)].collect()
      assert(gotT.toSet == want && gotT.length == want.size)
    } finally spark.conf.unset(key)
  }

  test("RangeJoinRewrite buckets DATE columns on days, results exact") {
    import spark.implicits._
    val evs = Seq((1L, "2024-01-05"), (2L, "2024-03-10"), (3L, "2023-12-31"))
      .toDF("eid", "d").select($"eid", to_date($"d").as("d"))
    val promos = Seq((10L, "2024-01-01", "2024-01-31"),
        (11L, "2024-03-01", "2024-03-31"))
      .toDF("pid", "lo", "hi")
      .select($"pid", to_date($"lo").as("lo"), to_date($"hi").as("hi"))
    def run() = evs.join(promos, $"d" >= $"lo" && $"d" <= $"hi")
      .select($"eid", $"pid").as[(Long, Long)].collect().toSet
    val want = run()
    val key = graft.plans.RangeJoinRewrite.WidthKey
    try {
      spark.conf.set(key, "7") // 7-day buckets
      assert(run() == want && want == Set((1L, 10L), (2L, 11L)))
      val plan = evs.join(promos, $"d" >= $"lo" && $"d" <= $"hi")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    } finally spark.conf.unset(key)
  }

  test("q_window_frames: every window function shares one exchange and sort") {
    val plan = SparkEntry.queries("q_window_frames")(spark, dir)
      .queryExecution.executedPlan.toString
    // lag/lead/rank/ntile/running-sum may split across Window nodes by
    // frame, but the shared partitioning+ordering must plan exactly one
    // shuffle and one sort — a second of either means a spec mismatch
    // multiplied corpus-wide at scale
    assert("Exchange".r.findAllIn(plan).size == 1, plan.take(3000))
    assert("\\+- Sort ".r.findAllIn(plan).size == 1, plan.take(3000))
  }

  test("packSequences: corpus window is bucket-partitioned, offsets broadcast") {
    val d = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), graft.text.countTokensWs(col("text")).cast("long").as("nt"))
    val plan = graft.text.packSequences(d, "doc_id", "nt", 2048)
      .queryExecution.executedPlan.toString
    // the corpus-sized window must carry a partition key (the range
    // partition id of Partitions.runningSums); a Window with an empty
    // partition spec over the corpus side would funnel 100 TB through
    // one task. The one global window runs on the one-row-per-partition
    // aggregate, below the broadcast exchange.
    val windowSpecs = "Window \\[".r.findAllIn(plan).size
    assert(windowSpecs == 2, s"expected 2 Window nodes:\n${plan.take(3000)}")
    assert(plan.contains("windowspecdefinition(__pid"),
      s"corpus window lost its range partition key:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-partition offsets should broadcast:\n${plan.take(3000)}")
  }

  test("dedupSpans: inverted-index joins only, no cartesian, sorted rebuild") {
    val docs = graft.core.Tables.documents(spark, dir)
    val plan = graft.text.dedupSpans(docs, "doc_id", "text", w = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // survivor rebuild is one partial-aggregated sort_array(collect_list),
    // not a per-doc window sort
    assert(!plan.contains("RunningWindowFunction"), plan.take(3000))
  }

  test("flagship entry: top-k via TakeOrderedAndProject, partial collect") {
    val plan = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    // limit+orderBy must plan as a bounded top-k, not a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    // nested-fixture build does map-side partial collect before the shuffle
    assert(plan.contains("partial_collect_list"), plan.take(2000))
  }

  test("ensureMinParallelism: shuffles a narrow plan, leaves a wide one alone") {
    // The serial-stage protection for the dedup explode pipelines: a
    // 1-partition input (files < cores) must gain a full-width shuffle...
    val parts = spark.sessionState.conf.numShufflePartitions
    val narrow = spark.range(1000).toDF("id").coalesce(1)
    assert(graft.core.Partitions.ensureMinParallelism(narrow, col("id"))
      .rdd.getNumPartitions == parts)
    // ...but an already-parallel input (any real corpus scan) must pass
    // through UNCHANGED — the unconditional repartition this replaced paid
    // a full extra shuffle (2.5x on d_ngram) for nothing
    val wide = spark.range(1000).toDF("id").repartition(parts + 5)
    val same = graft.core.Partitions.ensureMinParallelism(wide, col("id"))
    assert(same.queryExecution.executedPlan.toString ==
      wide.queryExecution.executedPlan.toString)
  }

  test("shuffle-fingerprint lockfile: executed shuffle volume of heavy queries") {
    // docs/SHUFFLE_FINGERPRINTS.json locks (write records, read records)
    // from a REAL noop-write run of the ~20 heaviest queries — the
    // runtime property the lazy plan lockfile cannot see: ReuseExchange /
    // checkpoint collapse (q_pagerank plans the edges subtree once per
    // round but WRITES its exchange once; a one-byte subtree divergence
    // would keep the lazy fingerprint identical while multiplying the
    // shuffle write volume). Tolerance bands: write ±20% (measured
    // byte-stable across runs), read ±35% (reused-exchange read
    // multiplicity wobbles with stage scheduling), and zero stays zero.
    // If a change is INTENDED, regenerate and review the diff:
    //   sbt "runMain graft.tools.ShuffleFingerprints"
    import graft.tools.ShuffleFingerprints
    val p = java.nio.file.Paths.get(ShuffleFingerprints.file)
    assume(java.nio.file.Files.exists(p), s"no lockfile at $p")
    val stored = ShuffleFingerprints.parse(java.nio.file.Files.readString(p))
    val current = ShuffleFingerprints.compute(spark, dir).toMap
    // the gate is a REGRESSION net: only an INCREASE past tolerance
    // fails (a lost broadcast, a diverged subtree). A decrease past
    // tolerance is logged, not failed — measured once under a loaded
    // box (q_linkpred write 47274 -> 29476 records in a full-suite run,
    // lockfile-exact solo): AQE's runtime join/coalesce choices can
    // legitimately shrink executed volume under different scheduling,
    // and "shuffled less than locked" is not a performance bug
    def off(cur: Long, st: Long, tol: Double): Boolean =
      if (st == 0L) cur != 0L
      else cur - st > tol * st
    stored.keySet.intersect(current.keySet).toSeq.sorted.foreach { q =>
      val (sw, sr) = stored(q); val (cw, cr) = current(q)
      if ((sw - cw) > 0.20 * sw || (sr - cr) > 0.35 * sr)
        info(s"$q shuffled LESS than the lockfile (write $sw -> $cw, " +
          s"read $sr -> $cr) — consider regenerating")
    }
    val drifted = stored.keySet.intersect(current.keySet).toSeq.sorted.flatMap { q =>
      val (sw, sr) = stored(q); val (cw, cr) = current(q)
      val bad = (if (off(cw, sw, 0.20)) Seq(s"write $sw -> $cw") else Nil) ++
        (if (off(cr, sr, 0.35)) Seq(s"read $sr -> $cr") else Nil)
      if (bad.isEmpty) Nil else Seq(s"$q: ${bad.mkString(", ")} records")
    }
    assert(drifted.isEmpty,
      s"${drifted.size} heavy query(ies) moved shuffle volume — if " +
        s"intended, regenerate (runMain graft.tools.ShuffleFingerprints) " +
        s"and review:\n${drifted.mkString("\n")}")
    val missing = current.keySet -- stored.keySet
    val stale = stored.keySet -- current.keySet
    assert(missing.isEmpty && stale.isEmpty,
      s"lockfile out of sync (regenerate): missing=$missing stale=$stale")
  }

  test("plan-fingerprint lockfile: no graded query's plan shape drifted") {
    // docs/PLAN_FINGERPRINTS.json records every query's physical-plan
    // node counts (tools/PlanFingerprints; it and this suite both run on
    // SessionConfigs.local(4), so the configs match by construction). A
    // mismatch means a plan changed — a lost broadcast, a subtree
    // diverging into a second scan, a join falling to nested-loop. If
    // the change is INTENDED, regenerate the lockfile and review the
    // diff: sbt "runMain graft.tools.PlanFingerprints"
    import graft.tools.PlanFingerprints
    val p = java.nio.file.Paths.get(PlanFingerprints.file)
    assume(java.nio.file.Files.exists(p), s"no lockfile at $p")
    val stored = java.nio.file.Files.readString(p).linesIterator
      .flatMap { l =>
        """"([^"]+)": "([^"]+)"""".r.findFirstMatchIn(l)
          .map(m => m.group(1) -> m.group(2))
      }.toMap
    val current = PlanFingerprints.compute(spark, "/root/testdata/sf0.001").toMap
    val drifted = stored.keySet.intersect(current.keySet)
      .filter(k => stored(k) != current(k))
      .toSeq.sorted
      .map(k => s"$k: stored '${stored(k)}' vs current '${current(k)}'")
    assert(drifted.isEmpty,
      s"${drifted.size} plan(s) drifted — if intended, regenerate the " +
        s"lockfile (runMain graft.tools.PlanFingerprints) and review " +
        s"the diff:\n${drifted.mkString("\n")}")
    // new queries must not ship without a fingerprint
    val missing = current.keySet -- stored.keySet
    assert(missing.isEmpty,
      s"queries without a lockfile entry (regenerate): $missing")
    // and deleted/renamed queries must not leave stale entries behind —
    // symmetric to the missing-entry check, else the lockfile accretes
    // dead rows that shadow a future query reusing the name
    val stale = stored.keySet -- current.keySet
    assert(stale.isEmpty,
      s"lockfile entries for queries that no longer exist (regenerate): $stale")
  }

  test("steady-profile lockfile covers exactly the query set") {
    // docs/BENCH_STEADY.json is the committed idle per-query profile
    // Bench compares each run against (over-profile queries earn an
    // idle-wait + targeted re-run and an `over_profile` annotation in
    // the artifact — the r9 phantom-entry fix). VALUES are
    // hardware-dependent and regenerate with
    // SPARK_GRAFT_WRITE_PROFILE=1 runMain graft.Bench; this pins the
    // KEY SET symmetrically so a new query can't ship unprofiled and a
    // deleted one can't leave a dead row.
    val p = java.nio.file.Paths.get("docs/BENCH_STEADY.json")
    assume(java.nio.file.Files.exists(p), s"no profile at $p")
    val keys = """"([^"]+)"\s*:\s*[0-9.]+""".r
      .findAllMatchIn(java.nio.file.Files.readString(p))
      .map(_.group(1)).toSet
    val missing = SparkEntry.queries.keySet -- keys
    val stale = keys -- SparkEntry.queries.keySet
    assert(missing.isEmpty && stale.isEmpty,
      "steady profile out of sync (SPARK_GRAFT_WRITE_PROFILE=1 runMain " +
        s"graft.Bench): missing=$missing stale=$stale")
  }
}
