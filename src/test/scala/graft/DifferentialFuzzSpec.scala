package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.structure._
import graft.reducers._

/** Property-based differential tests: every structure/reducer operator must
  * agree with a plain-Scala reference implementation on arbitrary ragged
  * inputs (the reference repo's strategy of differential-testing against
  * eager awkward, with ScalaCheck generating the corpus; sampled directly
  * — the scalatest/scalacheck bridge isn't a dependency). */
class DifferentialFuzzSpec extends SparkSuite with CompiledLocalFrames {
  import spark.implicits._

  private val ragged: Gen[List[List[Double]]] =
    Gen.listOfN(8, Gen.choose(0, 6).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-50, 50).map(_.toDouble))))

  private def forAllSamples(n: Int = 12)(f: List[List[Double]] => Unit): Unit = {
    val seed = org.scalacheck.rng.Seed(42L)
    var s = seed
    var done = 0
    while (done < n) {
      ragged.apply(Gen.Parameters.default, s).foreach { rows => f(rows); done += 1 }
      s = s.next
    }
  }

  private def run[T: org.apache.spark.sql.Encoder](
      rows: List[List[Double]], c: org.apache.spark.sql.Column): Seq[T] =
    rows.toDF("xs").select(c).as[T].collect().toSeq

  test("sort/argsort/firsts/num agree with Scala on random ragged rows") {
    forAllSamples() { rows =>
      assert(run[Seq[Double]](rows, sortList($"xs")) == rows.map(_.sorted))
      assert(run[Seq[Int]](rows, argsortList($"xs")) ==
        rows.map(r => r.zipWithIndex.sortBy { case (v, i) => (v, i) }.map(_._2)))
      assert(run[Option[Double]](rows, firsts($"xs")) == rows.map(_.headOption))
      assert(run[Int](rows, num($"xs")) == rows.map(_.size))
    }
  }

  test("reducers agree with Scala folds") {
    forAllSamples() { rows =>
      assert(run[Double](rows, sumList($"xs")) == rows.map(_.sum))
      assert(run[Option[Double]](rows, minList($"xs")) ==
        rows.map(r => if (r.isEmpty) None else Some(r.min)))
      assert(run[Option[Double]](rows, maxList($"xs")) ==
        rows.map(r => if (r.isEmpty) None else Some(r.max)))
      assert(run[Int](rows, countList($"xs")) == rows.map(_.size))
      assert(run[Option[Long]](rows, argminList($"xs")) ==
        rows.map(r => if (r.isEmpty) None else Some(r.indexOf(r.min).toLong)))
    }
  }

  test("pad/fill/slice agree with Scala") {
    forAllSamples() { rows =>
      assert(run[Seq[Option[Double]]](rows, padNone($"xs", 4)) ==
        rows.map(r => r.map(Some(_)) ++ Seq.fill(math.max(0, 4 - r.size))(None)))
      assert(run[Seq[Double]](rows, fillNone(padNone($"xs", 4), lit(-1.0))) ==
        rows.map(r => r ++ Seq.fill(math.max(0, 4 - r.size))(-1.0)))
      assert(run[Seq[Double]](rows, sliceList($"xs", 1, 3)) ==
        rows.map(_.slice(1, 3)))
    }
  }

  test("combinationsN matches Scala combinations enumeration") {
    forAllSamples() { rows =>
      val got = run[Seq[Seq[Double]]](rows, combinationsN($"xs", 2))
      val want = rows.map(r =>
        r.indices.flatMap(i => (i + 1 until r.size).map(j => Seq(r(i), r(j)))))
      assert(got == want)
    }
  }

  // ---- compiled list kernels against their HOF witnesses (HofWitness) ----

  private val codegenModes: Seq[(String, Seq[(String, String)])] = Seq(
    "NO_CODEGEN" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
    "CODEGEN_ONLY" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false"))

  private def withConfs[T](confs: Seq[(String, String)])(body: => T): T = {
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Bit-for-bit equality: doubles by boxed `java.lang.Double.equals`
    * (NaN equals NaN, -0.0 differs from 0.0), lists and structs by
    * element. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: java.lang.Double, y: java.lang.Double) => x.equals(y)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case (x: org.apache.spark.sql.Row, y: org.apache.spark.sql.Row) => same(x.toSeq, y.toSeq)
    case _ => a == b
  }

  /** Ragged rows (xs, ys: list<et>, bs: list<boolean>, counts: list<int>)
    * with null lists, empty lists and null elements; `value` draws one
    * element of `et`, special values included. Built from an RDD, so no
    * optimizer rule folds the projection away before it runs. */
  private def raggedFrame(et: org.apache.spark.sql.types.DataType, value: Gen[Any],
      seed: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    def list(g: Gen[Any]): Gen[Any] = Gen.frequency(
      1 -> Gen.const(null), 2 -> Gen.const(Seq.empty[Any]),
      10 -> Gen.choose(1, 7).flatMap(n => Gen.listOfN(n,
        Gen.frequency(1 -> Gen.const(null), 6 -> g))))
    val row = for {
      xs <- list(value); ys <- list(value)
      bs <- list(Gen.oneOf(true, false).map(b => b: Any))
      counts <- list(Gen.choose(0, 4).map(n => n: Any))
    } yield org.apache.spark.sql.Row(xs, ys, bs, counts)
    var s = org.scalacheck.rng.Seed(seed)
    val rows = (0 until 80).map { _ =>
      val r = row.apply(Gen.Parameters.default, s); s = s.next; r.get
    }
    val schema = StructType(Seq(
      StructField("xs", ArrayType(et)), StructField("ys", ArrayType(et)),
      StructField("bs", ArrayType(BooleanType)),
      StructField("counts", ArrayType(IntegerType))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private val elementGens: Seq[(org.apache.spark.sql.types.DataType, Gen[Any])] = {
    import org.apache.spark.sql.types._
    Seq(
      IntegerType -> Gen.frequency(6 -> Gen.choose(-50, 50),
        1 -> Gen.oneOf(Int.MinValue, Int.MaxValue, 0)).map(Int.box),
      LongType -> Gen.frequency(6 -> Gen.choose(-50L, 50L),
        1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, (1L << 53) + 1, -(1L << 53) - 1))
        .map(Long.box),
      DoubleType -> Gen.frequency(6 -> Gen.choose(-50.0, 50.0),
        2 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
          0.0, -0.0, 1e308, -1e308, Double.MinPositiveValue)).map(Double.box),
      DecimalType(12, 3) -> Gen.choose(-99999999L, 99999999L)
        .map(u => java.math.BigDecimal.valueOf(u, 3)))
  }

  test("list kernels equal their HOF witnesses bit for bit, interpreted and compiled") {
    import graft.{HofWitness => W}
    val xs = $"xs"; val ys = $"ys"; val bs = $"bs"; val counts = $"counts"
    val pairs: Seq[(String, org.apache.spark.sql.Column, org.apache.spark.sql.Column)] = Seq(
      ("sumList", sumList(xs), W.sumList(xs)),
      ("prodList", prodList(xs), W.prodList(xs)),
      ("countList", countList(xs), W.countList(xs)),
      ("countNonzeroList", countNonzeroList(xs), W.countNonzeroList(xs)),
      ("meanList", meanList(xs), W.meanList(xs)),
      ("varList", varList(xs), W.varList(xs)),
      ("varList ddof=1", varList(xs, 1), W.varList(xs, 1)),
      ("stdList ddof=1", stdList(xs, 1), W.stdList(xs, 1)),
      ("momentList 2", momentList(xs, 2), W.momentList(xs, 2)),
      ("momentList 3", momentList(xs, 3), W.momentList(xs, 3)),
      ("softmaxList", softmaxList(xs), W.softmaxList(xs)),
      ("argminList", argminList(xs), W.argExtremumHof(xs, smaller = true)),
      ("argmaxList", argmaxList(xs), W.argExtremumHof(xs, smaller = false)),
      ("anyList", anyList(bs), W.anyList(bs)),
      ("allList", allList(bs), W.allList(bs)),
      ("localIndex", localIndex(xs), W.localIndex(xs)),
      ("argsortList", argsortList(xs), W.argsortList(xs)),
      ("padNone 3", padNone(xs, 3), W.padNone(xs, 3)),
      ("padNoneClip 3", padNoneClip(xs, 3), W.padNoneClip(xs, 3)),
      ("padNoneClip 1", padNoneClip(xs, 1), W.padNoneClip(xs, 1)),
      ("fillNone lit", fillNone(xs, lit(-1.5)), W.fillNone(xs, lit(-1.5))),
      ("fillNone column", fillNone(xs, get(ys, lit(0))), W.fillNone(xs, get(ys, lit(0)))),
      ("cartesianLists", cartesianLists(xs, ys), W.cartesianLists(xs, ys)),
      ("unflattenList", unflattenList(xs, counts), W.unflattenList(xs, counts)))
    for (((et, gen), k) <- elementGens.zipWithIndex; (mode, confs) <- codegenModes) {
      val df = raggedFrame(et, gen, 1000L + k)
      val rows = withConfs(confs) {
        df.select(pairs.flatMap { case (_, kernel, witness) => Seq(kernel, witness) }: _*)
          .collect()
      }
      for (r <- rows; ((name, _, _), i) <- pairs.zipWithIndex) {
        val (got, want) = (r.get(2 * i), r.get(2 * i + 1))
        assert(same(got, want), s"$name on ${et.simpleString} ($mode): kernel $got, witness $want")
      }
    }
  }

  test("polyHash kernel equals its HOF witness on ASCII, BMP, astral and empty strings") {
    val strings = Seq("hello world", "The quick brown fox!", "", " ",
      "h\u00e9llo", "\u65e5\u672c\u8a9e", "e\u0301", "\uffff",
      "\ud834\udd1e", "a\ud83d\ude00b", "\ud83d\ude00\ud83d\ude00", "\udbff\udfff")
    // the kernel's code-point fold is the contract the DuckDB oracles replay
    def codePoints(s: String): Long =
      s.codePoints.toArray.foldLeft(0L)((acc, cp) => (acc * 131 + cp) % 1000000007L)
    val df = spark.sparkContext.parallelize(strings, 3).toDF("s")
    for ((mode, confs) <- codegenModes) {
      val rows = withConfs(confs) {
        df.select($"s", graft.dedup.polyHash($"s"), HofWitness.polyHash($"s")).collect()
      }
      assert(rows.length == strings.size)
      for (r <- rows) {
        val (str, got, want) = (r.getString(0), r.getLong(1), r.getLong(2))
        assert(got == codePoints(str), s"kernel on '$str' ($mode)")
        assert(got == want, s"'$str' ($mode): kernel $got, witness $want")
      }
    }
  }

  test("unflattenList raises slice's error on a negative count, like its witness") {
    val df = Seq((Seq(1, 2, 3), Seq(1, -1))).toDF("xs", "counts").repartition(1)
    def failure(c: org.apache.spark.sql.Column): org.apache.spark.SparkThrowable = {
      val e = intercept[Exception](df.select(c).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case t: org.apache.spark.SparkThrowable => t }
        .getOrElse(fail(s"no SparkThrowable in $e"))
    }
    for ((mode, confs) <- codegenModes) withConfs(confs) {
      val got = failure(unflattenList($"xs", $"counts"))
      val want = failure(HofWitness.unflattenList($"xs", $"counts"))
      assert(got.getCondition == want.getCondition, mode)
      assert(got.getMessageParameters == want.getMessageParameters, mode)
    }
  }

  test("ngramJaccardPairs matches brute-force set arithmetic on random corpora") {
    val vocab = Vector("red", "blue", "fox", "jumps", "lazy", "dog", "river")
    val doc: Gen[String] =
      Gen.choose(2, 10).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
        .map(_.mkString(" "))
    val corpus: Gen[List[String]] = Gen.listOfN(12, doc)
    var s = org.scalacheck.rng.Seed(7L)
    var done = 0
    while (done < 8) {
      corpus.apply(Gen.Parameters.default, s).foreach { docs =>
        val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val got = graft.dedup.ngramJaccardPairs(df, "doc_id", "text", 2, 50)
          .select($"id1", $"id2", $"inter", $"uni")
          .as[(Long, Long, Long, Long)].collect().toSet
        def grams(t: String): Set[String] =
          t.trim.toLowerCase.split("\\s+").sliding(2).filter(_.length == 2)
            .map(_.mkString(" ")).toSet
        val want = (for {
          i <- docs.indices; j <- docs.indices if i < j
          gi = grams(docs(i)); gj = grams(docs(j))
          inter = gi.intersect(gj).size; uni = gi.union(gj).size
          if inter * 100 >= uni * 50 && inter > 0
        } yield (i.toLong, j.toLong, inter.toLong, uni.toLong)).toSet
        assert(got == want, s"corpus=$docs")
        done += 1
      }
      s = s.next
    }
  }

  test("dedupSpans matches a brute-force span-removal model on random corpora") {
    // tiny vocabulary + short docs => dense window collisions, incl.
    // within-doc repeats, full coverage, and docs shorter than the window
    val rnd = new scala.util.Random(17)
    for (round <- 0 until 3) {
      val w = 2 + round // windows of 2, 3, 4 tokens
      val docs = (0 until 40).map { id =>
        val n = rnd.nextInt(10)
        (id.toLong, (0 until n).map(_ => ('a' + rnd.nextInt(4)).toChar.toString)
          .mkString(" "))
      }
      val expected = {
        val toks = docs.map { case (id, t) =>
          id -> t.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
        val occ = scala.collection.mutable.Map.empty[Seq[String], Int]
        for ((_, ts) <- toks; g <- ts.sliding(w) if g.length == w)
          occ(g) = occ.getOrElse(g, 0) + 1
        toks.map { case (id, ts) =>
          val covered = ts.indices.filter { p =>
            (math.max(0, p - w + 1) to math.min(p, ts.length - w))
              .exists(s => occ.getOrElse(ts.slice(s, s + w), 0) >= 2)
          }.toSet
          val kept = ts.indices.filterNot(covered).map(ts)
          id -> ((ts.length.toLong, kept.length.toLong, kept.mkString(" ")))
        }
      }
      // empty text tokenizes to [""] in both engines — model that quirk
      val expectedAdj = expected.map { case (id, v) =>
        if (docs(id.toInt)._2.isEmpty) id -> ((1L, 1L, "")) else id -> v }
      val got = graft.text.dedupSpans(
          docs.toDF("doc_id", "text"), "doc_id", "text", w)
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == expectedAdj, s"w=$w")
    }
  }

  test("contamination flag never misses a truly-shared doc on random corpora") {
    val rnd = new scala.util.Random(43)
    val vocab = ('a' to 'h').map(_.toString)
    def doc(): String =
      (0 until 4 + rnd.nextInt(6)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    for (_ <- 0 until 3) {
      val train = (0 until 60).map(i => (i.toLong, doc()))
      val eval = (0 until 15).map(i => (1000L + i, doc()))
      def shingles(t: String): Set[String] =
        t.split(" ").toSeq.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSet
      val evalSh = eval.flatMap(e => shingles(e._2)).toSet
      val truly = train.filter { case (_, t) =>
        (shingles(t) & evalSh).size >= 2 }.map(_._1).toSet
      val flagged = graft.streaming.Streaming.streamingContaminationFlag(
          train.toDF("doc_id", "text"), eval.toDF("doc_id", "text"),
          "doc_id", "text", minShared = 2)
        .filter($"flagged").select($"doc_id").as[Long].collect().toSet
      assert(truly.subsetOf(flagged), s"missed: ${truly -- flagged}")
    }
  }

  test("dedupSentences matches a keep-first brute-force model") {
    val rnd = new scala.util.Random(31)
    val pool = Seq("buy now", "hello there", "alpha beta", "gamma", "delta five")
    val docs = (0 until 50).map { id =>
      val n = rnd.nextInt(5)
      (id.toLong, (0 until n).map(_ => pool(rnd.nextInt(pool.size)))
        .mkString(". ") + (if (n > 0) "." else ""))
    }
    val model = {
      def sents(t: String): Seq[String] =
        t.split("[.!?]+").map(_.trim).filter(_.nonEmpty).toSeq
      val all = docs.flatMap { case (id, t) =>
        sents(t).zipWithIndex.map { case (s, i) => (id, i + 1, s) } }
      val occ = all.groupBy(_._3).map { case (s, xs) =>
        s -> ((xs.size, xs.map(x => (x._1, x._2)).min)) }
      docs.map { case (id, t) =>
        val ss = sents(t)
        val kept = ss.zipWithIndex.collect {
          case (s, i) if occ(s)._1 < 2 || occ(s)._2 == ((id, i + 1)) => s }
        id -> ((ss.size.toLong, kept.size.toLong, kept))
      }.toMap
    }
    val got = graft.text.dedupSentences(docs.toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long, Seq[String])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == model)
  }

  test("asofJoinLast matches brute-force latest-at-or-before on random inputs") {
    val rows: Gen[(List[(Long, Long)], List[(Long, Long, Double)])] = for {
      l <- Gen.listOfN(20, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 50L)))
      r <- Gen.listOfN(10, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 50L)))
    } yield (l, r.map { case (k, t) => (k, t, (k * 100 + t).toDouble) }
      .distinctBy(x => (x._1, x._2))) // unique (key, ts) per contract
    var s = org.scalacheck.rng.Seed(11L)
    var done = 0
    while (done < 8) {
      rows.apply(Gen.Parameters.default, s).foreach { case (l, r) =>
        val left = l.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
          .toDF("row_id", "k", "ts")
        val right = r.toDF("k", "ts", "v")
        // all five implementations (union+window, native planner exec,
        // broadcast binary search, salted two-phase, scalar lookup
        // expression) against the brute-force model; tiny buckets so the
        // salted form's carry chain crosses bucket boundaries constantly
        for (impl <- Seq("window", "native", "broadcast", "salted", "lookup")) {
          val joined = impl match {
            case "window" => graft.operators.AsofJoin
              .asofJoinLast(left, right, "k", "ts", Seq("v"))
            case "native" => graft.operators.AsofJoin
              .asofJoinNative(left, right, "k", "ts", Seq("v"))
            case "salted" => graft.operators.AsofJoin
              .asofJoinSalted(left, right, "k", "ts", Seq("v"), buckets = 4)
            case "lookup" => left.withColumn("asof_v",
              graft.functions.AsofLookup.asofLookup(right, "k", "ts", "v")(
                $"k", $"ts"))
            case _ => graft.operators.AsofJoin
              .asofJoinBroadcast(left, right, "k", "ts", Seq("v"))
          }
          val got = joined
            .select($"row_id", $"asof_v").as[(Long, Option[Double])]
            .collect().toMap
          l.zipWithIndex.foreach { case ((k, t), i) =>
            val want = r.filter(x => x._1 == k && x._2 <= t)
              .sortBy(_._2).lastOption.map(_._3)
            assert(got(i.toLong) == want,
              s"[$impl] row $i key=$k ts=$t l=$l r=$r")
          }
        }
        done += 1
      }
      s = s.next
    }
  }

  test("asof: null payloads resolve to null in every impl; extreme-span salted buckets stay exact") {
    // advisor findings, round 6. (a) AsofLookup's table mapped a matched
    // null payload to NaN — diverging from the join forms' null and
    // poisoning downstream sums; all five impls must now agree on null.
    val left = Seq((0L, 1L, 10L), (1L, 1L, 25L), (2L, 2L, 10L))
      .toDF("row_id", "k", "ts")
    val right = Seq((1L, 5L, Some(1.5)), (1L, 20L, None), (2L, 50L, Some(9.9)))
      .toDF("k", "ts", "v")
    // row 0: matches (1,5)=1.5; row 1: matches (1,20)=NULL payload —
    // the later null row SHADOWS the earlier 1.5; row 2: no match
    val want = Map(0L -> Some(1.5), 1L -> None, 2L -> None)
    for (impl <- Seq("window", "native", "broadcast", "salted", "lookup")) {
      val joined = impl match {
        case "window" => graft.operators.AsofJoin
          .asofJoinLast(left, right, "k", "ts", Seq("v"))
        case "native" => graft.operators.AsofJoin
          .asofJoinNative(left, right, "k", "ts", Seq("v"))
        case "salted" => graft.operators.AsofJoin
          .asofJoinSalted(left, right, "k", "ts", Seq("v"), buckets = 4)
        case "lookup" => left.withColumn("asof_v",
          graft.functions.AsofLookup.asofLookup(right, "k", "ts", "v")(
            $"k", $"ts"))
        case _ => graft.operators.AsofJoin
          .asofJoinBroadcast(left, right, "k", "ts", Seq("v"))
      }
      val got = joined.select($"row_id", $"asof_v")
        .as[(Long, Option[Double])].collect().toMap
      assert(got == want, s"[$impl] got $got")
      assert(!got.values.flatten.exists(_.isNaN), s"[$impl] NaN leaked")
    }
    // (b) asofJoinSalted's span math: for mixed-sign extreme long ts,
    // mx - mn used to wrap negative, collapsing width to 1 and sending
    // real rows to negative bucket ids that collide with the -1 null-ts
    // sentinel. The BigInt span + decimal bucketing path must match the
    // window form exactly.
    val xl = Seq((0L, 1L, Long.MinValue / 2), (1L, 1L, -10L),
      (2L, 1L, 10L), (3L, 1L, Long.MaxValue / 2), (4L, 2L, Long.MaxValue - 5))
      .toDF("row_id", "k", "ts")
    val xr = Seq((1L, Long.MinValue / 2 - 100L, 1.0), (1L, -50L, 2.0),
      (1L, 5L, 3.0), (1L, Long.MaxValue / 2 - 7L, 4.0),
      (2L, Long.MaxValue - 9L, 5.0)).toDF("k", "ts", "v")
    for (dir <- Seq("backward", "forward", "nearest")) {
      val wantX = graft.operators.AsofJoin
        .asofJoin(xl, xr, "k", "ts", Seq("v"), dir)
        .select($"row_id", $"asof_v").as[(Long, Option[Double])]
        .collect().toMap
      val gotX = graft.operators.AsofJoin
        .asofJoinSalted(xl, xr, "k", "ts", Seq("v"), dir, buckets = 8)
        .select($"row_id", $"asof_v").as[(Long, Option[Double])]
        .collect().toMap
      assert(gotX == wantX, s"[$dir] salted=$gotX window=$wantX")
    }
  }

  test("asof nearest: extreme-span distances compared exactly in every impl") {
    // the nearest distance compare `t - b <= f - t` wraps in Long when the
    // back-to-fwd span exceeds Long range, picking the FAR match. All
    // impls used the same wrapping arithmetic, so an impl-vs-impl
    // differential could never catch it — this model computes distances
    // in BigInt, independently of any engine path.
    val lt = Long.MaxValue / 2
    val left = Seq((0L, 1L, lt)).toDF("row_id", "k", "ts")
    // backward match ~9.2e18 away, forward match 10 away: nearest = fwd
    val right = Seq((1L, Long.MinValue / 2 - 100L, 1.0), (1L, lt + 10L, 2.0))
      .toDF("k", "ts", "v")
    val wantB = BigInt(lt) - (BigInt(Long.MinValue / 2) - 100)
    val wantF = BigInt(lt + 10L) - BigInt(lt)
    assert(wantF < wantB) // the model itself: forward is nearer
    for (impl <- Seq("window", "salted", "broadcast")) {
      val joined = impl match {
        case "window" => graft.operators.AsofJoin
          .asofJoin(left, right, "k", "ts", Seq("v"), "nearest")
        case "salted" => graft.operators.AsofJoin
          .asofJoinSalted(left, right, "k", "ts", Seq("v"), "nearest", buckets = 4)
        case _ => graft.operators.AsofJoin
          .asofJoinBroadcast(left, right, "k", "ts", Seq("v"), "nearest")
      }
      val got = joined.select($"asof_v").as[Option[Double]].collect().head
      assert(got.contains(2.0),
        s"[$impl] picked the far match across a wrapped span: $got")
    }
  }

  test("asofJoin forward/nearest match brute-force on random inputs") {
    val rows: Gen[(List[(Long, Long)], List[(Long, Long, Double)])] = for {
      l <- Gen.listOfN(20, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 50L)))
      r <- Gen.listOfN(10, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 50L)))
    } yield (l, r.map { case (k, t) => (k, t, (k * 100 + t).toDouble) }
      .distinctBy(x => (x._1, x._2)))
    var s = org.scalacheck.rng.Seed(23L)
    var done = 0
    while (done < 6) {
      rows.apply(Gen.Parameters.default, s).foreach { case (l, r) =>
        val left = l.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
          .toDF("row_id", "k", "ts")
        val right = r.toDF("k", "ts", "v")
        def run(dir: String, salted: Boolean) = (if (salted)
            graft.operators.AsofJoin
              .asofJoinSalted(left, right, "k", "ts", Seq("v"), dir, buckets = 4)
          else graft.operators.AsofJoin
            .asofJoin(left, right, "k", "ts", Seq("v"), dir))
          .select($"row_id", $"asof_v").as[(Long, Option[Double])]
          .collect().toMap
        for (salted <- Seq(false, true)) {
          val tag = if (salted) "salted-" else ""
          val (gotF, gotN) = (run("forward", salted), run("nearest", salted))
          l.zipWithIndex.foreach { case ((k, t), i) =>
            val back = r.filter(x => x._1 == k && x._2 <= t).sortBy(_._2).lastOption
            val fwd = r.filter(x => x._1 == k && x._2 >= t).sortBy(_._2).headOption
            val near = (back, fwd) match {
              case (Some(b), Some(f)) =>
                if (t - b._2 <= f._2 - t) Some(b) else Some(f) // tie -> backward
              case (b, f) => b.orElse(f)
            }
            assert(gotF(i.toLong) == fwd.map(_._3),
              s"[${tag}forward] row $i key=$k ts=$t l=$l r=$r")
            assert(gotN(i.toLong) == near.map(_._3),
              s"[${tag}nearest] row $i key=$k ts=$t l=$l r=$r")
          }
        }
        done += 1
      }
      s = s.next
    }
  }

  test("asofJoinBroadcast matches the window form on string keys and typed payloads") {
    // what no other case feeds the broadcast face: string keys, a string
    // and a decimal payload, and null payloads that shadow other matches,
    // in all three directions; the streaming face on the same rows
    val rows: Gen[(List[(Option[String], Long)],
        List[(String, Long, Option[String], Option[Long])])] = for {
      l <- Gen.listOfN(20, Gen.zip(
        Gen.frequency(9 -> Gen.oneOf("a", "b", "c", "d").map(Option(_)), 1 -> Gen.const(None)),
        Gen.choose(0L, 50L)))
      r <- Gen.listOfN(12, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(0L, 50L),
        Gen.option(Gen.oneOf("x", "yy", "")), Gen.option(Gen.choose(-99999L, 99999L))))
    } yield (l, r.distinctBy(x => (x._1, x._2)))
    var s = org.scalacheck.rng.Seed(23L)
    var done = 0
    while (done < 6) {
      rows.apply(Gen.Parameters.default, s).foreach { case (l, r) =>
        val left = l.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
          .toDF("row_id", "k", "t")
          .select($"row_id", $"k", timestamp_micros($"t").as("ts"))
        val right = r.toDF("k", "t", "s", "d")
          .select($"k", timestamp_micros($"t").as("ts"), $"s",
            ($"d".cast("decimal(15,3)") / 1000).cast("decimal(12,3)").as("d"))
        def got(df: org.apache.spark.sql.DataFrame) =
          df.orderBy($"row_id").select($"row_id", $"asof_s", $"asof_d").collect().toSeq
        for (dir <- Seq("backward", "forward", "nearest")) {
          val window = graft.operators.AsofJoin
            .asofJoin(left, right, "k", "ts", Seq("s", "d"), dir)
          val bcast = graft.operators.AsofJoin
            .asofJoinBroadcast(left, right, "k", "ts", Seq("s", "d"), dir)
          assert(bcast.dtypes.toSeq == window.dtypes.toSeq, dir)
          assert(got(bcast) == got(window), s"[$dir] l=$l r=$r")
          if (dir == "backward") {
            val enriched = Seq("s", "d").foldLeft(left)((df, p) =>
              graft.streaming.Streaming.streamingAsofEnrich(df, right, "k", "ts", p))
            assert(got(enriched) == got(window), s"[streaming] l=$l r=$r")
          }
        }
        done += 1
      }
      s = s.next
    }
  }

  test("bloomAntiJoin matches left_anti on random key sets") {
    val sets: Gen[(List[Long], List[Long], Double)] = for {
      l <- Gen.listOfN(60, Gen.choose(0L, 40L))
      r <- Gen.listOfN(30, Gen.choose(0L, 40L))
      fpp <- Gen.oneOf(0.01, 0.2, 0.5) // include near-degenerate filters
    } yield (l, r, fpp)
    var s = org.scalacheck.rng.Seed(23L)
    var done = 0
    while (done < 6) {
      sets.apply(Gen.Parameters.default, s).foreach { case (l, r, fpp) =>
        val left = l.zipWithIndex.map { case (k, i) => (i.toLong, k) }
          .toDF("row_id", "k")
        val right = r.toDF("rk")
        val want = left.join(right, $"k" === $"rk", "left_anti")
          .select($"row_id").as[Long].collect().toSet
        val got = graft.operators.BloomAntiJoin
          .bloomAntiJoin(left, right, "k", "rk",
            expectedItems = 16, fpp = fpp)
          .select($"row_id").as[Long].collect().toSet
        assert(got == want, s"fpp=$fpp l=$l r=$r")
        done += 1
      }
      s = s.next
    }
  }

  test("connectedComponents matches union-find on random graphs") {
    val graphs: Gen[List[(Long, Long)]] =
      Gen.listOfN(40, Gen.zip(Gen.choose(0L, 24L), Gen.choose(0L, 24L)))
        .map(_.filter(e => e._1 != e._2))
    var s = org.scalacheck.rng.Seed(7L)
    var done = 0
    while (done < 6) {
      graphs.apply(Gen.Parameters.default, s).foreach { edges =>
        if (edges.nonEmpty) {
          // reference model: union-find, components labeled by their min id
          val parent = scala.collection.mutable.Map[Long, Long]()
          def find(x: Long): Long = {
            val p = parent.getOrElseUpdate(x, x)
            if (p == x) x else { val r = find(p); parent(x) = r; r }
          }
          def union(a: Long, b: Long): Unit = {
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          edges.foreach { case (a, b) => union(a, b) }
          val want = parent.keys.map(v => v -> find(v)).toMap
          val got = graft.dedup.connectedComponents(
              edges.toDF("a", "b"), "a", "b")
            .as[(Long, Long)].collect().toMap
          assert(got == want, s"edges=$edges")
        }
        done += 1
      }
      s = s.next
    }
  }

  test("range joins match brute force on random (incl. negative) intervals") {
    // random points and intervals over a signed domain: exercises negative
    // bucket indices (floor-toward-minus-infinity), zero-width intervals,
    // degenerate start>end intervals (no points can fall inside; overlap
    // follows the raw predicate), and pairs sharing many buckets (the
    // overlap dedup)
    val pointGen = Gen.listOfN(40, Gen.choose(-500L, 500L))
    val ivGen = Gen.listOfN(25, for {
      a <- Gen.choose(-500L, 500L)
      // negative span => degenerate interval; the rare extreme span models a
      // hi=-1 sentinel against an epoch-second lo — unclamped, that would
      // explode a billion-element descending bucket sequence
      span <- Gen.frequency(
        (8, Gen.choose(-40L, 120L)),
        (1, Gen.const(-1000000000L)))
    } yield (a, a + span))
    val seed = org.scalacheck.rng.Seed(4242L)
    var s = seed
    var done = 0
    while (done < 8) {
      val sample = for { ps <- pointGen; is <- ivGen } yield (ps, is)
      sample.apply(Gen.Parameters.default, s).foreach { case (ps, is) =>
        val pts = ps.zipWithIndex.map { case (p, i) => (i.toLong, p) }
          .toDF("lid", "pt")
        val ivs = is.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
          .toDF("rid", "lo", "hi")
        val wantPt = (for {
          (p, i) <- ps.zipWithIndex
          ((a, b), j) <- is.zipWithIndex
          if p >= a && p <= b
        } yield (i.toLong, j.toLong)).toSet
        for (w <- Seq(7L, 100L)) {
          val got = graft.operators.RangeJoin
            .pointInInterval(pts, ivs, "pt", "lo", "hi", w)
            .select($"lid", $"rid").as[(Long, Long)].collect()
          assert(got.length == got.toSet.size, s"dup pairs w=$w")
          assert(got.toSet == wantPt, s"point-in-interval mismatch w=$w")
        }
        val ivs2 = is.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
          .toDF("rid2", "lo2", "hi2")
        // degenerate (start>end) intervals follow the raw predicate, same
        // as the SQL form `lstart <= rend AND rstart <= lend`
        val wantOv = (for {
          ((a, b), i) <- is.zipWithIndex
          ((c, d), j) <- is.zipWithIndex
          if a <= d && c <= b
        } yield (i.toLong, j.toLong)).toSet
        for (w <- Seq(7L, 100L)) {
          val got = graft.operators.RangeJoin
            .intervalOverlap(ivs, ivs2, "lo", "hi", "lo2", "hi2", w)
            .select($"rid", $"rid2").as[(Long, Long)].collect()
          assert(got.length == got.toSet.size, s"dup overlap pairs w=$w")
          assert(got.toSet == wantOv, s"interval-overlap mismatch w=$w")
        }
        // the optimizer rule must make the NAIVE spelling of the same join
        // agree too (plan rewritten under the hood) — for every rewritable
        // join type
        val key = graft.plans.RangeJoinRewrite.WidthKey
        try {
          spark.conf.set(key, "7")
          val got = pts.join(ivs, $"pt" >= $"lo" && $"pt" <= $"hi")
            .select($"lid", $"rid").as[(Long, Long)].collect()
          assert(got.length == got.toSet.size, "rule produced duplicates")
          assert(got.toSet == wantPt, "rule-rewritten join mismatch")
          val matchedL = wantPt.map(_._1)
          val lo = pts.join(ivs, $"pt" >= $"lo" && $"pt" <= $"hi", "left")
            .select($"lid", $"rid").as[(Long, Option[Long])].collect()
          val wantLo = wantPt.toSeq.map { case (l, r) => (l, Some(r): Option[Long]) } ++
            ps.indices.filterNot(i => matchedL(i.toLong)).map(i => (i.toLong, None))
          assert(lo.sorted.toSeq == wantLo.sorted, "left-outer mismatch")
          val semi = pts.join(ivs, $"pt" >= $"lo" && $"pt" <= $"hi", "left_semi")
            .select($"lid").as[Long].collect()
          assert(semi.length == semi.toSet.size && semi.toSet == matchedL,
            "left-semi mismatch")
          val anti = pts.join(ivs, $"pt" >= $"lo" && $"pt" <= $"hi", "left_anti")
            .select($"lid").as[Long].collect().toSet
          assert(anti == ps.indices.map(_.toLong).toSet -- matchedL,
            "left-anti mismatch")
        } finally spark.conf.unset(key)
        done += 1
      }
      s = s.next
    }
  }

  test("frequentItems invariants hold on random streams and capacities") {
    // MG guarantees regardless of data: (1) counts never overestimate,
    // (2) undercount bounded by N/(cap+1), (3) anything above the
    // threshold survives, (4) exact when the vocabulary fits
    val streamGen = for {
      nKinds <- Gen.choose(2, 30)
      n <- Gen.choose(50, 400)
      items <- Gen.listOfN(n, Gen.choose(0, nKinds - 1))
      cap <- Gen.choose(2, 40)
    } yield (items.map(i => s"k$i"), cap)
    val seed = org.scalacheck.rng.Seed(777L)
    var s = seed
    var done = 0
    while (done < 10) {
      streamGen.apply(Gen.Parameters.default, s).foreach { case (items, cap) =>
        val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val n = items.size
        val got = graft.sketches.FrequentItems
          .frequentItems(items.toDF("x"), "x", cap)
          .as[(String, Long)].collect().toMap
        val bound = n / (cap + 1)
        got.foreach { case (k, c) =>
          assert(c <= truth(k), s"$k overcounted: $c > ${truth(k)} (cap=$cap)")
          assert(c >= truth(k) - bound, s"$k undercut the bound (cap=$cap)")
        }
        truth.foreach { case (k, c) =>
          if (c > bound) assert(got.contains(k), s"heavy $k lost (cap=$cap n=$n)")
        }
        if (truth.size <= cap) assert(got == truth, s"exact mode violated (cap=$cap)")
        done += 1
      }
      s = s.next
    }
  }

  test("bm25TopK full output matches a brute model on random corpora") {
    // every row — qid pairing, ranks, ids, 4dp scores — against a plain-
    // Scala BM25 with the identical double expression tree (association
    // matters) and Spark's HALF_UP shortest-decimal rounding
    val rnd = new scala.util.Random(4242L)
    val rich = Vector("ab", "cd", "ef", "wolf", "raven", "heron", "otter",
      "lynx", "marten", "badger", "stoat", "vole", "shrew", "x")
    // degenerate vocabularies: fewer qualifying (len>=4) terms than 2*nq
    // (odd counts give a trailing one-term query), or none at all
    val sparse = Vector("ab", "cd", "ef", "gh", "wolf", "raven", "heron")
    val barren = Vector("ab", "cd", "ef", "gh", "x")
    for (trial <- 0 until 9) {
      val vocab = Seq(rich, sparse, barren)(trial % 3)
      val nq = 1 + rnd.nextInt(3)
      val k = 1 + rnd.nextInt(5)
      val (k1, b) = (0.5 + rnd.nextDouble(), rnd.nextDouble())
      val docs = (0L until (5 + rnd.nextInt(25)).toLong).map { id =>
        val n = rnd.nextInt(30)
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val got = graft.text.bm25TopK(docs.toDF("doc_id", "text"),
          "doc_id", "text", nq = nq, k = k, k1 = k1, b = b)
        .select($"qid", $"rank", $"doc_id", $"score")
        .as[(Int, Int, Long, Double)].collect().toSet
      // brute model
      val toks = docs.map { case (id, t) =>
        id -> t.trim.toLowerCase.split("\\s+").toSeq }.toMap
      val n = docs.length
      val avgdl = toks.valuesIterator.map(_.size.toLong).sum.toDouble / n
      val tf = toks.view.mapValues(
        _.groupBy(identity).view.mapValues(_.size.toLong).toMap).toMap
      val dfreq = tf.values.flatMap(_.keys).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val ctf = toks.values.flatten.groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val terms = ctf.toSeq.filter(_._1.length >= 4)
        .sortBy { case (t, c) => (-c, t) }.take(2 * nq)
      def rnd4(x: Double): Double = java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
      val exp = terms.indices.by(2).flatMap { i =>
        val qid = i / 2
        val qts = terms.slice(i, i + 2)
        val scored = toks.keys.toSeq.flatMap { id =>
          val s = qts.map { case (t, _) =>
            tf(id).get(t).fold(0.0) { f =>
              val d = dfreq(t)
              math.log(1.0 + ((n.toDouble - d.toDouble) + 0.5) / (d.toDouble + 0.5)) *
                ((f.toDouble * (k1 + 1.0)) /
                  (f.toDouble + k1 * ((1.0 - b) + (b * toks(id).size.toDouble) / avgdl)))
            }
          }.sum
          if (s > 0.0) Seq((id, rnd4(s))) else Nil
        }
        scored.sortBy { case (id, s) => (-s, id) }.take(k).zipWithIndex
          .map { case ((id, s), r) => (qid, r + 1, id, s) }
      }.toSet
      assert(got == exp,
        s"trial $trial (nq=$nq k=$k k1=$k1 b=$b): " +
          s"missing=${(exp -- got).take(3)} extra=${(got -- exp).take(3)}")
    }
  }

  test("runLengths matches a linear Scala pass") {
    forAllSamples() { rows =>
      def rl(r: List[Double]): Seq[Int] = {
        if (r.isEmpty) return Seq.empty
        val out = scala.collection.mutable.ArrayBuffer[Int]()
        var cur = 1
        for (i <- 1 until r.size) {
          if (r(i) == r(i - 1)) cur += 1
          else { out += cur; cur = 1 }
        }
        out += cur
        out.toSeq
      }
      assert(run[Seq[Int]](rows, runLengths($"xs")) == rows.map(rl))
    }
  }

  test("bpeTrainMerges matches a string-replace reference on random corpora") {
    // the driver merge loop is imperative array code; this pins it against
    // an INDEPENDENT model built on the oracle's exact mechanism —
    // delimited |c1||c2| strings + literal java String.replace (left-to-
    // right non-overlapping, same as Spark/DuckDB replace). Alphabet of 3
    // and short words force dense pair-count ties, exercising the
    // (weight desc, a, b) tie-break on both sides.
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 6) {
      val alpha = "abc"
      val words = (0 until 40).map { _ =>
        (0 until 1 + rnd.nextInt(6))
          .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      }
      val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val got = graft.text.bpeTrainMerges(df, "text",
          vocabCap = 30, nMerges = 6)
        .orderBy($"merge_rank")
        .as[(Int, String, String, String, Long)].collect().toSeq
      var vocab: Seq[(String, Long)] = words.groupBy(identity).view
        .mapValues(_.size.toLong).toSeq
        .sortBy { case (w, c) => (-c, w) }.take(30)
        .map { case (w, c) =>
          ("|" + w.split("").filter(_.nonEmpty).mkString("||") + "|", c) }
      val want = scala.collection.mutable.Buffer[(Int, String, String, String, Long)]()
      var r = 1
      var stop = false
      while (r <= 6 && !stop) {
        val pairs = scala.collection.mutable.Map[(String, String), Long]()
        vocab.foreach { case (repr, c) =>
          val syms = repr.stripPrefix("|").stripSuffix("|").split("\\|\\|")
          syms.sliding(2).filter(_.length == 2).foreach { p =>
            pairs((p(0), p(1))) = pairs.getOrElse((p(0), p(1)), 0L) + c
          }
        }
        if (pairs.isEmpty) stop = true
        else {
          val ((a, b), w) = pairs.toSeq
            .minBy { case ((pa, pb), pw) => (-pw, pa, pb) }
          want += ((r, a, b, a + b, w))
          vocab = vocab.map { case (repr, c) =>
            (repr.replace(s"|$a||$b|", s"|$a$b|"), c) }
          r += 1
        }
      }
      assert(got == want.toSeq, s"trial $trial: got $got, want $want")
    }
  }

  test("funnel and sessionize agree with driver-side reference models") {
    // random event streams: few users, tiny alphabet, clustered
    // timestamps with deliberate ties — the regime where ordering and
    // window edge cases live
    val eventGen = Gen.listOfN(60, for {
      u <- Gen.choose(1, 5)
      t <- Gen.choose(0, 50)
      ty <- Gen.oneOf("view", "click", "purchase", "error")
    } yield (u.toLong, t.toLong * 1000L, ty))
    val stages = Seq("view", "click", "purchase")
    val windowUs = 8000L
    val gapUs = 5000L
    var s = org.scalacheck.rng.Seed(2024L)
    for (trial <- 0 until 10) {
      val evs0 = eventGen.apply(Gen.Parameters.default, s).get
      s = s.next
      // unique tiebreak ids; ties only in ts
      val evs = evs0.zipWithIndex.map { case ((u, t, ty), i) =>
        (u, t, i.toLong, ty)
      }
      val df = evs.toDF("user_id", "us", "event_id", "event_type")
        .select($"user_id", timestamp_micros($"us").as("ts"),
          $"event_id", $"event_type")
      val byUser = evs.groupBy(_._1).map { case (u, rows) =>
        u -> rows.sortBy(r => (r._2, r._3))
      }
      // reference greedy windowed fold
      val wantDepth = byUser.map { case (u, rows) =>
        var d = 0; var mts = 0L
        rows.foreach { case (_, ts, _, ty) =>
          if (d < stages.size && stages(d) == ty &&
              (d == 0 || ts <= mts + windowUs)) { d += 1; mts = ts }
        }
        u -> d
      }
      val gotDepth = graft.operators.Funnel.funnelDepthWindowed(
          df, "user_id", "ts", "event_id", "event_type", stages, windowUs)
        .as[(Long, Int)].collect().toMap
      assert(gotDepth == wantDepth, s"trial $trial funnel: " +
        s"got $gotDepth want $wantDepth")
      // reference sessionizer
      val wantSess = byUser.flatMap { case (u, rows) =>
        var sid = 0L; var prev = Long.MinValue
        rows.map { case (_, ts, eid, _) =>
          if (prev == Long.MinValue || ts - prev > gapUs) sid += 1
          prev = ts
          (u, eid) -> sid
        }
      }.toMap
      val gotSess = graft.operators.Retention.sessionize(
          df, "user_id", "ts", "event_id", gapUs)
        .select($"user_id", $"event_id", $"session_id")
        .as[(Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(gotSess == wantSess, s"trial $trial sessionize")
    }
  }

  test("exactQuantiles (global + grouped) match sorted references on random data") {
    import graft.operators.ExactQuantiles
    val rnd = new scala.util.Random(23L)
    for (trial <- 1 to 6) {
      val n = 50 + rnd.nextInt(400)
      // mixed regimes per trial: dense ties, wide magnitudes, negatives
      val gen: () => Double = trial % 3 match {
        case 0 => () => (rnd.nextInt(7) - 3).toDouble          // tie-heavy
        case 1 => () => math.pow(10, rnd.nextInt(12) - 6) *
          (if (rnd.nextBoolean()) 1 else -1) * rnd.nextDouble() // wide
        case 2 => () => rnd.nextGaussian()
      }
      val rows = Seq.fill(n)((s"g${rnd.nextInt(3)}", gen()))
      val probs = Seq(0.0, rnd.nextDouble(), 0.5, 1.0)
      val df = rows.toDF("g", "v").repartition(1 + rnd.nextInt(8))
      def disc(vs: Seq[Double], p: Double): Double = {
        val k = math.max(1L, math.ceil(p * vs.length).toLong).toInt
        vs.sorted.apply(k - 1)
      }
      val all = rows.map(_._2)
      val gotG = ExactQuantiles.exactQuantiles(df, "v", probs)
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      probs.foreach(p => assert(gotG(p) == disc(all, p), s"trial $trial p=$p"))
      val gotGrp = ExactQuantiles.exactQuantilesByGroup(df, "g", "v", probs)
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
        .toMap
      for ((g, vs) <- rows.groupBy(_._1); p <- probs)
        assert(gotGrp((g, p)) == disc(vs.map(_._2), p),
          s"trial $trial g=$g p=$p")
    }
  }

  test("runningSums equals one unpartitioned global window, interpreted and compiled") {
    import graft.core.Partitions
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(37L)
    // (id, g, kl, kd, ks, a, b): id is distinct and breaks every tie, so
    // each order is total; "hot" holds ~3/4 of the rows; order keys and
    // sums carry nulls, kd also NaN and -0.0
    def opt[T](p: Int, v: => T): Option[T] = if (rnd.nextInt(p) == 0) None else Some(v)
    val doubles = Seq(-1.5, -0.0, 0.0, 0.5, 2.0, Double.NaN)
    val rows = (0 until 240).map { i =>
      (i.toLong,
        if (rnd.nextInt(4) < 3) Some("hot") else opt(5, s"g${rnd.nextInt(3)}"),
        opt(9, rnd.nextInt(20).toLong - 10),
        opt(9, doubles(rnd.nextInt(doubles.size))),
        opt(9, s"s${rnd.nextInt(15)}"),
        opt(5, rnd.nextInt(100).toLong - 30),
        opt(3, rnd.nextInt(7).toLong))
    }
    val base = rows.toDF("id", "g", "kl", "kd", "ks", "a", "b")
    val parts = spark.sessionState.conf.numShufflePartitions
    val hotParts = base.repartitionByRange(parts, col("g"), col("kl"), col("id"))
      .filter(col("g") === "hot").select(spark_partition_id()).distinct().count()
    assert(hotParts > 1, s"the hot group sits in $hotParts range partition")
    val orders: Seq[(String, Seq[Column])] = Seq(
      "long" -> Seq(col("kl"), col("id")),
      "double desc" -> Seq(col("kd").desc, col("id")),
      "string" -> Seq(col("ks"), col("id").desc))
    val sums = Seq("a", "b")
    def witness(df: org.apache.spark.sql.DataFrame, order: Seq[Column],
        groups: Seq[String]) = {
      val w = Window.partitionBy(groups.map(col): _*)
      val upTo = w.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.select(col("id") +: sums.flatMap(c =>
        Seq(sum(col(c)).over(upTo), sum(col(c)).over(w))): _*)
    }
    def byId(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    for ((name, order) <- orders; groups <- Seq(Nil, Seq("g"));
        n <- Seq(1, 5, 7); (mode, confs) <- codegenModes) {
      val df = base.repartition(n)
      val got = withConfs(confs)(byId(Partitions.runningSums(df, order, sums, groups)
        .select(col("id") +: sums.flatMap(c => Seq(col(s"cum_$c"), col(s"tot_$c"))): _*)))
      val want = byId(witness(df, order, groups))
      assert(got.size == rows.size && got == want,
        s"$name by ${groups.mkString(",")} over $n partitions, $mode")
    }
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      base.schema)
    for (groups <- Seq(Nil, Seq("g"))) {
      val out = Partitions.runningSums(empty, Seq(col("kl"), col("id")), sums, groups)
      assert(out.columns.toSeq == base.columns.toSeq ++
        Seq("cum_a", "tot_a", "cum_b", "tot_b") && out.isEmpty)
    }
  }

  test("ksTwoSample/gini/rocAuc/prCurve: an empty frame and an all-null score") {
    import graft.operators.Experiment
    val nullScores = Seq((None: Option[Long], true), (None, false), (None, true))
      .toDF("s", "y").repartition(2)
    for (df <- Seq(nullScores.limit(0), nullScores)) {
      for (report <- Seq(Experiment.ksTwoSample(df, col("s"), col("y")),
          Experiment.gini(df, col("s")), Experiment.rocAuc(df, col("s"), col("y"))))
        assert(report.collect().toSeq.map(_.toSeq) == Seq(Seq(null, null, null, null)))
      assert(graft.text.prCurve(df, "s", col("y")).isEmpty)
    }
  }

  test("linkPredict: the table kernel ranks as both relational plans on random graphs") {
    import graft.core.Broadcasts.defaultBudgetBytes
    import graft.operators.{Graph, LinkPredict}
    val rnd = new scala.util.Random(31L)
    val queries = Seq(Some(0L), Some(1L), Some(2L), Some(3L), Some(5L), Some(5L),
      Some(8L), Some(11L), Some(999L), None).toDF("node")
    // (graph, table budget, adjacency budget, hubCap, k): rows by value, or
    // the error class when the run fails
    def run(g: Graph, tableBudget: Long, adjBudget: Long, hubCap: Int, k: Int) =
      scala.util.Try(LinkPredict.rankForQueries(g, queries, k, hubCap, adjBudget, tableBudget)
        .as[(Long, Int, Long, Long, Long, Long, Long)].collect().toSet)
        .toEither.left.map(_ => "error")
    var ranked = 0
    for (trial <- 1 to 4) {
      val nodes = 6 + rnd.nextInt(10)
      val pairs = Seq.fill(15 + rnd.nextInt(30))(
        (rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
      // odd trials: a symmetric distinct list (the Graph.symmetric claim);
      // even trials: a directed list with duplicates and self-loops
      val g =
        if (trial % 2 == 1) Graph.coOccurrence(pairs.zipWithIndex
          .flatMap { case ((a, b), i) => Seq((i.toLong, a), (i.toLong, b)) }
          .toDF("g", "item"), "g", "item")
        else Graph((pairs ++ pairs.take(6)).toDF("src", "dst"))
      assert(g.symmetric == (trial % 2 == 1))
      for (hubCap <- Seq(0, 2, 5)) {
        val viaBroadcast = run(g, 0L, defaultBudgetBytes, hubCap, 10)
        assert(viaBroadcast == run(g, 0L, 0L, hubCap, 10),
          s"trial $trial hubCap $hubCap: the two relational plans differ")
        for (k <- Seq(1, 3, 10); (mode, confs) <- codegenModes) {
          // ranks are a total order, so the top k are the k-prefix of the top 10
          val want = viaBroadcast.map(_.filter(_._2 <= k))
          assert(withConfs(confs)(run(g, defaultBudgetBytes, defaultBudgetBytes, hubCap, k)) == want,
            s"trial $trial hubCap $hubCap k $k $mode")
        }
        viaBroadcast.foreach(r => if (r.nonEmpty) ranked += 1)
      }
    }
    assert(ranked >= 8, s"only $ranked of 12 cases ranked any candidate")
  }

  test("kCore matches the brute-force peel on random graphs") {
    import graft.operators.{Graph, KCore}
    val rnd = new scala.util.Random(29L)
    for (trial <- 1 to 5) {
      val nodes = 8 + rnd.nextInt(25)
      val edges = Seq.fill(30 + rnd.nextInt(120))(
        (rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
      val g = Graph(edges.toDF("src", "dst"))
      val undirected = edges.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap)).distinct
      def brute(k: Int): Map[Long, Long] = {
        var adj = undirected.groupBy(_._1).map { case (a, es) =>
          a -> es.map(_._2).toSet }
        var changed = true
        while (changed) {
          val dead = adj.collect { case (a, ns) if ns.size < k => a }.toSet
          changed = dead.nonEmpty
          adj = adj.collect { case (a, ns) if !dead(a) => a -> (ns -- dead) }
        }
        adj.map { case (a, ns) => a -> ns.size.toLong }
      }
      for (k <- Seq(1, 2, 3, 5)) {
        val got = KCore.kCore(g, k).as[(Long, Long)].collect().toMap
        assert(got == brute(k), s"trial $trial k=$k")
      }
    }
  }
}
