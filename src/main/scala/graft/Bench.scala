package graft

object Bench {

  /** Per-query timing with warm-up depth: `steady` is what the suite
    * reports, `first` preserves the cold cost, `runs` how many timed
    * executions it took. */
  final case class QTime(steady: Double, first: Double, runs: Int) {
    def warmRatio: Double = first / math.max(1e-9, steady)
  }

  /** Times one query from `once` (one timed execution, in seconds).
    * SCALE_SOAK's corollary: numbers under ~2 s are JIT-depth-bound — the
    * contention flag can't see that, so queries whose first/second ratio
    * exceeds 2x earn a third run and report min(run2, run3), pinning
    * steady state (the sub-2 s dedup family's numbers otherwise drift
    * with whatever codegen state the suite left behind); repeats are
    * skipped past 20 s so total bench wall-clock stays bounded. A throw
    * from any run makes the query failed (`Left` with the error): the
    * time it took to fail is never recorded as the query's time. */
  def timeQuery(once: () => Double): Either[String, QTime] =
    try {
      val first = once()
      Right(
        if (first > 20.0) QTime(first, first, 1)
        else {
          val second = once()
          if (first / math.max(1e-9, second) > 2.0)
            QTime(math.min(second, once()), first, 3)
          else QTime(math.min(first, second), first, 2)
        })
    } catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }

  /** Per-entry effective re-run trip factor (unit-tested in
    * BenchLogicSpec). Three rules, composed by taking the tightest that
    * applies:
    *   - base: the configured `profileK` (default 2.0);
    *   - suite haze (r10 verdict ask #5): when the suite total exceeds
    *     1.1x the profile sum, tighten to min(1.4, profileK) — the min
    *     so a profileK configured BELOW 1.4 is never loosened by a hazy
    *     suite (r11 advice);
    *   - heavy entry (r11 verdict ask #2): entries whose profile exceeds
    *     `heavyProfile` (1.5 s — the suite's top ~25) trip at
    *     min(1.5, base) REGARDLESS of suite health. R11 measured why the
    *     suite trigger alone is insufficient: a 1.04x-calm suite still
    *     recorded q_triangles at 1.81x and str_linkage at 1.59x profile.
    *     For a multi-second entry 1.5x is seconds of phantom, and the
    *     re-run budget is a handful of queries; for sub-second entries
    *     the same band is JIT wobble, so the rule keys on profile size. */
  def entryTrip(profileSec: Double, suiteHazy: Boolean, profileK: Double,
      heavyProfile: Double = 1.5): Double = {
    val base = if (suiteHazy) math.min(1.4, profileK) else profileK
    if (profileSec > heavyProfile) math.min(1.5, base) else base
  }

  /** Pure trip-selection for the steady-profile guard (unit-tested in
    * BenchLogicSpec): given the merged per-query steady times and the
    * committed idle profile, pick the suite-level trip factor and the
    * suspect set. Per-entry: a query re-runs when over its
    * [[entryTrip]] x its profile AND over the absolute floor
    * (sub-second wobble is JIT depth, not load). The returned `trip` is
    * the suite-level base (reported in the artifact as `profile_trip`);
    * heavy entries may have tripped at the tighter 1.5x. */
  def hazeTrip(steady: Map[String, Double], profile: Map[String, Double],
      profileK: Double, floor: Double): (Boolean, Double, Seq[String]) = {
    val shared = steady.keys.filter(profile.contains).toSeq
    val profSum = shared.map(profile).sum
    val suiteHazy = profSum > 0 && shared.map(steady).sum > 1.1 * profSum
    val trip = if (suiteHazy) math.min(1.4, profileK) else profileK
    val suspects = steady.keys.toSeq.sorted.filter { k =>
      profile.get(k).exists(p =>
        steady(k) > entryTrip(p, suiteHazy, profileK) * p && steady(k) > floor)
    }
    (suiteHazy, trip, suspects)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Shuffle partitions default to the core count (right for the sf0.1
    // contract) but scale UP for soak runs at larger sf — partitions are
    // sized to fit per-task state in memory, so a 50x corpus in the same
    // 32 partitions carries 50x the per-partition data (the production
    // rule: scale partitions with data, ~128-200 MB each; AQE coalesces
    // the small stages back down at runtime).
    val shuffleP = sys.env.get("SPARK_GRAFT_SHUFFLE").fold(cpus)(_.toInt)
    val spark = core.SessionConfigs.local(cpus, shuffleP)
    // untimed JVM/codegen/reader warm-up so the alphabetically-first query
    // doesn't absorb one-time session cost
    Seq("lineitem", "documents", "embeddings", "orders").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => }
    }
    // scans alone leave the shuffle/join/aggregate/explode machinery cold —
    // the first query with those shapes otherwise absorbs ~20s of Janino/JIT
    // compilation (measured: d_clusters 27s cold vs 3.5s steady). One tiny
    // query through those paths pays that cost outside every timed region.
    try {
      import org.apache.spark.sql.functions._
      val d = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      d.as("a").join(d.as("b"), "w").groupBy(col("w"))
        .agg(count(lit(1))).count()
    } catch { case _: Throwable => }
    // Self-defense against machine load: a fixed CPU-bound calibration
    // query (no table data, pure range->hash->agg) runs before the suite,
    // after it, and every 25 queries IN BETWEEN. The r7 lesson: endpoint
    // agreement alone is blind both to constant load (both ends slow by
    // the same factor) and to bursts that land between the endpoints —
    // BENCH_r07 recorded a 19% inflated suite with agreeing endpoint
    // calibrations. Three gates now trip `contended`:
    //   1. endpoint disagreement > 2x (the original transient detector),
    //   2. ANY calibration sample > 2x the recorded idle reference
    //      (constant or bursty load, wherever it lands),
    //   3. ambient load average AT START > 2x its idle reference (the
    //      pre-run machine state, before our own work pollutes the 1-min
    //      average).
    // The idle references were measured on this build box with the suite
    // quiesced (cal 0.30-0.47 s warm-to-cold, load 1.5-2.5) and are env-
    // overridable for different hardware.
    val calRef = sys.env.getOrElse("SPARK_GRAFT_CAL_REF", "0.35").toDouble
    val loadRef = sys.env.getOrElse("SPARK_GRAFT_LOAD_REF", "2.5").toDouble
    def loadAvg(): Double =
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
    // Bounded idle-wait (r8 verdict ask #1): starting a suite into a loaded
    // box guarantees a contended artifact, so before the first pass AND
    // before each retry, poll the 1-min load average until it drops under
    // the ambient gate or the budget runs out. The budget is bounded —
    // persistent co-tenant load won't clear, and the contended flag plus
    // per-query minima across attempts carry that case.
    val idleWaitMax = sys.env.getOrElse("SPARK_GRAFT_IDLE_WAIT", "240").toDouble
    def waitForIdle(): Unit = {
      var waited = 0.0
      while (loadAvg() > 2.0 * loadRef && waited < idleWaitMax) {
        System.err.println(
          f"[bench] load ${loadAvg()}%.2f > ${2.0 * loadRef}%.2f — waiting " +
            f"for idle (${waited}%.0f/${idleWaitMax}%.0f s)")
        Thread.sleep(10000); waited += 10
      }
    }
    def calibrate(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.range(0, 20000000L, 1, cpus)
        .select(xxhash64(org.apache.spark.sql.functions.col("id")).as("h"))
        .groupBy(pmod(org.apache.spark.sql.functions.col("h"), lit(1024)))
        .count().count()
      (System.nanoTime() - t0) / 1e9
    }

    // `cals` are the gating samples (tripped mid-suite samples replaced by
    // their warmed re-sample); `calsRaw` additionally keeps every sample
    // the re-sample discarded, so a suite that trips repeatedly — a load
    // burst shorter than the ~1 s re-sample window — is still visible in
    // the artifact even though the gate (by design) forgives it.
    // `failed` maps each query that threw to its error; it is in no total.
    case class Pass(cals: Seq[Double], calsRaw: Seq[Double],
        loadStart: Double, results: Map[String, QTime],
        failed: Map[String, String]) {
      def calStart: Double = cals.head
      def calEnd: Double = cals.last
      def total: Double =
        if (results.nonEmpty) results.values.map(_.steady).sum else 0.0
      def endpointsDisagree: Boolean =
        math.max(calStart, calEnd) / math.max(1e-9, math.min(calStart, calEnd)) > 2.0
      def absSlow: Boolean = cals.max > 2.0 * calRef
      def ambientLoaded: Boolean = loadStart > 2.0 * loadRef
      def contended: Boolean = endpointsDisagree || absSlow || ambientLoaded
      def trippedSamples: Int = calsRaw.count(_ > 2.0 * calRef) -
        cals.count(_ > 2.0 * calRef)
    }

    def measure(): Pass = {
      val loadStart = loadAvg()
      // each measured calibration is preceded by an untimed warm-up call:
      // the suite's ~128 query plans evict this shape's codegen/JIT state, so
      // an unwarmed end measurement reads ~2x slow on an idle box and would
      // false-flag contention — both ends must measure the same (warm) state
      calibrate()
      val cals = scala.collection.mutable.ArrayBuffer(calibrate())
      val calsRaw = scala.collection.mutable.ArrayBuffer(cals.head)
      var sinceCal = 0
      val timed = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
        def once(): Double = {
          val t0 = System.nanoTime()
          // noop-write, NOT .count(): under count(), Catalyst's count-star
          // column pruning deletes every computed column a query doesn't
          // aggregate over — a projection-shaped query (string transforms,
          // PII scrub, casts) or a cardinality-preserving top join
          // (q_clustcoef's left join collapses to its left side) would be
          // timed as little more than a metadata row count. Measured
          // under-measurement before this fix: str_case 13x, t_pii 5.9x,
          // g_ufuncs 4.5x, q_clustcoef 4.0x (count vs noop-write A/B, sf0.1).
          // The noop sink consumes every output column, so the timed region
          // is the plan the graded Verify dump actually executes.
          // Caches a query pinned (e.g. LSH signatures) are dropped OUTSIDE
          // the timed region: queries are independent; accumulated cache
          // blocks would evict each other's checkpoints and skew later
          // timings.
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } finally spark.sharedState.cacheManager.clearCache()
        }
        val qt = timeQuery(() => once())
        qt match {
          case Right(t) => System.err.println(
            f"[bench] $name%-20s ${t.steady}%8.2fs  (first ${t.first}%.2fs, runs ${t.runs})")
          case Left(e) => System.err.println(s"[bench] $name failed: $e")
        }
        // mid-suite calibration sample (~0.3 s each, ~8 per full pass):
        // catches the load burst that lands BETWEEN the endpoints. A
        // tripped sample gets ONE warmed re-sample before it counts —
        // at ~200 queries the suite's plan diversity evicts this shape's
        // codegen deeply enough that a cold sample plus the previous
        // query's GC tail reads ~0.95 s on an IDLE box (measured, r8),
        // which false-flagged entire runs; machine load is sustained and
        // survives the re-sample, a JIT/GC tail does not.
        sinceCal += 1
        if (sinceCal >= 25) {
          var c = calibrate()
          calsRaw += c
          if (c > 2.0 * calRef) {
            calibrate()
            val re = calibrate()
            calsRaw += re
            c = math.min(c, re)
          }
          cals += c
          sinceCal = 0
        }
        name -> qt
      }
      calibrate()
      val end = calibrate()
      cals += end
      calsRaw += end
      Pass(cals.toSeq, calsRaw.toSeq, loadStart,
        timed.collect { case (k, Right(t)) => k -> t }.toMap,
        timed.collect { case (k, Left(e)) => k -> e }.toMap)
    }

    // Auto-retry: a contended recording is not decision-grade (r4, r5 and
    // r8 all shipped one), so a contended pass earns up to `maxAttempts`
    // full suite runs, each preceded by the bounded idle-wait — transient
    // load (a co-tenant build, a GC storm) usually clears. The reported
    // per-query values are the MINIMUM across every attempt: contention
    // only ever inflates a timing, so the min is the best steady estimate
    // available, and even an artifact that stays flagged carries usable
    // per-query numbers (the r8 failure mode: one contended pass as the
    // round's official record, 45% above steady).
    val maxAttempts = sys.env.getOrElse("SPARK_GRAFT_ATTEMPTS", "3").toInt
    val passes = scala.collection.mutable.ArrayBuffer[Pass]()
    while (passes.size < maxAttempts && passes.lastOption.forall(_.contended)) {
      passes.lastOption.foreach { p =>
        System.err.println(
          f"[bench] contended pass ${passes.size} (cals " +
            f"${p.cals.map(c => f"$c%.3f").mkString("/")}, " +
            f"load_start ${p.loadStart}%.2f); retrying " +
            f"(${passes.size + 1}/$maxAttempts)")
      }
      waitForIdle()
      passes += measure()
    }
    val retried = passes.size > 1
    val contended = passes.last.contended // false iff some pass was clean
    // a query that failed in any attempt is reported under `failed` and
    // left out of every value below: the time it took to fail is no timing
    val failed = passes.flatMap(_.failed.keys).toSet
    // merged view: per-query min(steady) across attempts; `first` from the
    // first attempt (the only genuinely cold one); runs summed
    val merged0: Map[String, QTime] = passes.flatMap(_.results.toSeq)
      .filterNot { case (k, _) => failed(k) }
      .groupBy(_._1).map { case (k, vs) =>
        k -> QTime(vs.map(_._2.steady).min, vs.head._2.first,
          vs.map(_._2.runs).sum)
      }.toMap

    // Per-query steady-profile lockfile (r9 verdict ask #2): the suite's
    // calibration gates catch SUSTAINED load, but a 1.5-1.9x ambient haze
    // slides under the 2x trip and becomes the round's official per-query
    // record (r9: s_cartesian 4.54 s in a "clean" artifact vs ~1.1 steady).
    // docs/BENCH_STEADY.json holds the committed idle close-out profile;
    // after the pass, every query whose time exceeds profileK x its
    // profile entry (and an absolute floor — sub-second wobble is JIT
    // depth, not load) earns an idle-wait plus targeted re-runs, and the
    // artifact reports what stayed over in `over_profile` instead of
    // presenting a phantom as the record. Regenerate on INTENTIONAL
    // performance changes with SPARK_GRAFT_WRITE_PROFILE=1 (same
    // discipline as the plan fingerprints; PlanQualitySpec pins key
    // symmetry so the profile can't silently go stale).
    //
    // REPRICING RULE (r11 hygiene ask #8, the str_categorical precedent):
    // when a DELIBERATE cost change lands in an operator (an extra
    // guard job, a new gate, a plan change), the affected entries are
    // repriced in docs/BENCH_STEADY.json IN THE SAME COMMIT — measured
    // on an idle box, full-suite runs only (half-suite runs measure
    // lower steadies because codegen eviction pressure is lower, and a
    // minima-merged profile then chronically trips the suite guard).
    // A stale profile turns every intentional change into a phantom
    // "regression" annotation; a same-commit repricing keeps the
    // lockfile meaning "idle steady for the code as committed".
    val profilePath =
      sys.env.getOrElse("SPARK_GRAFT_PROFILE", "docs/BENCH_STEADY.json")
    val profileK = sys.env.getOrElse("SPARK_GRAFT_PROFILE_K", "2.0").toDouble
    val profileFloor =
      sys.env.getOrElse("SPARK_GRAFT_PROFILE_FLOOR", "0.5").toDouble
    val profile: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(profilePath)), "UTF-8")
        """"([^"]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    // Suite-total haze trigger (r10 verdict ask #5): entries at 1.5-1.9x
    // profile slide under the 2x per-entry trip and become the round's
    // official record (r10: q_pagerank 1.59x, q_modularity 1.80x). The
    // selection logic is the pure [[hazeTrip]] (unit-tested); when the
    // suite total runs >1.1x the profile sum, the per-entry trip
    // tightens to 1.4x so the whole hazy band re-runs.
    val (suiteHazy, tripK, suspects) = hazeTrip(
      merged0.map { case (k, v) => k -> v.steady },
      profile, profileK, profileFloor)
    if (suiteHazy) System.err.println(
      f"[bench] suite total over 1.1x the profile sum " +
        f"— tightening re-run trip to ${tripK}%.1fx")
    def rerun(name: String): Double = {
      val fn = SparkEntry.queries(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        // a FAILED re-run must never become the record: merged takes
        // min(original, rerun), so returning the failure's elapsed time
        // would bias the official steady value in the fast direction
        // (the phantom-entry class this guard exists to eliminate)
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] rerun $name failed: ${e.getMessage}")
          spark.sharedState.cacheManager.clearCache()
          return Double.MaxValue
        }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        dt
      }
      math.min(once(), once())
    }
    val merged: Map[String, QTime] =
      if (suspects.isEmpty) merged0
      else {
        System.err.println(s"[bench] ${suspects.size} queries over " +
          f"$tripK%.1fx their steady profile — idle-wait + targeted re-run: " +
          suspects.mkString(", "))
        waitForIdle()
        merged0 ++ suspects.map { k =>
          val again = rerun(k)
          System.err.println(
            f"[bench] rerun $k%-20s ${merged0(k).steady}%8.2fs -> $again%.2fs " +
              f"(profile ${profile(k)}%.2fs)")
          k -> QTime(math.min(merged0(k).steady, again), merged0(k).first,
            merged0(k).runs + 2)
        }
      }
    // what is STILL over profile after the targeted re-run: annotated in
    // the artifact so a hazy entry reads as hazy, never as the record
    val overProfile = merged.toSeq.sortBy(_._1).collect {
      case (k, v) if profile.get(k).exists(p =>
        v.steady > entryTrip(p, suiteHazy, profileK) * p &&
          v.steady > profileFloor) =>
        k -> (v.steady / profile(k))
    }
    if (sys.env.contains("SPARK_GRAFT_WRITE_PROFILE")) {
      val body = merged.toSeq.sortBy(_._1)
        .map { case (k, v) => f""""$k": ${v.steady}%.3f""" }
        .mkString("{\n  ", ",\n  ", "\n}\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(profilePath),
        body.getBytes("UTF-8")): Unit
      System.err.println(
        s"[bench] wrote ${merged.size}-query steady profile to $profilePath")
    }
    val totalMin =
      if (merged.nonEmpty) merged.values.map(_.steady).sum else 0.0
    // calibration metadata from the decision pass: the clean one, else the
    // least-contended (lowest max calibration)
    val pass = passes.find(!_.contended).getOrElse(passes.minBy(_.cals.max))

    def fmt(v: Double): String = f"$v%.3f"
    // Full per-query map (steady/first/runs) to stderr for local inspection.
    System.err.println(merged.toSeq.sortBy(-_._2.steady)
      .map { case (k, v) => s"""\"$k\":[${fmt(v.steady)},${fmt(v.first)},${v.runs}]""" }
      .mkString("[bench-full] {", ",", "}"))
    // The driver keeps only the tail of the build output, so the stdout JSON
    // line must stay SHORT: report the total plus the slowest queries, capped
    // so line + sbt's trailing "[success] ..." banner fit well under 2000 chars.
    def capped(entries: Iterator[String], budget: Int): Seq[String] =
      entries.scanLeft(("", 0)) { case ((_, len), s) => (s, len + s.length + 1) }
        .drop(1).takeWhile(_._2 < budget).map(_._1).toSeq
    val qs = capped(merged.toSeq.sortBy(-_._2.steady).iterator
      .map { case (k, v) => s"""\"$k\":${fmt(v.steady)}""" }, 1000)
      .mkString("{", ",", "}")
    // warm-up metadata: the JIT-depth-bound queries (first/steady > 2x —
    // exactly the set that earned a third run) with their cold/steady
    // ratios, so a reader can tell compilation noise from regression
    // without the stderr log. Capped like `queries`.
    val wj = capped(merged.toSeq
      .filter(_._2.warmRatio > 2.0).sortBy(-_._2.warmRatio).iterator
      .map { case (k, v) => s"""\"$k\":${f"${v.warmRatio}%.1f"}""" }, 300)
      .mkString("{", ",", "}")
    val passTotals = passes.map(p => fmt(p.total)).mkString("[", ",", "]")
    val overJson = capped(overProfile.iterator
      .map { case (k, r) => s""""$k":${f"$r%.2f"}""" }, 300)
      .mkString("{", ",", "}")
    val failedJson = capped(failed.toSeq.sorted.iterator.map(k => s""""$k""""), 300)
      .mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${fmt(totalMin)},"unit":"sec","n_queries":${merged.size},"cal_start":${fmt(pass.calStart)},"cal_end":${fmt(pass.calEnd)},"cal_max":${fmt(pass.cals.max)},"cal_raw_max":${fmt(pass.calsRaw.max)},"cal_tripped_n":${pass.trippedSamples},"cal_ref":${fmt(calRef)},"load_start":${fmt(pass.loadStart)},"load_avg":${fmt(loadAvg())},"contended":$contended,"attempts":${passes.size},"pass_totals":$passTotals,"retried":$retried,"profile_n":${profile.size},"profile_rerun_n":${suspects.size},"suite_hazy":$suiteHazy,"profile_trip":${fmt(tripK)},"over_profile":$overJson,"steady_min_runs":3,"action":"noop-write","warmup_ratio_gt2":$wj,"failed":$failedJson,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
