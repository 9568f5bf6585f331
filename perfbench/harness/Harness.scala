package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.io.Source
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** One closed-loop client over graft's public entry points.
  *
  * Each query is built with `SparkEntry.queries(name)(spark, dir)` (the
  * build call: eager graph loops run their rounds here) and run with a
  * noop-format write (the action call: it consumes every output column, so
  * count-star pruning cannot shrink the plan). The next query starts only
  * after the previous one has finished.
  *
  * A run: start the session, run every query once untimed while checking
  * its output digest (set-up ends here), then run passes over the query
  * list, each in the order the plan file gives, until the measuring time
  * is used up: untimed warm-up passes first, then timed ones.
  * Blocks a query cached are released between queries, outside the timed
  * region. A query that throws or fails its check is never timed again.
  * In a traced run, passes alternate untraced / traced, so the same run
  * yields the tracing overhead.
  *
  * Usage: perfbench.Harness <plan file> <output dir>. The plan file is
  * written by run.py; records go to <output dir>/records.jsonl and, when
  * traced, spans to <output dir>/spans.jsonl.
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame
  val MinPasses = 3

  final case class Plan(data: String, cores: Int, seconds: Double, trace: Boolean,
      expected: Seq[(String, Digest.Value)], orders: Seq[Seq[String]])

  object Plan {
    def read(path: String): Plan = {
      val lines = Source.fromFile(path).getLines().map(_.split(" ").toSeq).toSeq
      def one(key: String) = lines.collectFirst { case `key` +: Seq(v) => v }
        .getOrElse(sys.error(s"plan file lacks '$key'"))
      Plan(one("data"), one("cores").toInt, one("seconds").toDouble, one("trace") == "1",
        lines.collect { case "query" +: Seq(n, rows, hash) => n -> Digest.Value(rows.toLong, hash) },
        lines.collect { case "order" +: names => names })
    }
  }

  def main(args: Array[String]): Unit = {
    val plan = Plan.read(args(0))
    val spark = session(plan.cores, new File(args(1), "tmp").getAbsolutePath)
    try run(spark, graft.SparkEntry.queries, plan, new File(args(1)))
    finally spark.stop()
  }

  /** The session graft.Bench uses, with `cores` cores and as many shuffle
    * partitions, and Spark's temporary files under `tmp`. */
  def session(cores: Int, tmp: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private lazy val os =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (every thread), in seconds. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Peak resident set size of this process, in MB (VmHWM). */
  def peakRssMb(): Double =
    Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  def run(spark: SparkSession, queries: Map[String, Query], plan: Plan, out: File): Unit = {
    out.mkdirs()
    val records = new PrintWriter(new File(out, "records.jsonl"))
    def emit(kind: String, fields: (String, Any)*): Unit = {
      records.println(Json.obj(("type" -> kind) +: fields))
      records.flush()
    }
    val sc = spark.sparkContext

    def release(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    val runnable = mutable.LinkedHashSet[String]()
    for ((name, expected) <- plan.expected) {
      val t0 = System.nanoTime()
      val outcome = try {
        val obs = Observation(s"digest_$name")
        Digest.observe(queries(name)(spark, plan.data), obs)
          .write.format("noop").mode("overwrite").save()
        val got = Digest.read(obs)
        // a negative row count asks for the digest to be recorded, not checked
        if (got == expected || expected.rows < 0) Right(got)
        else Left(s"digest $got, expected $expected")
      } catch { case NonFatal(e) => Left(s"threw $e") }
      release()
      emit("check", "query" -> name, "ok" -> outcome.isRight,
        "digest" -> outcome.toOption.map(_.toString), "error" -> outcome.left.toOption,
        "wall_s" -> (System.nanoTime() - t0) / 1e9)
      if (outcome.isRight) runnable += name
      else System.err.println(s"[perfbench] $name failed its check: ${outcome.left.getOrElse("")}")
    }
    val started = ProcessHandle.current().info().startInstant().get().toEpochMilli
    emit("setup", "setup_s" -> (System.currentTimeMillis() - started) / 1e3)

    val tracer = if (plan.trace) Some(new Tracer(spark)) else None
    var pass = 0
    def runPass(warmup: Boolean, traced: Boolean): Double = {
      if (traced) tracer.foreach(_.attach())
      val p0 = System.nanoTime()
      for (name <- plan.orders(pass) if runnable(name)) {
        val exec = s"p$pass.$name"
        sc.setLocalProperty(Tracer.ExecKey, exec)
        sc.setLocalProperty(Tracer.SpanKey, s"$exec.build")
        val c0 = cpuSeconds()
        val b0 = System.nanoTime()
        val (b1, a1, error) = try {
          val df = queries(name)(spark, plan.data)
          val b1 = System.nanoTime()
          // the built frame's own analysis: the write below only analyses
          // the command that wraps it, so the listener never sees this phase
          if (traced) tracer.foreach(_.addPhases(s"$exec.df", df.queryExecution))
          sc.setLocalProperty(Tracer.SpanKey, s"$exec.action")
          df.write.format("noop").mode("overwrite").save()
          (b1, System.nanoTime(), None)
        } catch { case NonFatal(e) => (b0, System.nanoTime(), Some(e.toString)) }
        val c1 = cpuSeconds()
        sc.setLocalProperty(Tracer.ExecKey, null)
        sc.setLocalProperty(Tracer.SpanKey, null)
        if (traced) tracer.foreach { t =>
          t.add(Span(exec, s"pass$pass", "exec", Clock.ms(b0), Clock.ms(a1), exec, Map("pass" -> pass)))
          t.add(Span(s"$exec.build", exec, "build", Clock.ms(b0), Clock.ms(b1), exec))
          t.add(Span(s"$exec.action", exec, "action", Clock.ms(b1), Clock.ms(a1), exec))
        }
        release()
        emit("exec", "pass" -> pass, "query" -> name, "warmup" -> warmup, "traced" -> traced,
          "ok" -> error.isEmpty, "error" -> error, "wall_s" -> (a1 - b0) / 1e9,
          "build_s" -> (b1 - b0) / 1e9, "cpu_s" -> (c1 - c0))
        if (error.nonEmpty) {
          runnable -= name
          System.err.println(s"[perfbench] $name threw in pass $pass: ${error.get}")
        }
      }
      if (traced) tracer.foreach { t =>
        t.detach()
        t.add(Span(s"pass$pass", "run", "pass", Clock.ms(p0), Clock.ms(System.nanoTime()), ""))
      }
      emit("pass", "pass" -> pass, "warmup" -> warmup, "traced" -> traced)
      pass += 1
      (System.nanoTime() - p0) / 1e9
    }

    // The measuring time opens with untimed warm-up passes, while the next
    // one (as long as the last) still ends within its first half, and at
    // least one: after the single check execution the JIT has not yet
    // compiled the hot paths, and short passes keep getting faster for
    // about ten seconds. Timed passes follow while the next one still fits
    // in the measuring time, but at least MinPasses of them; in a traced
    // run every second timed pass is traced, and at least two are.
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    var lastPass = 0.0
    while (pass < plan.orders.size && (pass == 0 || elapsed + lastPass <= plan.seconds / 2))
      lastPass = runPass(warmup = true, traced = false)
    val t0 = System.nanoTime()
    var timed = 0
    while (pass < plan.orders.size && (timed < MinPasses || elapsed + lastPass <= plan.seconds ||
        (tracer.isDefined && timed < 4))) {
      lastPass = runPass(warmup = false, traced = tracer.isDefined && timed % 2 == 1)
      timed += 1
    }
    emit("end", "passes" -> pass, "measure_s" -> elapsed, "peak_rss_mb" -> peakRssMb())
    tracer.foreach { t =>
      t.add(Span("run", "", "run", Clock.ms(t0), Clock.ms(System.nanoTime()), ""))
      val w = new PrintWriter(new File(out, "spans.jsonl"))
      try t.spans().foreach(s => w.println(s.json)) finally w.close()
    }
    records.close()
  }
}
