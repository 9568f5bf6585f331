package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query profile of SparkEntry queries, split by layer. For each
  * query, after one untimed warm run, one metered run prints one JSON
  * line:
  *  - `wall_s`, split into `outside_jobs_s` (analysis, planning,
  *    eager-loop control flow) and `inside_jobs_s` (the union of the
  *    Spark jobs' intervals);
  *  - `analysis_s`, `optimization_s`, `planning_s`: the
  *    `QueryExecution.tracker` phase times summed over `plans` query
  *    plans (the built query and every execution Spark reported; eager
  *    operators execute many);
  *  - `task_run_s`, `task_cpu_s`: executor run time and CPU core-seconds;
  *  - `jobs`, `stages`, `tasks`;
  *  - shuffle write/read records and bytes;
  *  - `fallback_exprs`: the `CodegenFallback` expressions in the executed
  *    plan ([[fallbackExprs]]), the query's interpreted expressions.
  * Counts (jobs, stages, tasks, shuffle records, fallback expressions)
  * repeat exactly between runs; times do not.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <query...|all> [--plans <dir>]
  *   `entry` names the flagship `SparkEntry.entry` (the smoke query);
  *   `--plans <dir>` also writes each query's formatted physical plan to
  *   `<dir>/<query>.txt`. Cores and shuffle partitions come from
  *   SPARK_GRAFT_CPUS (default 32), as in Bench. Exits non-zero when a
  *   query fails; its line carries `error` instead of measurements.
  */
object Profile extends AdaptiveSparkPlanHelper {

  final case class Totals(wallS: Double, insideJobsS: Double,
      phasesS: Map[String, Double], plans: Int, taskRunS: Double,
      taskCpuS: Double, jobs: Int, stages: Int, tasks: Long,
      shuffleWriteRecords: Long, shuffleWriteBytes: Long,
      shuffleReadRecords: Long, shuffleReadBytes: Long) {
    def json(query: String, fallbackExprs: Int): String = {
      def s(v: Double) = f"$v%.3f"
      val phases = Seq("analysis", "optimization", "planning")
        .map(p => s"${p}_s" -> s(phasesS.getOrElse(p, 0.0)))
      (Seq("wall_s" -> s(wallS),
        "outside_jobs_s" -> s(math.max(0.0, wallS - insideJobsS)),
        "inside_jobs_s" -> s(insideJobsS)) ++ phases ++ Seq(
        "plans" -> plans, "task_run_s" -> s(taskRunS), "task_cpu_s" -> s(taskCpuS),
        "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
        "shuffle_write_records" -> shuffleWriteRecords,
        "shuffle_write_bytes" -> shuffleWriteBytes,
        "shuffle_read_records" -> shuffleReadRecords,
        "shuffle_read_bytes" -> shuffleReadBytes,
        "fallback_exprs" -> fallbackExprs))
        .map { case (k, v) => s""""$k":$v""" }
        .mkString(s"""{"query":"$query",""", ",", "}")
    }
  }

  /** Sums what Spark reports about everything that runs inside
    * [[measure]]: jobs and their intervals, completed stages with their
    * task metrics, and the phase times of each query execution. Meant for
    * a session that runs one thing at a time. */
  final class Meter(spark: SparkSession) extends SparkListener
      with QueryExecutionListener {
    private val jobStarts = mutable.Map[Int, Long]()
    private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
    private val phaseMs = mutable.Map[String, Long]()
    private var plans, stages = 0
    private var tasks, runMs, cpuNs, wRecs, wBytes, rRecs, rBytes = 0L

    def attach(): Unit = {
      spark.sparkContext.addSparkListener(this)
      spark.listenerManager.register(this)
    }

    def detach(): Unit = {
      org.apache.spark.GraftBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { jobStarts(e.jobId) = e.time }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach(start => jobSpans += ((start, e.time)))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += 1
        tasks += e.stageInfo.numTasks
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          runMs += m.executorRunTime
          cpuNs += m.executorCpuTime
          wRecs += m.shuffleWriteMetrics.recordsWritten
          wBytes += m.shuffleWriteMetrics.bytesWritten
          rRecs += m.shuffleReadMetrics.recordsRead
          rBytes += m.shuffleReadMetrics.totalBytesRead
        }
      }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)

    private def record(qe: QueryExecution): Unit = synchronized {
      plans += 1
      qe.tracker.phases.foreach { case (name, p) =>
        phaseMs(name) = phaseMs.getOrElse(name, 0L) + p.durationMs
      }
    }

    /** Runs `f` once and returns its result with everything Spark
      * reported about it; events of earlier work are drained first. */
    def measure[T](f: => T): (T, Totals) = {
      org.apache.spark.GraftBusDrain(spark.sparkContext)
      synchronized {
        jobStarts.clear(); jobSpans.clear(); phaseMs.clear()
        plans = 0; stages = 0
        tasks = 0; runMs = 0; cpuNs = 0; wRecs = 0; wBytes = 0; rRecs = 0
        rBytes = 0
      }
      val from = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = f
      val wall = (System.nanoTime() - t0) / 1e9
      val to = System.currentTimeMillis()
      org.apache.spark.GraftBusDrain(spark.sparkContext)
      synchronized {
        (r, Totals(wall, union(jobSpans.toSeq, from, to) / 1e3,
          phaseMs.map { case (k, v) => k -> v / 1e3 }.toMap, plans,
          runMs / 1e3, cpuNs / 1e9, jobSpans.size, stages, tasks, wRecs,
          wBytes, rRecs, rBytes))
      }
    }

    /** [[measure]] of building `query` and running it into a noop sink,
      * the action Bench times: count-star pruning cannot shrink the
      * plan. The built plan's own phases (its analysis runs at build)
      * are included. */
    def measureQuery(query: => DataFrame): (DataFrame, Totals) = measure {
      val df = query
      df.write.format("noop").mode("overwrite").save()
      record(df.queryExecution)
      df
    }
  }

  /** The `CodegenFallback` expressions in `plan`, the final adaptive plan
    * and subqueries included. Each evaluates interpreted (a higher-order
    * function interprets its lambda per element), and a projection holding
    * one stays out of whole-stage codegen. A higher-order function counts
    * once: its lambda function and variables are not counted apart.
    * Imperative aggregates such as the partial and final `collect_list`
    * of a ragged build are fallbacks too. */
  private[graft] def fallbackExprs(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case p =>
      p.expressions.map(_.collect {
        case _: LambdaFunction | _: NamedLambdaVariable => 0
        case _: CodegenFallback => 1
      }.sum).sum
    }.sum

  /** Milliseconds of [from, to] covered by at least one of `spans`. */
  private[graft] def union(spans: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    for ((s, e) <- spans.sortBy(_._1)) {
      val lo = math.max(s, reach); val hi = math.min(e, to)
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    covered
  }

  def main(args: Array[String]): Unit = {
    val plansAt = args.indexOf("--plans")
    val plansDir = if (plansAt >= 0) args.lift(plansAt + 1) else None
    val rest = if (plansAt >= 0) args.patch(plansAt, Nil, 2).toSeq else args.toSeq
    require(rest.size >= 2 && (plansAt < 0 || plansDir.isDefined),
      "usage: Profile <sfDir> <query...|all> [--plans <dir>]")
    val dir = rest.head
    val queries: Map[String, (SparkSession, String) => DataFrame] =
      graft.SparkEntry.queries + ("entry" -> ((s, _) => graft.SparkEntry.entry(s)))
    val names =
      if (rest.tail == Seq("all")) graft.SparkEntry.queries.keys.toSeq.sorted
      else rest.tail
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    plansDir.foreach(d => Files.createDirectories(Paths.get(d)))

    val spark = graft.core.SessionConfigs.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val meter = new Meter(spark)
    meter.attach()
    var failed = 0
    for (q <- names) {
      def run(): (DataFrame, Totals) =
        try meter.measureQuery(queries(q)(spark, dir))
        finally spark.sharedState.cacheManager.clearCache()
      try {
        run()
        val (df, t) = run()
        println(t.json(q, fallbackExprs(df.queryExecution.executedPlan)))
        plansDir.foreach { d =>
          Files.writeString(Paths.get(d, s"$q.txt"),
            df.queryExecution.explainString(FormattedMode))
        }
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[profile] $q failed: $e")
        println(s"""{"query":"$q","error":"${e.getClass.getSimpleName}"}""")
      }
    }
    meter.detach()
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
