package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at one layer boundary. Times are epoch milliseconds;
  * `exec` is the query execution the span belongs to ("" when none). */
final case class Span(id: String, parent: String, name: String, start: Double, end: Double,
    exec: String, attrs: Map[String, Double] = Map.empty) {
  def json: String = Json.obj(Seq("id" -> id, "parent" -> parent, "name" -> name,
    "start" -> start, "end" -> end, "exec" -> exec) ++ attrs.toSeq.sortBy(_._1))
}

/** Wall clock with sub-millisecond resolution, on the same epoch-ms scale
  * as the timestamps Spark puts on listener events. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms(nano: Long): Double = baseMs + (nano - baseNano) / 1e6
}

/** Records spans from Spark's public listener APIs while attached: one per
  * job (parented by the harness span named in the job's local properties),
  * one per stage with its tasks' metrics summed, and one per Catalyst
  * analysis / optimization / planning phase of every query execution the
  * session reports (with the scan time its scans recorded). Everything
  * stays in memory until [[spans]] is called at the end of the run. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val harness = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.Map[(Int, Int), Stage]()
  private val qes = mutable.ArrayBuffer[Qe]()

  def add(span: Span): Unit = synchronized { harness += span }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Detaches after every event already posted has been delivered. */
  def detach(): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    jobs(e.jobId) = Job(prop(ExecKey), prop(SpanKey), e.time.toDouble, Double.NaN)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate((i.stageId, i.attemptNumber()), new Stage)
    s.start = i.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
    s.end = i.completionTime.map(_.toDouble).getOrElse(Double.NaN)
    s.done = true
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new Stage)
    s.add("tasks", 1)
    s.add("task_ms", e.taskInfo.duration.toDouble)
    val m = e.taskMetrics
    if (m != null) {
      s.add("run_ms", m.executorRunTime.toDouble)
      s.add("cpu_ns", m.executorCpuTime.toDouble)
      s.add("gc_ms", m.jvmGCTime.toDouble)
      s.add("spill_bytes", m.diskBytesSpilled.toDouble)
      s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      s.add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      s.add("shuffle_write_ns", m.shuffleWriteMetrics.writeTime.toDouble)
      s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      s.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      s.add("input_records", m.inputMetrics.recordsRead.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val scans = try scanMetrics(qe.executedPlan) catch { case NonFatal(_) => Nil }
    synchronized { qes += Qe(s"qe${qes.size}", phases(qe), scans) }
  }

  /** Records the phases `qe` has run so far under the id `id`. */
  def addPhases(id: String, qe: QueryExecution): Unit =
    synchronized { qes += Qe(id, phases(qe), Nil) }

  /** Every span recorded so far. A phase span is given to the harness span
    * (build or action call) whose interval holds its start; a job's span to
    * the harness span it was submitted under. */
  def spans(): Seq[Span] = synchronized {
    val calls = harness.filter(s => s.name == "build" || s.name == "action")
    def callAt(t: Double) = calls.find(c => c.start <= t && t <= c.end)
    val jobSpans = jobs.toSeq.sortBy(_._1).map { case (id, j) =>
      Span(s"job$id", j.parent, "job", j.start, j.end, j.exec)
    }
    val execOfJob = jobs.map { case (id, j) => id -> j.exec }
    val stageSpans = stages.toSeq.sortBy(_._1).collect { case ((id, attempt), s) if s.done =>
      val job = stageJob.get(id)
      Span(s"stage$id.$attempt", job.map(j => s"job$j").getOrElse(""), "stage", s.start, s.end,
        job.flatMap(execOfJob.get).getOrElse(""), s.metrics.toMap)
    }
    // a scan metric is one accumulator however many plans (a command and
    // the query under it) reach it: count each accumulator once
    val seen = mutable.Set[Long]()
    val qeSpans = qes.flatMap { q =>
      val call = q.phases.headOption.flatMap(p => callAt(p._2))
      val scanMs = q.scans.collect { case (id, v) if seen.add(id) => v }.sum
      q.phases.map { case (name, start, end) =>
        Span(s"${q.id}.$name", call.map(_.id).getOrElse(""), s"plans.$name", start, end,
          call.map(_.exec).getOrElse(""),
          if (name == "planning") Map("scan_ms" -> scanMs.toDouble) else Map.empty)
      }
    }
    harness.toSeq ++ jobSpans ++ stageSpans ++ qeSpans
  }
}

object Tracer {
  val ExecKey = "perfbench.exec"
  val SpanKey = "perfbench.span"
  private val Phases = Set("analysis", "optimization", "planning")

  private final case class Job(exec: String, parent: String, start: Double, var end: Double)
  private final class Stage {
    var start, end = Double.NaN
    var done = false
    val metrics = mutable.Map[String, Double]()
    def add(k: String, v: Double): Unit = metrics(k) = metrics.getOrElse(k, 0.0) + v
  }
  private final case class Qe(id: String, phases: Seq[(String, Double, Double)],
      scans: Seq[(Long, Long)])

  private def phases(qe: QueryExecution): Seq[(String, Double, Double)] =
    qe.tracker.phases.toSeq.collect {
      case (name, p) if Phases.contains(name) => (name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }

  /** (accumulator id, value) of every "scanTime" SQL metric in the plan,
    * walking into adaptive final plans, query stages, subqueries and the
    * physical plan a command result wraps. */
  def scanMetrics(root: SparkPlan): Seq[(Long, Long)] = {
    val out = mutable.ArrayBuffer[(Long, Long)]()
    def visit(p: SparkPlan): Unit = {
      p.metrics.get("scanTime").foreach(m => out += (m.id -> m.value))
      val next = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children ++ other.subqueries ++
          other.innerChildren.collect { case c: SparkPlan => c }
      }
      next.foreach(visit)
    }
    visit(root)
    out.toSeq
  }
}
