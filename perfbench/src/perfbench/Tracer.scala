package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Where a workload marks its calls into graft's public API. */
trait Spans {
  def call[T](name: String)(body: => T): T
}

/** Tracing off: calls run bare. */
object NoSpans extends Spans {
  def call[T](name: String)(body: => T): T = body
}

/** Exchanges that redistribute rows by key (hash, range, round-robin).
  * Single-partition gathers (global aggregates, limits) and broadcasts
  * are not counted: they do not shuffle the relation. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def exchanges(plan: SparkPlan): Int = collectWithSubqueries(plan) {
    case e: ShuffleExchangeLike if e.outputPartitioning != SinglePartition => 1
  }.size
}

/** The traced run's recorder, entirely outside the engine.
  *
  * Driver spans (request, API call) are timed here. Each request sets a
  * job group and each API call a local property, so every Spark job is
  * tied to its request and call; SQL executions (actions), jobs and
  * stages come from this SparkListener, planning phases and executed
  * plans from this QueryExecutionListener. Everything stays in memory
  * until [[write]]. Requests run one at a time and the listeners are
  * attached only while a traced request runs; after it the bus is drained,
  * so everything it posted belongs to that request. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with Spans {
  private val sc = spark.sparkContext
  private val SpanProp = "perfbench.span"
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private final class DSpan(val id: Int, val name: String, val kind: String,
                            val parent: Int, val start: Double) {
    var end: Double = Double.NaN
  }
  private final class JobRec(val id: Int, val start: Long, val group: String,
                             val span: Int, val exec: Long) {
    var end: Long = -1L
  }
  private final class StageRec(val id: Int, val attempt: Int, val job: Int,
                               val name: String, val start: Long) {
    var end = -1L
    var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L
    var shufW = 0L; var shufR = 0L; var spill = 0L; var peakMem = 0L; var written = 0L
  }
  private final class ExecRec(val id: Long, val desc: String, val start: Long) {
    var end = -1L
  }
  private final class QeRec(val planningS: Double, val exchanges: Int)

  private val driverSpans = mutable.ArrayBuffer[DSpan]()
  private var current = 0
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  private val execs = mutable.LinkedHashMap[Long, ExecRec]()
  private val qes = mutable.ArrayBuffer[QeRec]()
  /** Per-request layer metrics, in request order. */
  val perRequest = mutable.ArrayBuffer[Map[String, Double]]()

  private def open(name: String, kind: String): DSpan = {
    val s = new DSpan(driverSpans.length + 1, name, kind, current, nowMs)
    driverSpans += s
    current = s.id
    s
  }
  private def finish(s: DSpan): Unit = { s.end = nowMs; current = s.parent }

  def call[T](name: String)(body: => T): T = {
    val s = open(name, "call")
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally { sc.setLocalProperty(SpanProp, prev); finish(s) }
  }

  /** Runs one request under its own job group with the listeners
    * attached, then records its metrics. */
  def request[T](idx: Int)(body: => T): T = {
    PerfbenchBus.drain(sc)
    synchronized(qes.clear())
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    val s = open(s"request $idx", "request")
    sc.setJobGroup(group(s.id), s"perfbench request $idx")
    try body
    finally {
      finish(s)
      sc.clearJobGroup()
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(this)
      spark.listenerManager.unregister(this)
      perRequest += requestMetrics(s)
    }
  }

  private def group(spanId: Int) = s"perfbench-$spanId"

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private def requestMetrics(req: DSpan): Map[String, Double] = synchronized {
    val g = group(req.id)
    val js = jobs.values.filter(_.group == g).toSeq
    val jobIds = js.map(_.id).toSet
    val ss = stages.values.filter(s => jobIds(s.job)).toSeq
    val wallMs = req.end - req.start
    val busyMs = union(js.map(j => (math.max(j.start.toDouble, req.start),
      math.min((if (j.end < 0) req.end else j.end.toDouble), req.end))))
    val cpuS = ss.map(_.cpuNs).sum / 1e9
    val base = Map[String, Double](
      "job.jobs" -> js.size,
      "job.stages" -> ss.size,
      "job.tasks" -> ss.map(_.tasks).sum,
      "job.executor_run_s" -> ss.map(_.runMs).sum / 1e3,
      "job.executor_cpu_s" -> cpuS,
      "job.cpu_per_wall" -> cpuS / (wallMs / 1e3),
      "job.gc_s" -> ss.map(_.gcMs).sum / 1e3,
      "job.sched_delay_s" -> ss.map(_.schedMs).sum / 1e3,
      "job.busy_frac" -> busyMs / wallMs,
      "driver.gap_s" -> (wallMs - busyMs) / 1e3,
      "driver.actions" -> qes.size,
      "driver.planning_s" -> qes.map(_.planningS).sum,
      "plan.exchanges" -> qes.map(_.exchanges).sum,
      "plan.shuffle_write_bytes" -> ss.map(_.shufW).sum,
      "plan.shuffle_read_bytes" -> ss.map(_.shufR).sum,
      "plan.spill_bytes" -> ss.map(_.spill).sum,
      "plan.peak_exec_mem_bytes" -> (if (ss.isEmpty) 0L else ss.map(_.peakMem).max),
      "plan.bytes_written" -> ss.map(_.written).sum)
    val calls = driverSpans.filter(s => s.parent == req.id && s.kind == "call")
    val perCall = calls.groupBy(_.name).toSeq.flatMap { case (name, cs) =>
      val ids = cs.map(_.id).toSet
      Seq(s"${name}_s" -> cs.map(c => c.end - c.start).sum / 1e3,
        s"${name}_jobs" -> js.count(j => ids(j.span)).toDouble)
    }
    qes.clear()
    base ++ perCall
  }

  // ------------------------------------------------------------ listener

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = new JobRec(e.jobId, e.time, prop("spark.jobGroup.id").orNull,
      prop(SpanProp).map(_.toInt).getOrElse(0),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stages((si.stageId, si.attemptNumber())) = new StageRec(si.stageId, si.attemptNumber(),
      stageJob.getOrElse(si.stageId, -1), si.name,
      si.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stages.get((si.stageId, si.attemptNumber())).foreach(
      _.end = si.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shufW += m.shuffleWriteMetrics.bytesWritten
        s.shufR += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        s.written += m.outputMetrics.bytesWritten
        if (info != null && info.finishTime > 0) {
          val fetch = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
          s.schedMs += math.max(0L, (info.finishTime - info.launchTime) - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - fetch)
        }
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = new ExecRec(s.executionId, s.description, s.time)
    }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(x.executionId).foreach(_.end = x.time)
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val planning = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).flatMap(phases.get).map(_.durationMs).sum / 1e3
    val ex = scala.util.Try(PlanWalk.exchanges(qe.executedPlan)).getOrElse(0)
    synchronized(qes += new QeRec(planning, ex))
  }

  // --------------------------------------------------------------- spans

  /** Every span of the run: requests and API calls (driver-timed),
    * actions (SQL executions), jobs and stages (listener-timed), each with
    * its parent and self time (duration minus the union of its children). */
  def spans(): Seq[Map[String, Any]] = synchronized {
    case class S(id: String, name: String, kind: String, parent: String, start: Double, end: Double)
    val reqOfGroup = driverSpans.filter(_.kind == "request").map(s => group(s.id) -> s"d${s.id}").toMap
    val d = driverSpans.map(s => S(s"d${s.id}", s.name, s.kind,
      if (s.parent == 0) "" else s"d${s.parent}", s.start, s.end))
    def innermost(t: Double): String = d.filter(s => s.start <= t && t <= s.end)
      .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse("")
    val jobsOfExec = jobs.values.groupBy(_.exec)
    val a = execs.values.map { x =>
      val viaJobs = jobsOfExec.getOrElse(x.id, Nil).collectFirst {
        case j if j.span > 0 => s"d${j.span}"
        case j if j.group != null && reqOfGroup.contains(j.group) => reqOfGroup(j.group)
      }
      S(s"a${x.id}", x.desc, "action", viaJobs.getOrElse(innermost(x.start.toDouble)),
        x.start.toDouble, (if (x.end < 0) x.start else x.end).toDouble)
    }
    val j = jobs.values.map { r =>
      val parent =
        if (r.exec >= 0 && execs.contains(r.exec)) s"a${r.exec}"
        else if (r.span > 0) s"d${r.span}"
        else Option(r.group).flatMap(reqOfGroup.get).getOrElse(innermost(r.start.toDouble))
      S(s"j${r.id}", s"job ${r.id}", "job", parent, r.start.toDouble,
        (if (r.end < 0) r.start else r.end).toDouble)
    }
    val st = stages.values.map(s => S(s"s${s.id}.${s.attempt}", s.name, "stage",
      if (s.job >= 0) s"j${s.job}" else "", s.start.toDouble,
      (if (s.end < 0) s.start else s.end).toDouble))
    val all = (d ++ a ++ j ++ st).toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
        "start_ms" -> (s.start - t0Ms), "end_ms" -> (s.end - t0Ms),
        "self_ms" -> ((s.end - s.start) - covered))
    }
  }

  def write(path: String, spanList: Seq[Map[String, Any]]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath,
      Json.render(Json.obj("t0_epoch_ms" -> t0Ms, "spans" -> spanList)) + "\n")
  }
}
