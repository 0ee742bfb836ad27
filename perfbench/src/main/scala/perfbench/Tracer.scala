package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. It is the only place the benchmark hooks
  * into Spark: a `SparkListener` for job, stage and task records, a
  * `QueryExecutionListener` for planning phases and scan metrics, and
  * driver-side spans around the benchmark's own calls. Nothing here is
  * installed in an untraced run.
  *
  * Every span carries the op it belongs to. Jobs find their op through
  * the op's job group; stages through their job; tasks through their
  * stage; query executions through the wall-clock millisecond their
  * planning began, which falls inside their op's window (ops run one at
  * a time on one thread, and Spark stamps phases in epoch ms). */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Tracer._

  private val sc = spark.sparkContext
  // one clock for driver and listener times: epoch microseconds
  private val baseUs = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000 + t.getNano / 1000
  }
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000

  val spans = mutable.ArrayBuffer[Span]()
  val ops = mutable.ArrayBuffer[Op]()
  /** Open driver spans of the running op, innermost first. */
  private var stack: List[Long] = Nil
  private var nextId = 0L
  private def newId(): Long = synchronized { nextId += 1; nextId }

  // ----------------------------------------------------------- attach

  private var attached = false
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(this); spark.listenerManager.register(this)
    attached = true
  }
  def detach(): Unit = if (attached) {
    drain(); sc.removeSparkListener(this); spark.listenerManager.unregister(this)
    attached = false
  }
  def drain(): Unit = org.apache.spark.perfbench.BusDrain(sc)

  // ---------------------------------------------------- driver spans

  /** Starts an op (one timed unit of workload work). `kind` is "loop"
    * for workload ops, "write" for write statements, "setup" otherwise. */
  def beginOp(cls: String, kind: String): Op = {
    val op = Op(newId(), cls, kind, nowUs, System.currentTimeMillis(),
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, gcTimeMs())
    synchronized { ops += op }
    sc.setJobGroup(s"$GroupPrefix${op.id}", cls, interruptOnCancel = false)
    stack = op.id :: stack
    op
  }

  def endOp(op: Op, rowsReturned: Long): Unit = {
    op.endUs = nowUs
    op.endMs = System.currentTimeMillis()
    op.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - op.compiles0
    op.gcMs = gcTimeMs() - op.gc0
    op.rowsReturned = rowsReturned
    stack = stack.tail
    sc.clearJobGroup()
    synchronized { spans += Span(op.id, 0, "op", op.id, op.startUs, op.endUs) }
  }

  /** A span around a call made on the op's thread. */
  def span[T](name: String, op: Op)(f: => T): T = {
    val id = newId()
    val parent = stack.headOption.getOrElse(op.id)
    stack = id :: stack
    val s = nowUs
    try f finally {
      stack = stack.tail
      synchronized { spans += Span(id, parent, name, op.id, s, nowUs) }
    }
  }

  // ------------------------------------------------- spark listener

  private val jobs = mutable.Map[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.Map[(Int, Int), StageRec]()
  val tasks = mutable.ArrayBuffer[TaskRec]()

  private def opOfGroup(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOfGroup(e.properties).foreach { op =>
      jobs(e.jobId) = JobRec(e.jobId, op, e.time * 1000)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endUs = e.time * 1000)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (job <- stageJob.get(i.stageId); j <- jobs.get(job);
         s <- i.submissionTime; c <- i.completionTime)
      stages((i.stageId, i.attemptNumber())) =
        StageRec(i.stageId, i.attemptNumber(), j.id, s * 1000, c * 1000)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { job =>
      tasks += TaskRec(e.stageId, e.stageAttemptId, job,
        e.taskInfo.launchTime * 1000, e.taskInfo.finishTime * 1000,
        m.executorRunTime, m.executorCpuTime / 1e6, m.executorDeserializeTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead)
    }
  }

  // ------------------------------------------ query execution listener

  val executions = mutable.ArrayBuffer[ExecRec]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val started = phases.values.map(_.startTimeMs).minOption
    val scans = graftScans(qe.executedPlan)
    def metric(n: String) = scans.flatMap(_.metrics.get(n)).map(_.value).sum
    val rec = ExecRec(started.getOrElse(Long.MaxValue),
      phases.map { case (k, v) => k -> v.durationMs.toDouble }.toMap,
      metric("regionsTotal"), metric("regionsScanned"),
      metric("readPartitions"), metric("numOutputRows"))
    synchronized { executions += rec }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  // ------------------------------------------------------- analysis

  /** Spans of jobs, stages and tasks, parented job -> innermost driver
    * span of the op open at submission, stage -> job, task -> stage. */
  def engineSpans(): Seq[Span] = synchronized {
    val byOp = spans.filter(_.name != "op").groupBy(_.op)
    val jobSpans = jobs.values.filter(_.endUs > 0).map { j =>
      val parent = byOp.getOrElse(j.op, Nil)
        .filter(s => s.startUs <= j.startUs && j.startUs <= s.endUs)
        .sortBy(s => s.endUs - s.startUs).headOption.map(_.id).getOrElse(j.op)
      Span(-(j.id.toLong + 1), parent, "job", j.op, j.startUs, j.endUs)
    }.toSeq
    val stageSpans = stages.values.map { s =>
      Span(stageSpanId(s.stageId, s.attempt), -(s.job.toLong + 1), "stage",
        jobs(s.job).op, s.startUs, s.endUs)
    }.toSeq
    val taskSpans = tasks.flatMap { t =>
      stages.get((t.stage, t.attempt)).map(s => Span(0, stageSpanId(s.stageId, s.attempt),
        "task", jobs(t.job).op, t.launchUs, t.finishUs))
    }
    jobSpans ++ stageSpans ++ taskSpans
  }
  private def stageSpanId(stage: Int, attempt: Int): Long =
    -(1L << 40) - stage.toLong * 1000 - attempt

  /** Job records of an op, for scheduling waits. */
  def jobsOf(op: Long): Seq[JobRec] = synchronized { jobs.values.filter(_.op == op).toSeq }
  def tasksOf(op: Long): Seq[TaskRec] = synchronized {
    tasks.filter(t => jobs.get(t.job).exists(_.op == op)).toSeq
  }
  def stagesOf(op: Long): Int = synchronized { stages.values.count(s => jobs(s.job).op == op) }
  /** Executions whose planning began in the op's window, both in epoch
    * ms; half-open, so a call made right after the op is not counted. */
  def executionsOf(o: Op): Seq[ExecRec] = synchronized {
    executions.filter(e => e.startMs >= o.startMs && e.startMs < o.endMs).toSeq
  }
}

object Tracer {
  private val GroupPrefix = "perfbench-op-"

  /** Collection time of every JVM collector so far (ms). In local mode
    * the driver and the executor share the JVM, so this is all GC. */
  def gcTimeMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  final case class Span(id: Long, parent: Long, name: String, op: Long,
      startUs: Long, endUs: Long) {
    def durUs: Long = endUs - startUs
  }
  final case class Op(id: Long, cls: String, kind: String, startUs: Long,
      startMs: Long, compiles0: Long, gc0: Long) {
    var endUs = 0L
    var endMs = 0L
    var gcMs = 0L
    var compiles = 0L
    var rowsReturned = 0L
  }
  final case class JobRec(id: Int, op: Long, startUs: Long) { var endUs = 0L }
  final case class StageRec(stageId: Int, attempt: Int, job: Int,
      startUs: Long, endUs: Long)
  final case class TaskRec(stage: Int, attempt: Int, job: Int, launchUs: Long,
      finishUs: Long, runMs: Long, cpuMs: Double, deserMs: Long,
      shuffleRead: Long, shuffleWrite: Long, inputBytes: Long, records: Long)
  final case class ExecRec(startMs: Long, phases: Map[String, Double],
      regionsTotal: Long, regionsScanned: Long, readPartitions: Long,
      rowsRead: Long)

  /** GraftScan nodes of a physical plan, through adaptive wrappers and
    * subqueries. A reused exchange is skipped: its scan ran once. */
  def graftScans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => graftScans(a.executedPlan)
    case s: QueryStageExec => graftScans(s.plan)
    case _: ReusedExchangeExec => Nil
    case other =>
      (if (other.metrics.contains("regionsTotal")) Seq(other) else Nil) ++
        other.children.flatMap(graftScans) ++ other.subqueries.flatMap(graftScans)
  }

  /** Time in [s, e) covered by `ivs` (µs). */
  def covered(s: Long, e: Long, ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur = s
    ivs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => a < b }.sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, cur)
        if (b > from) { total += b - from; cur = b }
      }
    total
  }

  /** Self time per span name: each span's duration minus the part its
    * children cover (µs, summed over spans). */
  def selfTimes(all: Seq[Span]): Map[String, Long] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val c = if (s.id == 0) Nil else kids.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
        s.durUs - covered(s.startUs, s.endUs, c)
      }.sum
    }
  }
}
