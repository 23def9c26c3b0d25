package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the engine did for one span of harness work (a timed op or
  * a layer probe step): the Spark jobs it launched, their tasks' metrics
  * and the planning time of its query executions. */
final class OpRecord(val name: String, val family: String, val group: String,
    val pass: Int) {
  var startMs = 0L
  var endMs = 0L
  var wallNs = 0L
  var planMs = 0L
  var tasks = 0L
  var execRunMs = 0L
  var execCpuNs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var inputB = 0L
  var outputB = 0L
  var unattributed = 0
  val jobs = mutable.ArrayBuffer.empty[JobRecord]

  def wallS: Double = wallNs / 1e9
  def tinyJobs: Int = jobs.count(_.tasks <= 2)
  /** Length of the union of this op's job intervals, in seconds. */
  def jobS: Double = {
    val iv = jobs.filter(_.endMs > 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total / 1e3
  }
  def driverS: Double = math.max(0.0, wallS - jobS)
}

final class JobRecord(val id: Int, val group: String, val startMs: Long) {
  var endMs = 0L
  var tasks = 0
}

/** SparkListener + QueryExecutionListener that attributes engine work to
  * the op currently running. Ops run one at a time and the harness drains
  * the listener bus after each, so every event that arrives while `current`
  * is set belongs to it. A job is attributed when its job group or its
  * `perfbench.op` local property is the op's group (Structured Streaming
  * replaces the job group on its micro-batch thread, which still inherits
  * the property); any other job is counted as unattributed. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var current: OpRecord = _
  private val stageOwner = mutable.Map.empty[Int, JobRecord]
  private val jobById = mutable.Map.empty[Int, (OpRecord, JobRecord)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = current
    if (op != null) {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
      val group = prop("spark.jobGroup.id")
      val j = new JobRecord(e.jobId, group, e.time)
      op.jobs += j
      if (group != op.group && prop(Tracer.OpKey) != op.group) op.unattributed += 1
      jobById(e.jobId) = (op, j)
      e.stageIds.foreach(s => stageOwner(s) = j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach { case (_, j) => j.endMs = e.time }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val op = current
    if (op != null && e.taskMetrics != null) {
      stageOwner.get(e.stageId).foreach(_.tasks += 1)
      val m = e.taskMetrics
      val i = e.taskInfo
      op.tasks += 1
      op.execRunMs += m.executorRunTime
      op.execCpuNs += m.executorCpuTime
      op.gcMs += m.jvmGCTime
      op.schedDelayMs += math.max(0L, (i.finishTime - i.launchTime) -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResultTime > 0)
          i.finishTime - i.gettingResultTime else 0L))
      op.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      op.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      op.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      op.inputB += m.inputMetrics.bytesRead
      op.outputB += m.outputMetrics.bytesWritten
    }
  }

  private def plan(qe: QueryExecution): Unit = synchronized {
    val op = current
    if (op != null) {
      val ph = qe.tracker.phases
      op.planMs += Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plan(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
}

object Tracer {
  /** Local property carrying the op's group to every thread it starts. */
  val OpKey = "perfbench.op"
}
