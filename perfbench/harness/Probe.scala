package perfbench

import scala.collection.mutable
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts of one op, summed from Spark's listener events. */
final class OpCounts {
  var jobs, stages, stagesSkipped, tasks, taskRetries = 0L
  var runMs, cpuNs, gcMs, schedDelayMs = 0L
  var inputBytes, inputRecords, outputBytes = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var peakMemBytes = 0L
  var actions = 0L
  var analysisMs, optimizationMs, planningMs = 0L
}

/** A job as the traced run keeps it; `site` is the repo module of its call site. */
final case class JobRec(id: Int, op: Long, execId: Long, start: Long, var end: Long,
                        stageIds: Seq[Int], site: String, submitted: mutable.Set[Int])
final case class StageRec(id: Int, jobId: Int, op: Long, start: Long, var end: Long,
                          var outputBytes: Long)
final case class ExecRec(id: Long, root: Long, op: Long, start: Long, var end: Long, site: String)

/**
 * The benchmark's view into Spark: a SparkListener for jobs, stages,
 * tasks and SQL executions, and a QueryExecutionListener for the
 * Catalyst phase times of each Dataset action. Ops are tagged by the
 * harness with the `perfbench.op` local property, which every job of
 * the op carries; events without it (SQL executions, planning phases)
 * are placed by time into the op window that contains them. Counts
 * are kept for every op; job, stage and execution records only for
 * ops the harness marks as traced.
 */
final class Probe extends SparkListener with QueryExecutionListener {
  import Probe._

  private val counts = mutable.LinkedHashMap.empty[Long, OpCounts]
  private val windows = mutable.ArrayBuffer.empty[(Long, Double, Double)]
  private val tracedOps = mutable.Set.empty[Long]
  private val activeJobs = mutable.Map.empty[Int, JobRec]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val stageRecs = mutable.Map.empty[Int, StageRec]
  private val execSite = mutable.Map.empty[Long, String]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stageList = mutable.ArrayBuffer.empty[StageRec]
  val execs = mutable.ArrayBuffer.empty[ExecRec]

  def begin(op: Long, traced: Boolean, startMs: Double): Unit = synchronized {
    counts(op) = new OpCounts
    if (traced) tracedOps += op
    windows += ((op, startMs, Double.MaxValue))
  }

  def end(op: Long, endMs: Double): Unit = synchronized {
    val i = windows.lastIndexWhere(_._1 == op)
    if (i >= 0) windows(i) = windows(i).copy(_3 = endMs)
  }

  def countsOf(op: Long): OpCounts = synchronized(counts.getOrElse(op, new OpCounts))

  /** The op whose window holds `t` (ms), or -1; listener clocks tick in
    * whole milliseconds, so a window is widened by one at each end. */
  private def opAt(t: Double): Long =
    windows.reverseIterator.find(w => t >= w._2 - 1 && t <= w._3 + 1).map(_._1).getOrElse(-1L)

  private def traced(op: Long) = op >= 0 && tracedOps(op)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpKey))).map(_.toLong).getOrElse(opAt(e.time.toDouble))
    val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(stageOp(_) = op)
    val finalStage = e.stageInfos.sortBy(_.stageId).lastOption
    val site = finalStage.map(s => moduleOf(s.details)).filter(_ != Unattributed)
      .orElse(execSite.get(execId)).getOrElse(Unattributed)
    val rec = JobRec(e.jobId, op, execId, e.time, -1L, e.stageIds, site, mutable.Set.empty)
    activeJobs(e.jobId) = rec
    counts.get(op).foreach(_.jobs += 1)
    if (traced(op)) jobs += rec
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    activeJobs.remove(e.jobId).foreach { j =>
      j.end = e.time
      counts.get(j.op).foreach(_.stagesSkipped += j.stageIds.count(s => !j.submitted(s)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val owner = activeJobs.values.filter(_.stageIds.contains(id)).toSeq.sortBy(-_.id).headOption
    owner.foreach(_.submitted += id)
    val op = stageOp.getOrElse(id, -1L)
    if (traced(op))
      stageRecs(id) = StageRec(id, owner.map(_.id).getOrElse(-1), op,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()), -1L, 0L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    counts.get(stageOp.getOrElse(id, -1L)).foreach(_.stages += 1)
    stageRecs.remove(id).foreach { s =>
      s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      stageList += s
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val op = stageOp.getOrElse(e.stageId, -1L)
    counts.get(op).foreach { c =>
      val info = e.taskInfo
      c.tasks += 1
      if (info.attemptNumber > 0 || e.reason != Success) c.taskRetries += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakMemBytes = math.max(c.peakMemBytes, m.peakExecutionMemory)
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        stageRecs.get(e.stageId).foreach(_.outputBytes += m.outputMetrics.bytesWritten)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val site = moduleOf(s.details)
      execSite(s.executionId) = site
      val op = opAt(s.time.toDouble)
      if (traced(op))
        execs += ExecRec(s.executionId, s.rootExecutionId.getOrElse(s.executionId), op, s.time, -1L, site)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.find(_.id == s.executionId).foreach(_.end = s.time)
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    val start = ph.values.map(_.startTimeMs).filter(_ > 0).minOption.getOrElse(System.currentTimeMillis())
    val op = opAt(start.toDouble)
    counts.get(op).foreach { c =>
      c.actions += 1
      def ms(name: String) = ph.get(name).map(_.durationMs).getOrElse(0L)
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
    }
  }
}

object Probe {
  val OpKey = "perfbench.op"
  /** The id of the window in which a traced op's layer calls are timed. */
  def layersOf(op: Long): Long = op + (1L << 40)
  val Unattributed = "other"

  private val attached = new java.util.concurrent.ConcurrentHashMap[SparkContext, Probe]()
  private val sessions = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  /** One probe per SparkContext, registered with the context and with
    * each session's listener manager at most once. */
  def attach(spark: SparkSession): Probe = {
    val p = attached.computeIfAbsent(spark.sparkContext, { sc =>
      val probe = new Probe
      sc.addSparkListener(probe)
      probe
    })
    if (sessions.add(spark)) spark.listenerManager.register(p)
    p
  }

  private val GraftFrame = """(?m)^(?:\S*/)?graft\.([A-Za-z_]\w*)[.$]""".r

  /** The repo module (`cli`, `io`, `ops`, `compile`, `queries`, …) of
    * the innermost `graft.*` frame of a Spark call site; top-level
    * `graft` objects map to `graft`. */
  def moduleOf(callSite: String): String =
    Option(callSite).flatMap(GraftFrame.findFirstMatchIn).map { m =>
      val first = m.group(1)
      if (first.head.isUpper) "graft" else first
    }.getOrElse(Unattributed)
}
