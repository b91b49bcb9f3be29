package graft.obs

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did inside one [[Layers]] window. Executor times are
  * summed over tasks, so on a multi-core run they can exceed the
  * window's wall time; the Catalyst phases are summed over the
  * window's actions, which run one after another. */
final class LayerCounts {
  var jobs, stages, stagesSkipped, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes, inputRecords = 0L
  var actions, analysisMs, optimizationMs, planningMs = 0L

  def fields: Seq[(String, Long)] = Seq("analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs, "actions" -> actions,
    "jobs" -> jobs, "stages" -> stages, "stages_skipped" -> stagesSkipped, "tasks" -> tasks,
    "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1000000L, "gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "input_records" -> inputRecords)
}

/** One open measurement window; see [[Layers.open]]. */
final class Window private[obs] (owner: Layers, sc: SparkContext, val id: Long) {
  val counts = new LayerCounts
  private var closed = false

  /** Stops tagging this thread's jobs, waits until the listener bus has
    * delivered every event posted so far, then freezes [[counts]].
    * Idempotent. Later events (tasks of a failed job still being
    * killed) are dropped, never credited to another window. */
  def close(): LayerCounts = {
    if (!closed) {
      closed = true
      sc.setLocalProperty(Layers.WindowKey, null)
      // a drain that times out leaves the counts incomplete, not wrong
      try BusDrain.drain(sc, 60000L)
      catch { case _: java.util.concurrent.TimeoutException => () }
      owner.release(this)
    }
    counts
  }
}

/** The engine's per-execution instrument: a `SparkListener` for the
  * execution counts of [[LayerCounts]] and a `QueryExecutionListener`
  * for each action's Catalyst phase times (`QueryExecution.tracker`).
  *
  * One window is open per context at a time (the bench is serial). Jobs
  * carry the window id in a local property of the opening thread, which
  * Spark copies into its broadcast and subquery threads, and a stage's
  * tasks follow the job that listed it, so a job that outlives its
  * window never counts in the next one. Phase times carry no tag: they
  * are posted before the action returns and the close drains the bus,
  * so they go to the window open at delivery. */
final class Layers private () extends SparkListener with QueryExecutionListener {
  private var current: Window = null
  private var nextId = 0L
  /** Stages listed by the open window's jobs, and those it ran. */
  private val stageWindow = mutable.Map.empty[Int, Window]
  private val ran = mutable.Set.empty[Int]

  private def open(sc: SparkContext): Window = synchronized {
    require(current == null, "a Layers window is already open on this context")
    nextId += 1
    current = new Window(this, sc, nextId)
    sc.setLocalProperty(Layers.WindowKey, nextId.toString)
    current
  }

  // skipped: listed by a job of the window but run by none (output existed)
  private[obs] def release(w: Window): Unit = synchronized {
    if (current eq w) current = null
    val listed = stageWindow.collect { case (id, sw) if sw eq w => id }
    w.counts.stagesSkipped = listed.count(!ran(_)).toLong
    stageWindow --= listed
    ran --= listed
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Layers.WindowKey)))
      .flatMap(id => Option(current).filter(_.id == id.toLong)).foreach { w =>
        w.counts.jobs += 1
        e.stageIds.foreach(stageWindow(_) = w)
      }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageWindow.get(id).foreach { w => w.counts.stages += 1; ran += id }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageWindow.get(e.stageId).foreach { w =>
      val c = w.counts
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  private def phases(qe: QueryExecution): Unit = synchronized {
    Option(current).map(_.counts).foreach { c =>
      def ms(phase: String) = qe.tracker.phases.get(phase).map(_.durationMs).getOrElse(0L)
      c.actions += 1
      c.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
      c.optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
      c.planningMs += ms(QueryPlanningTracker.PLANNING)
    }
  }
}

object Layers {
  private[obs] val WindowKey = "graft.obs.window"
  // weak keys: a stopped context or session is not kept alive here
  private val byContext = new java.util.WeakHashMap[SparkContext, Layers]()
  private val sessions = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Opens a window on `spark`; the first call on a context or session
    * registers the instrument there, later calls find it. The caller
    * closes the window in a `finally`. */
  def open(spark: SparkSession): Window = {
    val sc = spark.sparkContext
    val layers = synchronized {
      val l = byContext.computeIfAbsent(sc, { _ => val l = new Layers; sc.addSparkListener(l); l })
      if (sessions.add(spark)) spark.listenerManager.register(l)
      l
    }
    layers.open(sc)
  }
}
