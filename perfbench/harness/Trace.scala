package perfbench

import scala.collection.mutable

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same scale as the times Spark stamps on listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A span the harness records around a call into one layer. */
final case class Span(layer: String, op: Long, start: Double, end: Double)

/** Records the harness's own spans; a no-op for untraced ops. */
final class Tracer(val op: Long, val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  def span[T](layer: String)(f: => T): T =
    if (!on) f
    else {
      val t0 = Clock.nowMs
      try f finally spans += Span(layer, op, t0, Clock.nowMs)
    }
}

/** Per-op layer numbers of a traced op. */
final case class OpLayers(self: Map[String, Double], values: Map[String, Double], tree: Seq[Node]) {
  /** The op's numbers with the config and compile layers taken from
    * its layer calls, which are timed apart from the op. */
  def withLayerCalls(calls: OpLayers): OpLayers = OpLayers(
    self ++ Trace.CallLayers.map(l => l -> calls.self(l)),
    values ++ Trace.CallValues.map(v => v -> calls.values(v)),
    tree ++ calls.tree)
}

final case class Node(id: String, layer: String, parent: String, start: Double, end: Double,
                      var self: Double = 0.0)

/**
 * Builds the span tree of one traced op — op, then the harness's
 * query-build/cli spans, then Dataset actions (SQL executions), then
 * jobs, then stages — and computes each span's self time: its duration
 * minus the part of it its children cover. The op's layer calls (the
 * config and compile spans, under a `layer_calls` root) get a tree of
 * their own, built the same way.
 */
object Trace {
  val Layers = Seq("op", "config", "compile", "queries", "cli", "plan", "exec.job", "exec.stage")
  val Sites = Seq("cli", "io", "ops", "compile", "queries", "transforms", "other")
  val LayerCalls = "layer_calls"
  val CallLayers = Seq("config", "compile")
  val CallValues = Seq("config.load_s", "compile.build_s", "compile.jobs")

  /** `spans` as one tracer recorded them; the root, which encloses the
    * others, is recorded last. */
  def analyse(op: Long, spans: Seq[Span], probe: Probe): OpLayers = {
    val nodes = mutable.ArrayBuffer.empty[Node]
    val rootId = s"h$op.${spans.size - 1}"
    val harness = spans.zipWithIndex.map { case (s, i) =>
      val id = s"h$op.$i"
      Node(id, s.layer, if (id == rootId) "" else rootId, s.start, s.end)
    }
    nodes ++= harness
    def innermost(t: Double): Node =
      harness.filter(n => t >= n.start - 1 && t <= n.end + 1)
        .minByOption(n => n.end - n.start).getOrElse(harness.last)
    val execs = probe.execs.filter(_.op == op)
    execs.foreach { x =>
      val parent = if (x.root != x.id && execs.exists(_.id == x.root)) s"x${x.root}"
                   else innermost(x.start.toDouble).id
      nodes += Node(s"x${x.id}", "plan", parent, x.start, math.max(x.end, x.start).toDouble)
    }
    val jobs = probe.jobs.filter(_.op == op)
    jobs.foreach { j =>
      val parent = if (execs.exists(_.id == j.execId)) s"x${j.execId}" else innermost(j.start.toDouble).id
      nodes += Node(s"j${j.id}", "exec.job", parent, j.start, math.max(j.end, j.start).toDouble)
    }
    probe.stageList.filter(_.op == op).foreach { s =>
      val parent = if (jobs.exists(_.id == s.jobId)) s"j${s.jobId}" else rootId
      nodes += Node(s"s${s.id}", "exec.stage", parent, s.start, math.max(s.end, s.start).toDouble)
    }
    val children = nodes.groupBy(_.parent)
    nodes.foreach { n =>
      val kids = children.getOrElse(n.id, Nil).toSeq
        .map(k => (math.max(k.start, n.start), math.min(k.end, n.end)))
      n.self = math.max(0.0, (n.end - n.start) - union(kids)) / 1000.0
    }
    val self = Layers.map(l => l -> nodes.filter(_.layer == l).map(_.self).sum).toMap

    // jobs whose ancestor chain reaches the compile span
    val byId = nodes.map(n => n.id -> n).toMap
    def under(n: Node, layer: String): Boolean =
      n.layer == layer || byId.get(n.parent).exists(under(_, layer))
    val compileJobs = nodes.count(n => n.layer == "exec.job" && under(n, "compile"))
    val sites = Sites.flatMap { m =>
      val js = jobs.filter(j => (if (Sites.contains(j.site)) j.site else "other") == m)
      Seq(s"site.$m.jobs" -> js.size.toDouble,
          s"site.$m.job_s" -> js.map(j => math.max(0L, j.end - j.start)).sum / 1000.0)
    }
    val writeStages = probe.stageList.filter(s => s.op == op && s.outputBytes > 0)
    val values = Map(
      "compile.jobs" -> compileJobs.toDouble,
      "io.write_s" -> writeStages.map(s => math.max(0L, s.end - s.start)).sum / 1000.0,
      "config.load_s" -> spans.filter(_.layer == "config").map(s => s.end - s.start).sum / 1000.0,
      "compile.build_s" -> nodes.filter(_.layer == "compile").map(_.self).sum,
      "queries.build_s" -> nodes.filter(_.layer == "queries").map(_.self).sum) ++ sites
    OpLayers(self, values, nodes.toSeq)
  }

  /** Total length of the union of intervals. */
  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
