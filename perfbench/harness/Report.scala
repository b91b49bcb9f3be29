package perfbench

/**
 * Turns one run's op records into metrics. End-to-end metrics come from
 * every op of an untraced run; per-layer metrics from the traced ops of
 * a traced run. A metric that is "per op" is, for a workload with
 * several op kinds (query_surface), the sum over kinds of each kind's
 * median, so the layers add up the way `surface_s` does.
 */
final case class Report(workload: String, seed: Long, trace: Boolean, cores: Int, wl: Workload,
                        ops: Seq[OpResult], tracers: Seq[Tracer], layerCalls: Seq[Tracer], probe: Probe,
                        setup: Map[String, Double], context: Map[String, Double],
                        warmFailure: Option[String]) {
  import Main.median

  private val ok = ops.filter(_.failure.isEmpty)
  val attempted: Int = ops.size
  val failed: Int = ops.size - ok.size
  /** Every output was checked and right; a leak fails its op but is not a wrong output. */
  val correct: Boolean = warmFailure.isEmpty && attempted > 0 && ops.forall(_.error.isEmpty)

  /** Sum over op kinds of the kind's median of `f`. */
  private def perOp(xs: Seq[OpResult])(f: OpResult => Double): Double =
    xs.groupBy(_.kind).values.map(g => median(g.map(f))).sum

  private lazy val layers: Seq[(OpResult, OpLayers)] = {
    val byOp = ops.map(o => o.op -> o).toMap
    val calls = layerCalls.map(t => t.op -> t).toMap
    def analyse(t: Tracer) = Trace.analyse(t.op, t.spans.toSeq, probe)
    tracers.flatMap(t => byOp.get(t.op).filter(_.failure.isEmpty).map { o =>
      val l = analyse(t)
      o -> calls.get(Probe.layersOf(t.op)).map(c => l.withLayerCalls(analyse(c))).getOrElse(l)
    })
  }

  def endToEnd: Seq[(String, Double, String)] = {
    val secs = ok.map(_.seconds).sorted
    val n = secs.size
    val p50 = median(secs)
    val surface = perOp(ok)(_.seconds)
    // a playbook workload reads one generated source per op; the query
    // surface scans the whole dataset over a sweep
    val (rows, amp) =
      if (wl.sourceRows > 0) (wl.sourceRows / p50, median(ok.map(_.counts.inputBytes.toDouble)) / wl.sourceBytes)
      else (perOp(ok)(_.counts.inputRecords.toDouble) / surface,
            perOp(ok)(_.counts.inputBytes.toDouble) / wl.sourceBytes)
    Seq(
      ("setup_s", setup("setup_s"), "s"),
      ("op_s_p50", p50, "s"),
      ("op_s_tail", if (n == 0) Double.NaN else secs(tailRank(n) - 1), "s"),
      ("rows_per_s", rows, "1/s"),
      ("surface_s", surface, "s"),
      ("read_amplification", amp, "ratio"),
      ("task_mem_peak_mb", ok.map(_.counts.peakMemBytes).maxOption.getOrElse(0L) / 1048576.0, "MB"),
      ("ok_ratio", if (attempted == 0) 0.0 else ok.size.toDouble / attempted, "ratio"))
  }

  /** Nearest rank (1-based) of the tail: the highest percentile with at
    * least ten samples beyond it, but never below p75, where a run has
    * too few samples for that percentile to be a tail. */
  private def tailPct(n: Int): Double = math.max(75.0, 100.0 * (n - 10) / n)
  private def tailRank(n: Int): Int = math.max(1, math.ceil(tailPct(n) / 100 * n - 1e-9).toInt)

  /** The tail's percentile and the samples beyond it. */
  def tailInfo: Map[String, Double] = {
    val n = ok.size
    if (n == 0) Map("samples" -> 0.0)
    else Map("op_s_tail_pct" -> tailPct(n), "op_s_tail_beyond" -> (n - tailRank(n)).toDouble,
             "samples" -> n.toDouble)
  }

  def perLayer: Seq[(String, Double, String)] = {
    val traced = layers.map(_._1)
    def c(f: OpCounts => Double): Double = perOp(traced)(o => f(o.counts))
    val lv = layers.map { case (o, l) => o.op -> l }.toMap
    def v(name: String): Double = perOp(traced)(o => lv(o.op).values.getOrElse(name, 0.0))
    def self(layer: String): Double = perOp(traced)(o => lv(o.op).self.getOrElse(layer, 0.0))
    val untraced = ok.filter(!_.traced)
    val busy = traced.map(_.counts.runMs).sum / 1000.0 / (traced.map(_.seconds).sum * cores)
    val counted = Seq(
      ("exec.jobs", c(_.jobs.toDouble), "count"),
      ("exec.stages", c(_.stages.toDouble), "count"),
      ("exec.stages_skipped", c(_.stagesSkipped.toDouble), "count"),
      ("exec.tasks", c(_.tasks.toDouble), "count"),
      ("exec.task_retries", c(_.taskRetries.toDouble), "count"),
      ("exec.run_s", c(_.runMs / 1000.0), "s"),
      ("exec.cpu_s", c(_.cpuNs / 1e9), "s"),
      ("exec.gc_s", c(_.gcMs / 1000.0), "s"),
      ("exec.sched_delay_s", c(_.schedDelayMs / 1000.0), "s"),
      ("exec.busy_ratio", busy, "ratio"),
      ("exec.input_bytes", c(_.inputBytes.toDouble), "bytes"),
      ("exec.input_records", c(_.inputRecords.toDouble), "count"),
      ("exec.shuffle_write_bytes", c(_.shuffleWriteBytes.toDouble), "bytes"),
      ("exec.shuffle_read_bytes", c(_.shuffleReadBytes.toDouble), "bytes"),
      ("exec.spill_bytes", c(_.spillBytes.toDouble), "bytes"),
      ("io.output_bytes", c(_.outputBytes.toDouble), "bytes"),
      ("plan.actions", c(_.actions.toDouble), "count"),
      ("plan.analysis_s", c(_.analysisMs / 1000.0), "s"),
      ("plan.optimization_s", c(_.optimizationMs / 1000.0), "s"),
      ("plan.planning_s", c(_.planningMs / 1000.0), "s"))
    val valued = Seq("config.load_s", "compile.build_s", "queries.build_s", "io.write_s")
      .map(n => (n, v(n), "s")) ++
      Seq(("compile.jobs", v("compile.jobs"), "count")) ++
      Trace.Sites.flatMap(m => Seq((s"site.$m.jobs", v(s"site.$m.jobs"), "count"),
                                   (s"site.$m.job_s", v(s"site.$m.job_s"), "s")))
    val selfs = Trace.Layers.map(l => (s"self.${l}_s", self(l), "s"))
    val leaks = Seq(
      ("cache.leaked_rdds", ops.map(_.leakedRdds).sum.toDouble, "count"),
      ("cache.leaked_dirs", ops.map(_.leakedDirs).sum.toDouble, "count"))
    val overhead = perOp(traced)(_.seconds) - perOp(untraced)(_.seconds)
    counted ++ valued ++ selfs ++ leaks ++ Seq(
      ("trace.op_s_p50", median(traced.map(_.seconds)), "s"),
      ("trace.overhead_s", overhead, "s"))
  }

  def metrics: Seq[(String, Double, String)] = if (trace) perLayer else endToEnd

  def json: String = {
    val m = metrics.map { case (k, v, u) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    val opsJson = ops.map { o =>
      s"""{"op":${o.op},"kind":${Json.str(o.kind)},"sweep":${o.sweep},"traced":${o.traced},""" +
      s""""seconds":${Json.num(o.seconds)},"failure":${o.failure.map(Json.str).getOrElse("null")},""" +
      s""""input_bytes":${o.counts.inputBytes},"jobs":${o.counts.jobs},"peak_mem_bytes":${o.counts.peakMemBytes}}"""
    }
    s"""{"workload":${Json.str(workload)},"seed":$seed,"trace":${if (trace) 1 else 0},"cores":$cores,""" +
    s""""correct":$correct,"attempted":$attempted,"failed":$failed,""" +
    s""""warm_failure":${warmFailure.map(Json.str).getOrElse("null")},""" +
    s""""metrics":{${m.mkString(",")}},"setup":${Json.obj(setup)},""" +
    s""""context":${Json.obj(context ++ tailInfo ++ Map("source_rows" -> wl.sourceRows.toDouble,
      "source_bytes" -> wl.sourceBytes.toDouble))},"ops":[${opsJson.mkString(",")}]}"""
  }

  /** Per-op layer numbers, self times and span trees of the traced ops. */
  def traceJson: String = layers.map { case (o, l) =>
    val nodes = l.tree.map(n =>
      s"""{"id":${Json.str(n.id)},"layer":${Json.str(n.layer)},"parent":${Json.str(n.parent)},""" +
      s""""start_ms":${Json.num(n.start)},"end_ms":${Json.num(n.end)},"self_s":${Json.num(n.self)}}""")
    s"""{"op":${o.op},"kind":${Json.str(o.kind)},"seconds":${Json.num(o.seconds)},""" +
    s""""self":${Json.obj(l.self)},"values":${Json.obj(l.values)},"spans":[${nodes.mkString(",")}]}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
}
