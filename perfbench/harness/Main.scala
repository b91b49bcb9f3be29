package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One timed op as the run saw it. */
final case class OpResult(op: Long, kind: String, sweep: Int, traced: Boolean, seconds: Double,
                          error: Option[String], leakedRdds: Int, leakedDirs: Int,
                          counts: OpCounts) {
  /** An op fails if it throws, fails its output check, or leaks. */
  def failure: Option[String] = error.orElse(
    if (leakedRdds + leakedDirs > 0) Some(s"leaked $leakedRdds persisted RDDs, $leakedDirs temp dirs")
    else None)
}

/**
 * The benchmark's JVM side: builds the session the way the engine's
 * mains do, sets up one workload, runs its ops as a closed loop from one
 * client for the requested seconds, and writes every metric, the op
 * records and (when traced) the span trees as JSON.
 *
 *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <repo> <work> <result.json> <spawn-epoch-ms>
 */
object Main {
  /** Every op kind gets at least this many samples, whatever the time. */
  val MinSweeps = 3

  /** The session the way the engine's mains build it: `local[nproc]`,
    * nproc shuffle partitions, no UI; Spark's files under `work`. */
  def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.SessionRecipe.workload(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, repoS, workS, resultS, spawnS) = argv
    val mainMs = System.currentTimeMillis()
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val repo = new File(repoS)
    val work = new File(workS)
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = Clock.nowMs
    val spark = session(work)
    val probe = Probe.attach(spark)
    val sessionS = (Clock.nowMs - t0) / 1000.0

    val ctx = Ctx(spark, repo, work, seed)
    val wl = Workload(workload, ctx).getOrElse {
      System.err.println(s"unknown workload: $workload"); sys.exit(2)
    }
    val gaugeBefore = Gauge.seconds()

    // set-up: inputs three times (the median counts), then the warm-up
    val genS = (1 to 3).map { i =>
      val dir = new File(work, s"input$i")
      val g0 = Clock.nowMs
      wl.generate(dir)
      (Clock.nowMs - g0) / 1000.0
    }
    (1 to 2).foreach(i => Workload.rmTree(new File(work, s"input$i")))
    val w0 = Clock.nowMs
    val warmFailure = wl.warm()
    val warmS = (Clock.nowMs - w0) / 1000.0
    val jvmS = (mainMs - spawnS.toLong) / 1000.0
    val setupS = jvmS + sessionS + median(genS) + warmS

    // measurement: whole sweeps while time remains
    val sc = spark.sparkContext
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val results = mutable.ArrayBuffer.empty[OpResult]
    val tracers = mutable.ArrayBuffer.empty[Tracer]
    val layerCalls = mutable.ArrayBuffer.empty[Tracer]
    var nextOp = 0L
    var sweep = 0
    val m0 = Clock.nowMs
    var lastSweepS = 0.0
    def elapsed = (Clock.nowMs - m0) / 1000.0
    while (warmFailure.isEmpty &&
           (sweep < MinSweeps || elapsed + lastSweepS / 2 < seconds) && elapsed < seconds * 3) {
      val s0 = Clock.nowMs
      // a traced run alternates traced and untraced sweeps, so the
      // tracing overhead is measured in the same JVM on the same input
      val traced = trace && sweep % 2 == 0
      wl.kinds(sweep).foreach { kind =>
        nextOp += 1
        val op = nextOp
        val tr = new Tracer(op, traced)
        val rddsBefore = sc.getPersistentRDDs.keySet
        val dirsBefore = Option(tmp.list()).map(_.toSet).getOrElse(Set.empty)
        sc.setLocalProperty(Probe.OpKey, op.toString)
        val start = Clock.nowMs
        probe.begin(op, traced, start)
        var secs = 0.0
        val thrown = try { secs = tr.span("op")(wl.run(kind, op, tr)); None }
                     catch { case e: Throwable => Some(s"threw ${e.getClass.getName}: ${e.getMessage}") }
        probe.end(op, Clock.nowMs)
        sc.setLocalProperty(Probe.OpKey, null)
        val leakedRdds = leftPersisted(sc, rddsBefore)
        val leakedDirs = Option(tmp.list()).map(_.count(n => !dirsBefore(n))).getOrElse(0)
        var error = thrown.orElse(wl.check(kind, op))
        if (traced) {
          // the layers the op calls inside the program, timed apart from
          // it in a window of their own, so the op's counts are its own;
          // they are not leak-checked here, as the op makes the same calls
          val lt = new Tracer(Probe.layersOf(op), on = true)
          sc.setLocalProperty(Probe.OpKey, lt.op.toString)
          probe.begin(lt.op, traced = true, Clock.nowMs)
          try lt.span(Trace.LayerCalls)(wl.timeLayers(kind, op, lt))
          catch { case e: Throwable =>
            error = error.orElse(Some(s"layer calls threw ${e.getClass.getName}: ${e.getMessage}")) }
          probe.end(lt.op, Clock.nowMs)
          sc.setLocalProperty(Probe.OpKey, null)
          tracers += tr
          layerCalls += lt
        }
        results += OpResult(op, kind, sweep, traced, secs, error, leakedRdds, leakedDirs, null)
      }
      lastSweepS = (Clock.nowMs - s0) / 1000.0
      sweep += 1
    }
    val measureS = elapsed
    org.apache.spark.BenchBus.drain(sc)
    val ops = results.map(r => r.copy(counts = probe.countsOf(r.op))).toSeq
    val gaugeAfter = Gauge.seconds()

    val report = Report(workload, seed, trace, cores, wl, ops, tracers.toSeq, layerCalls.toSeq, probe,
      setup = Map("setup_s" -> setupS, "jvm_s" -> jvmS, "session_s" -> sessionS,
        "gen_s" -> median(genS), "warm_s" -> warmS, "measure_s" -> measureS) ++
        wl.warmOpSeconds.zipWithIndex.map { case (s, i) => f"warm_op${i + 1}%02d_s" -> s },
      context = Map("host_gauge_before_s" -> gaugeBefore, "host_gauge_after_s" -> gaugeAfter),
      warmFailure = warmFailure)
    Files.write(new File(resultS).toPath, report.json.getBytes(UTF_8))
    if (trace) Files.write(new File(work, "trace.json").toPath, report.traceJson.getBytes(UTF_8))
    spark.stop()
  }

  /** RDDs the op persisted that are still persisted once unreferenced
    * ones have had the chance to go: Spark unpersists a dropped RDD (a
    * local checkpoint, say) only after a GC, so a survivor of the quick
    * look is given a GC and up to a second before it counts. */
  private def leftPersisted(sc: org.apache.spark.SparkContext,
                            before: collection.Set[Int]): Int = {
    def left = sc.getPersistentRDDs.keySet.count(id => !before(id))
    if (left == 0) return 0
    System.gc()
    val deadline = System.nanoTime() + 1000000000L
    while (left > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    left
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** A fixed pure-CPU loop, timed as context for the host's speed; it
  * never rescales a metric. */
object Gauge {
  def seconds(): Double = {
    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var acc = 0.0
      var i = 0
      while (i < 40000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += (x & 0xFFFF).toDouble * 1e-9
        i += 1
      }
      if (acc < 0) println(acc)
      (System.nanoTime() - t0) / 1e9
    }
    Main.median(runs)
  }
}
