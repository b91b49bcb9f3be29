package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What every workload needs from the run. */
final case class Ctx(spark: SparkSession, repo: File, work: File, seed: Long)

/**
 * One workload: its inputs, its ops and the check of their outputs.
 * An op is one unit of timed work; `kinds` lists the ops of one sweep
 * in the order they run.
 */
trait Workload {
  /** Writes the seeded inputs into `dir`. */
  def generate(dir: File): Unit
  /** Untimed passes before measurement; returns a failure, if any. */
  def warm(): Option[String]
  /** The seconds of each untimed warm-up op, where there are such ops. */
  def warmOpSeconds: Seq[Double] = Nil
  def kinds(sweep: Int): Seq[String]
  /** Runs one op and returns the seconds that count as its time. */
  def run(kind: String, op: Long, tr: Tracer): Double
  /** Times, apart from op `op`, the layers it calls inside the program
    * through their own public entry points; nothing where the op's own
    * spans already cover every layer. */
  def timeLayers(kind: String, op: Long, tr: Tracer): Unit = ()
  /** Checks the op's output and removes it; returns a failure, if any. */
  def check(kind: String, op: Long): Option[String]
  def sourceRows: Long
  def sourceBytes: Long
}

object Workload {
  def apply(name: String, ctx: Ctx): Option[Workload] = name match {
    case "etl_skip" => Some(new EtlSkip(ctx))
    case "corpus_curate" => Some(new CorpusCurate(ctx))
    case "query_surface" => Some(new QuerySurface(ctx))
    case _ => None
  }

  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  def read(f: File): String = new String(Files.readAllBytes(f.toPath), UTF_8)
}

/** A workload whose op is one `cli.Main.run` of a playbook. */
abstract class PlaybookWorkload(ctx: Ctx) extends Workload {
  protected var input: File = _
  private def outDir(op: Long) = new File(ctx.work, s"out/op$op")

  /** The playbook text for one op, writing under `out`. */
  protected def playbook(out: File): String

  def kinds(sweep: Int): Seq[String] = Seq("op")

  private def writePlaybook(out: File): File = {
    out.mkdirs()
    val cfg = new File(out, "pb.yaml")
    Files.write(cfg.toPath, playbook(out).getBytes(UTF_8))
    cfg
  }

  def run(kind: String, op: Long, tr: Tracer): Double = {
    val cfg = writePlaybook(outDir(op))
    val t0 = Clock.nowMs
    tr.span("cli")(graft.cli.Main.run(ctx.spark, graft.cli.Main.Args(config = cfg.getPath)))
    (Clock.nowMs - t0) / 1000.0
  }

  /** The config and compile layers, timed through
    * `PlaybookLoader.fromFile` and `PipelineCompiler.compile` on an
    * output directory of their own. `cli.Main.run` makes both calls
    * itself, so making them inside the op would count their jobs twice.
    * What compile materialized is released the way `cli.Main.run`
    * releases it. */
  override def timeLayers(kind: String, op: Long, tr: Tracer): Unit = {
    val out = new File(ctx.work, s"out/layers$op")
    try {
      val cfg = writePlaybook(out)
      val pb = tr.span("config")(graft.config.PlaybookLoader.fromFile(cfg.getPath))
      tr.span("compile")(graft.compile.PipelineCompiler.compile(ctx.spark, pb))
    } finally {
      graft.ops.CachedRelations.releaseAll()
      Workload.rmTree(out)
    }
  }

  def check(kind: String, op: Long): Option[String] = {
    val out = outDir(op)
    try verify(out) finally Workload.rmTree(out)
  }

  protected def verify(out: File): Option[String]

  /** Untimed ops before measurement: op times fall over the first ops
    * of a JVM while the JIT compiles, and timing those would measure how
    * far warm-up had got. */
  protected def warmOps: Int
  private val warmTimes = mutable.ArrayBuffer.empty[Double]
  override def warmOpSeconds: Seq[Double] = warmTimes.toSeq

  def warm(): Option[String] = {
    var failure: Option[String] = None
    var op = 0L
    while (failure.isEmpty && op < warmOps) {
      op += 1
      warmTimes += run("op", -op, new Tracer(-op, on = false))
      failure = check("op", -op)
    }
    failure
  }
}

/**
 * `etl_skip`: a playbook shaped like examples/classic_etl.yaml over a
 * seeded CSV source — filter, Go-semantics mappings with a strict cast
 * and a regex validation, `max` dedup, a single-file CSV sink and an
 * error sidecar, in skip mode with logErrors.
 */
final class EtlSkip(ctx: Ctx) extends PlaybookWorkload(ctx) {
  val rows = 24000
  val files = 8
  protected val warmOps = 8
  private var truth: EtlTruth = _

  def generate(dir: File): Unit = {
    truth = EtlGen.write(dir, ctx.seed, rows, files)
    input = dir
  }
  def sourceRows: Long = truth.rows
  def sourceBytes: Long = truth.sourceBytes

  protected def playbook(out: File): String =
    s"""source:
       |  type: csv
       |  file: ${input.getPath}
       |destination:
       |  type: csv
       |  file: ${out.getPath}/clean.csv
       |filter: "kind != 'purchase'"
       |mappings:
       |  - {source: id, target: id}
       |  - {source: user, target: user, transform: toString}
       |  - {source: amount, target: amount_f, transform: mustToFloat}
       |  - {source: email, target: email, transform: "validateRegex:^\\\\S+@\\\\S+$$"}
       |  - {source: kind, target: kind, transform: toUpperCase}
       |deduplication:
       |  keys: [user]
       |  strategy: max
       |  strategyField: amount_f
       |errorHandling:
       |  mode: skip
       |  logErrors: true
       |  errorFile: ${out.getPath}/errors.csv
       |""".stripMargin

  protected def verify(out: File): Option[String] = {
    def table(name: String): (Map[String, Int], Seq[Array[String]]) = {
      val f = new File(out, name)
      if (!f.exists()) return (Map.empty, Nil)
      val lines = Workload.read(f).split("\n").toSeq.filter(_.nonEmpty)
      (lines.head.split(",", -1).zipWithIndex.toMap, lines.tail.map(_.split(",", -1)))
    }
    val (ch, clean) = table("clean.csv")
    val (eh, errs) = table("errors.csv")
    val users = clean.map(r => r(ch("user"))).toSet
    val got = errs.map(r => r(eh("id")) -> r(eh("etl_error_message"))).toMap
    if (clean.size != truth.users.size)
      Some(s"clean rows ${clean.size}, expected ${truth.users.size}")
    else if (users != truth.users) Some("clean users differ from the expected set")
    else if (errs.size != truth.errors.size)
      Some(s"error rows ${errs.size}, expected ${truth.errors.size}")
    else if (got != truth.errors) Some("error sidecar ids or messages differ from the injected errors")
    else None
  }
}

/** `corpus_curate`: the shipped examples/corpus_clean_datasheet.yaml over
  * a seeded corpus resampled from a pool of real documents. */
final class CorpusCurate(ctx: Ctx) extends PlaybookWorkload(ctx) {
  val docs = 3000
  protected val warmOps = 5
  private var truth: CorpusTruth = _
  private lazy val pool: IndexedSeq[Doc] =
    ctx.spark.read.parquet(new File(ctx.repo, "perfbench/data/docs_pool.parquet").getPath)
      .filter(col("text").isNotNull)
      .select("text", "lang", "source").collect()
      .map(r => Doc(r.getString(0), r.getString(1), r.getString(2))).toIndexedSeq

  def generate(dir: File): Unit = {
    val (all, t) = CorpusGen.docs(pool, ctx.seed, docs)
    val rows = all.zipWithIndex.map { case (d, i) =>
      Row(i.toLong + 1, d.text, d.lang, d.source, d.text.length.toLong)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val path = new File(dir, "documents.parquet")
    ctx.spark.createDataFrame(rows.asJava, schema).repartition(4).write.parquet(path.getPath)
    truth = t.copy(sourceBytes = Workload.bytesUnder(path))
    input = dir
  }
  def sourceRows: Long = truth.docs
  def sourceBytes: Long = truth.sourceBytes

  protected def playbook(out: File): String =
    Workload.read(new File(ctx.repo, "examples/corpus_clean_datasheet.yaml"))
      .replace("${GRAFT_DATA}", input.getPath).replace("${GRAFT_OUT}", out.getPath)

  protected def verify(out: File): Option[String] = {
    val card = ctx.spark.read.parquet(new File(out, "datasheet").getPath)
      .agg(count(lit(1)), sum("n_docs"), sum("n_exact_dup_docs")).head()
    val (cells, kept, dups) = (card.getLong(0), card.getLong(1), card.getLong(2))
    if (cells == 0) Some("empty datasheet")
    else if (dups != 0) Some(s"$dups kept documents still share a fingerprint")
    else if (kept > truth.docs - truth.exactDups)
      Some(s"kept $kept documents, more than the ${truth.docs - truth.exactDups} without exact copies")
    else None
  }
}

/**
 * `query_surface`: registry queries over a committed copy of the sf0.01
 * tables, each into the noop sink. Membership is derived from
 * `SparkEntry.queries` and the committed BENCH_DETAIL.json and must equal
 * the bench surface recorded there; the timed subset is every
 * `Stride`-th name of it in sorted order, which keeps one sweep to a few
 * seconds.
 */
final class QuerySurface(ctx: Ctx) extends Workload {
  import QuerySurface._
  private var dataDir: File = _
  private val registry = graft.SparkEntry.queries
  lazy val (membership, timed): (Seq[String], Seq[String]) = select(registry.keySet, ctx.repo)

  def generate(dir: File): Unit = {
    val src = new File(ctx.repo, "perfbench/data/sf0.01")
    dir.mkdirs()
    src.listFiles().foreach(f => Files.copy(f.toPath, new File(dir, f.getName).toPath))
    dataDir = dir
  }
  def sourceRows: Long = 0L
  def sourceBytes: Long = Workload.bytesUnder(dataDir)

  def kinds(sweep: Int): Seq[String] =
    new scala.util.Random(ctx.seed * 1000003L + sweep).shuffle(timed)

  def run(kind: String, op: Long, tr: Tracer): Double = {
    val t0 = Clock.nowMs
    try {
      val df = tr.span("queries")(registry(kind)(ctx.spark, dataDir.getPath))
      df.write.format("noop").mode("overwrite").save()
    } finally graft.ops.CachedRelations.releaseAll()
    (Clock.nowMs - t0) / 1000.0
  }

  def check(kind: String, op: Long): Option[String] = None

  /** The untimed pass: every timed query's row count and
    * order-insensitive hash against the committed fingerprints. */
  def warm(): Option[String] = {
    if (membership.size != BenchSurfaceSize)
      return Some(s"bench surface has ${membership.size} queries, expected $BenchSurfaceSize")
    val expected = fingerprints(ctx.repo)
    val bad = timed.flatMap { q =>
      val got = try fingerprint(registry(q)(ctx.spark, dataDir.getPath))
                finally graft.ops.CachedRelations.releaseAll()
      if (expected.get(q).contains(got)) None else Some(s"$q: $got, expected ${expected.getOrElse(q, "none")}")
    }
    bad.headOption.map(b => s"${bad.size} fingerprint mismatches, first $b")
  }
}

object QuerySurface {
  val BenchSurfaceSize = 291
  val Stride = 24
  /** Bench-surface queries that write index files under a fixed /tmp
    * path, outside the checkout the benchmark may write to. */
  val WritesOutside = Set("q_llm_ann_persist", "q_llm_ann_lsh_persist",
    "q_llm_bpe_fertility_idx", "q_llm_mkn_ppl_idx")

  private def benchDetail(repo: File) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(repo, "BENCH_DETAIL.json"))

  /** (bench surface, timed subset). The surface is every registered
    * query not listed as an oracle fixture; it must name exactly the
    * queries BENCH_DETAIL.json records. */
  def select(registered: collection.Set[String], repo: File): (Seq[String], Seq[String]) = {
    val d = benchDetail(repo)
    val excluded = d.get("excluded_oracle_fixtures").elements().asScala.map(_.asText).toSet
    val benched = d.get("queries").fieldNames().asScala.toSet
    val surface = registered.filterNot(excluded).toSeq.sorted
    val membership = if (surface.toSet == benched) surface else Nil
    val eligible = membership.filterNot(WritesOutside)
    (membership, eligible.indices.filter(_ % Stride == 0).map(eligible))
  }

  def fingerprints(repo: File): Map[String, String] = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(repo, "perfbench/fingerprints.json"))
    n.fieldNames().asScala.map(k => k -> n.get(k).asText).toMap
  }

  /** "<rows>:<sum of xxhash64 over rows>" — independent of row order.
    * Columns are renamed by position (queries may repeat a name) and
    * map-typed ones hashed through their JSON form. */
  def fingerprint(df: DataFrame): String = {
    val byPos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = byPos.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = byPos.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
}

/** Records the fingerprints the query_surface check compares against:
  *   perfbench.RecordFingerprints <repo> <out.json> */
object RecordFingerprints {
  def main(argv: Array[String]): Unit = {
    val Array(repoS, outS) = argv
    val repo = new File(repoS)
    val work = new File(repo, ".bench_work/fingerprints")
    val spark = Main.session(work)
    val data = new File(repo, "perfbench/data/sf0.01").getPath
    val (membership, _) = QuerySurface.select(graft.SparkEntry.queries.keySet, repo)
    val fps = membership.filterNot(QuerySurface.WritesOutside).map { q =>
      val fp = try QuerySurface.fingerprint(graft.SparkEntry.queries(q)(spark, data))
               finally graft.ops.CachedRelations.releaseAll()
      s"  ${Json.str(q)}: ${Json.str(fp)}"
    }
    Files.write(Paths.get(outS), fps.mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
    spark.stop()
    Workload.rmTree(work)
  }
}
