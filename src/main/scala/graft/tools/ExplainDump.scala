package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

/**
 * Optimization-round plan evidence: dump `.explain("formatted")` of
 * named queries to `plans/<tag>/<query>_<suffix>.txt` at the BENCH
 * session shape (same master/shuffle-partition conf as [[graft.Bench]],
 * same SF dir), so committed plan claims are reproducible. Then runs
 * each query and prints the exchange count of the dumped plan and the
 * ReusedExchange count of the executed one on stderr (adaptive
 * execution reuses exchanges only as it runs, so the dumped plan never
 * shows them).
 *
 *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
 *     sbt "runMain graft.tools.ExplainDump r16 before q_llm_ann_ivf ..."
 */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainDump <tag> <suffix> <query>...")
    val (tag, suffix, names) = (args(0), args(1), args.drop(2))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SessionRecipe.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(s"plans/$tag"))
    for (n <- names) {
      val qe = graft.SparkEntry.queries(n)(spark, sfDir).queryExecution
      val txt = qe.explainString(FormattedMode)
      Files.write(Paths.get(s"plans/$tag/${n}_$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      SQLExecution.withNewExecutionId(qe, Some("explain"))(qe.toRdd.foreach(_ => ()))
      System.err.println(s"[explain] $n -> plans/$tag/${n}_$suffix.txt " +
        s"(exchanges=${txt.sliding(9).count(_ == "Exchange ")}, " +
        s"reused=${qe.executedPlan.toString.sliding(14).count(_ == "ReusedExchange")})")
      graft.ops.CachedRelations.releaseAll()
    }
    spark.stop()
  }
}
