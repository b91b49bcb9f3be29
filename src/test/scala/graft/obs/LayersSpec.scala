package graft.obs

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class LayersSpec extends SparkTestBase {

  private def measured(body: => Unit): LayerCounts = timed(body)._1

  /** The window's counts and its wall time in ms, open to close. */
  private def timed(body: => Unit): (LayerCounts, Long) = {
    val w = Layers.open(spark)
    val t0 = System.nanoTime()
    try body finally w.close()
    (w.counts, (System.nanoTime() - t0) / 1000000L)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("a shuffling query reports its jobs, stages, shuffle bytes and Catalyst phases") {
    // a slow listener on the same bus queue makes delivery lag the
    // action, so the counts are complete only if the close drains
    val lag = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(50)
    }
    spark.sparkContext.addSparkListener(lag)
    val (c, wallMs) =
      try timed(noop(spark.range(0, 2000, 1, 4).groupBy(col("id") % 7).count()))
      finally spark.sparkContext.removeSparkListener(lag)
    assert(c.jobs >= 1)
    assert(c.stages >= 2)
    assert(c.tasks >= 2)
    assert(c.shuffleWriteBytes > 0)
    assert(c.shuffleReadBytes > 0)
    assert(c.actions >= 1)
    Seq(c.analysisMs, c.optimizationMs, c.planningMs).foreach(ms => assert(ms >= 0))
    assert(c.analysisMs + c.optimizationMs + c.planningMs <= wallMs)
  }

  test("a scan-only query reports no shuffle write") {
    val dir = java.nio.file.Files.createTempDirectory("layers_spec").resolve("t").toString
    spark.range(0, 500, 1, 2).write.parquet(dir)
    val c = measured(noop(spark.read.parquet(dir).filter(col("id") % 2 === 0)))
    assert(c.jobs >= 1)
    assert(c.shuffleWriteBytes == 0)
    assert(c.inputRecords == 500)
  }

  test("a failed action closes its window and leaks no jobs into the next one") {
    def query = spark.range(0, 100, 1, 2).groupBy(col("id") % 3).count()
    val clean = measured(noop(query))
    // partition 0 fails at once; partition 1 is busy (not interruptible)
    // when the job aborts, so its task ends after the failed window closed
    val boom = udf { (x: Long) =>
      if (x == 0) throw new IllegalStateException("boom")
      if (x == 50) { val until = System.nanoTime() + 1000000000L; while (System.nanoTime() < until) {} }
      x
    }
    var w: Window = null
    intercept[Exception] {
      w = Layers.open(spark)
      try noop(spark.range(0, 100, 1, 2).select(boom(col("id")).as("x")).groupBy("x").count())
      finally w.close()
    }
    assert(w.counts.jobs >= 1)
    val next = measured { Thread.sleep(1500); noop(query) }
    assert(next.jobs == clean.jobs)
    assert(next.stages == clean.stages)
    assert(next.tasks == clean.tasks)
  }
}
