package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Registry for persisted STAGE relations created inside operators
 * (the LSH index in [[Similarity.lshTopK]], the exact-dedup stage
 * boundary in [[Corpus.clean]]).
 *
 * An operator that persists internally can't unpersist before
 * returning — its result DataFrame is lazy and the cached relation is
 * exactly what makes the eventual action cheap. But persisting with NO
 * release path leaks the relation for the session's lifetime: every
 * call pins another chunk of executor storage memory (the same class
 * of leak as registering a UUID-named function per call). So operators
 * `track` what they persist, and the CALLER — who knows when the
 * action has run — calls [[releaseAll]] afterwards. Verify and Bench
 * release after every query; long-lived applications should release at
 * their own stage boundaries.
 */
object CachedRelations {
  private val active = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val cleanups = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Register an operator-persisted relation for later release. */
  def track(df: DataFrame): DataFrame = { active.add(df); df }

  /** Register an arbitrary stage-resource cleanup (r17: the
    * [[parquetStages]] temp dirs) to run at [[releaseAll]]. Unlike
    * an unpersist, a cleanup is NOT recompute-safe — callers must
    * release only after their action has fully consumed the result
    * (exactly the documented contract above). */
  def trackCleanup(f: () => Unit): Unit = cleanups.add(f)

  /** A per-execution PARQUET stage boundary (r17): returns a function
    * that writes each relation it is given to the next numbered dir
    * under one fresh temp dir (`prefix`) and returns the re-read, so
    * every consumer scans the materialized rows instead of re-planning
    * the lineage. The temp dir is deleted at [[releaseAll]] via
    * [[trackCleanup]]; nothing outlives the execution. */
  def parquetStages(spark: SparkSession, prefix: String): DataFrame => DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    trackCleanup { () =>
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(tmp.toFile)
    }
    var n = 0
    df => {
      n += 1
      val p = s"$tmp/rel$n"
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
  }

  /** Unpersist (non-blocking) every tracked relation and run every
    * tracked cleanup; returns how many were released. Safe to call
    * with actions still pending for PERSISTED relations (Spark just
    * recomputes) — cleanups require the action to be complete. */
  def releaseAll(): Int = {
    var n = 0
    var d = active.poll()
    while (d != null) { d.unpersist(blocking = false); n += 1; d = active.poll() }
    var c = cleanups.poll()
    while (c != null) {
      try c() catch { case _: Throwable => () }
      n += 1; c = cleanups.poll()
    }
    n
  }
}
