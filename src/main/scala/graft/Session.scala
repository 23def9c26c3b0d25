package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe: every graft session that is not the frozen
  * driver contract ([[Bench]], [[Verify]]) is built here, so the CLI, the
  * probes and the test suites plan exactly like the bench.
  *
  * Callers add only deployment settings on the returned builder (a master
  * override, the warehouse dir, an app name). */
object Session {

  /** Bench's `.config(...)` settings for a `cores`-slot local session. */
  def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    // many queries x many stages overflow small codegen caches; entries
    // are just compiled-class references
    "spark.sql.codegen.cache.maxEntries" -> "10000")

  /** A `local[cores]` builder with [[settings]] and the native functions
    * plus optimizer rule of [[graft.plans.GraftExtensions]]. */
  def builder(cores: Int): SparkSession.Builder =
    settings(cores).foldLeft(SparkSession.builder().master(s"local[$cores]")) {
      case (b, (k, v)) => b.config(k, v)
    }.withExtensions(new graft.plans.GraftExtensions()(_))
}
