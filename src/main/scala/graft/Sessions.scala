package graft

import org.apache.spark.sql.SparkSession

/** The engine settings every graft session needs, in one place. Bench,
  * Verify, Profile and the spec suite start from [[builder]] and add only
  * what differs (master override, jars, partitions, app name). */
object Sessions {
  /** Local worker count: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** `local[cpus]` with `cpus` shuffle partitions, plus: UTC session time
    * zone (timestamps compare as wall values, like the DuckDB oracles),
    * `nanosAsLong` (the older TIMESTAMP(NANOS) `events.ts` flavor —
    * harmless on micros files), the native plan rules of
    * [[graft.plans.GraftExtensions]], and no UI. */
  def builder(cpus: String = Sessions.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
}
