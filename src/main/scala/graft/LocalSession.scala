package graft

import org.apache.spark.sql.SparkSession

/** The local session the command-line mains run on: `cpus` cores and as
  * many shuffle partitions, UTC session time, nanosecond parquet
  * timestamps read as longs, no UI.
  */
object LocalSession {
  def apply(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
