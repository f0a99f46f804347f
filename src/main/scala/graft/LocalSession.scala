package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The local session the command-line mains run on: `cpus` cores and as
  * many shuffle partitions, UTC session time, nanosecond parquet
  * timestamps read as longs, no UI. Logs at WARN, except three warnings
  * that fire by design and would bury the mains' own stderr lines:
  * `WindowExec: No Partition Defined` (every unpartitioned window),
  * `MapPartitionsRDD: RDD N was locally checkpointed…` (every release
  * of a checkpointed frame) and `FileStreamSink: Assume no metadata
  * directory…` with its `FileNotFoundException` stack trace (every
  * replay stream reading its `batch=*` drops through a glob path).
  */
object LocalSession {
  def apply(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Seq("org.apache.spark.sql.execution.window.WindowExec",
      "org.apache.spark.rdd.MapPartitionsRDD",
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink").foreach(Configurator.setLevel(_, Level.ERROR))
    spark
  }
}
