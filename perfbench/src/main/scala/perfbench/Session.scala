package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's one session recipe: the engine's session settings
  * (`local[n]`, shuffle partitions = cores, UTC, nanos-as-long parquet,
  * no UI), with `spark.local.dir` taken from the `-Dspark.local.dir` JVM
  * property the launcher passes.
  */
object Session {
  val cpus: Int = 4

  def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Stop the context and forget it, so the next [[build]] starts a
    * new one in this JVM.
    */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
