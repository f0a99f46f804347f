package graft

/** Scratch forensics main: print the formatted plan of named queries
  * (post-execution, so AQE/codegen annotations are final).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = LocalSession(cpus)
    args.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"===== $name =====")
      println(plan)
    }
  }
}
