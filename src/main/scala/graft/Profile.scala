package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart}

/** Ad-hoc perf forensics: runs the queries named in args (default the
  * bench headline) twice — cold then warm — printing per-run wall time
  * and per-stage task-time breakdown so hotspots are attributable to
  * stages, not guesses.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        stages.add(f"  job ${js.jobId}%3d  stages=${js.stageIds.mkString(",")}")
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0
        stages.add(f"  stage ${si.stageId}%3d  ${dur}%7.2fs  tasks=${si.numTasks}%3d  ${si.name.take(90)}")
      }
    })

    val names = if (args.nonEmpty) args.toSeq else Bench.headline
    val qs = SparkEntry.queries
    for (name <- names; rep <- 1 to 2) {
      stages.clear()
      val t0 = System.nanoTime()
      qs(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // the listener bus is async — drain it so this rep's stage events
      // are printed here, not misattributed to the next rep
      org.apache.spark.GraftListenerShims.flushListeners(spark.sparkContext)
      println(f"== $name rep$rep: $dt%.2fs")
      stages.forEach(s => println(s))
    }
    spark.stop()
  }
}
