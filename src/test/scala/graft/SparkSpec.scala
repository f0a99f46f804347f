package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  import java.sql.Date

  /** Bars fixture: one row per close, consecutive dates from 2020-01-01,
    * open=close-0.5, high=close+1, low=close-1, volume=100+i.
    */
  def bars(symbol: String, closes: Seq[Double]): DataFrame = {
    val rows = closes.zipWithIndex.map { case (c, i) =>
      (symbol, Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i).toString),
        c - 0.5, c + 1.0, c - 1.0, c, c * 0.98, 100L + i)
    }
    spark.createDataFrame(rows).toDF(
      "symbol", "date", "open", "high", "low", "close", "adj_close", "volume")
  }

  /** Spark jobs started while `body` runs (the listener bus is drained
    * on both sides, so no event lands in the wrong count).
    */
  def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftListenerShims.flushListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftListenerShims.flushListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  /** Compare a result column against pandas goldens: NaN golden ⇔ null
    * cell; numeric within 1e-9 relative tolerance.
    */
  def assertColumn(df: DataFrame, column: String, expected: Seq[Double]): Unit = {
    val actual = df.orderBy("date").select(column).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(actual.length == expected.length, s"$column row count")
    actual.zip(expected).zipWithIndex.foreach { case ((a, e), i) =>
      if (e.isNaN) assert(a.isEmpty, s"$column[$i]: expected null, got $a")
      else {
        assert(a.isDefined, s"$column[$i]: expected $e, got null")
        val tol = math.max(1e-9, math.abs(e) * 1e-9)
        assert(math.abs(a.get - e) <= tol, s"$column[$i]: expected $e, got ${a.get}")
      }
    }
  }
}

object SparkSpec {
  /** The mains' session at 2 cores, with their log levels. */
  lazy val session: SparkSession = LocalSession("2")
}
