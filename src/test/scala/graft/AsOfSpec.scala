package graft

import java.sql.Date
import graft.operators.AsOf

/** As-of join: backward inclusive semantics, per-key isolation, null
  * before the first reference row.
  */
class AsOfSpec extends SparkSpec {

  private def tbl(cols: (String, String, Double)*) = {
    val spark2 = spark
    import spark2.implicits._
    cols.map { case (s, d, v) => (s, Date.valueOf(d), v) }
      .toDF("symbol", "date", "v")
  }

  test("carries the latest reference value at or before each probe row") {
    val left = tbl(
      ("A", "2020-01-01", 1.0), ("A", "2020-01-05", 2.0),
      ("A", "2020-01-10", 3.0), ("A", "2020-01-15", 4.0),
      ("B", "2020-01-07", 9.0))
    val right = tbl(("A", "2020-01-05", 50.0), ("A", "2020-01-12", 60.0))
      .withColumnRenamed("v", "anchor")
    val r = AsOf.joinAsOf(left, right, Seq("symbol"), "date", Seq("anchor"))
      .orderBy("symbol", "date")
      .collect()
      .map(row => (row.getAs[String]("symbol"), row.getAs[Date]("date").toString,
        Option(row.getAs[java.lang.Double]("anchor")).map(_.doubleValue)))
    assert(r.toSeq == Seq(
      ("A", "2020-01-01", None), // before first anchor
      ("A", "2020-01-05", Some(50.0)), // tie is inclusive
      ("A", "2020-01-10", Some(50.0)),
      ("A", "2020-01-15", Some(60.0)),
      ("B", "2020-01-07", None))) // other key never sees A's anchors
  }

  test("forward as-of carries the earliest reference at or after each probe row") {
    val left = tbl(
      ("A", "2020-01-01", 1.0), ("A", "2020-01-05", 2.0),
      ("A", "2020-01-10", 3.0), ("A", "2020-01-15", 4.0),
      ("B", "2020-01-07", 9.0))
    val right = tbl(("A", "2020-01-05", 50.0), ("A", "2020-01-12", 60.0))
      .withColumnRenamed("v", "anchor")
    val r = AsOf.joinAsOfForward(left, right, Seq("symbol"), "date", Seq("anchor"))
      .orderBy("symbol", "date")
      .collect()
      .map(row => (row.getAs[String]("symbol"), row.getAs[Date]("date").toString,
        Option(row.getAs[java.lang.Double]("anchor")).map(_.doubleValue)))
    assert(r.toSeq == Seq(
      ("A", "2020-01-01", Some(50.0)),
      ("A", "2020-01-05", Some(50.0)), // tie is inclusive
      ("A", "2020-01-10", Some(60.0)),
      ("A", "2020-01-15", None), // after the last anchor
      ("B", "2020-01-07", None))) // other key never sees A's anchors
  }

  test("both-ways as-of returns the backward and forward matches from one pass") {
    val left = tbl(
      ("A", "2020-01-01", 1.0), ("A", "2020-01-05", 2.0),
      ("A", "2020-01-10", 3.0), ("A", "2020-01-15", 4.0),
      ("B", "2020-01-07", 9.0))
    val right = tbl(("A", "2020-01-05", 50.0), ("A", "2020-01-12", 60.0))
      .withColumnRenamed("v", "anchor")
    val both = AsOf.joinAsOfBothWays(left, right, Seq("symbol"), "date", Seq("anchor"))
    assert(both.columns.toSeq == Seq("symbol", "date", "v", "b_anchor", "f_anchor"))
    val back = AsOf.joinAsOf(left, right, Seq("symbol"), "date", Seq("anchor"))
    val fwd = AsOf.joinAsOfForward(left, right, Seq("symbol"), "date", Seq("anchor"))
    val expected = back.withColumnRenamed("anchor", "b_anchor")
      .join(fwd.select("symbol", "date", "anchor").withColumnRenamed("anchor", "f_anchor"),
        Seq("symbol", "date"))
      .select(both.columns.map(org.apache.spark.sql.functions.col): _*)
    assert(both.count() == 5)
    assert(both.exceptAll(expected).isEmpty && expected.exceptAll(both).isEmpty)
  }

  test("property: time-bucket-salted as-of ≡ plain as-of, and partitions on (key, bucket)") {
    // deterministic pseudo-random data spanning 5 years, anchors sparse
    // relative to probes so bucket-boundary carry is exercised heavily
    // (many buckets have probes but no in-bucket anchor)
    def lcg(seed: Long): LazyList[Long] =
      LazyList.iterate(seed)(s => (s * 6364136223846793005L + 1442695040888963407L))
    val days = lcg(42L).map(s => math.floorMod(s, 1826).toInt)
    val left = tbl(days.take(400).zipWithIndex.map { case (d, i) =>
      (if (i % 3 == 0) "A" else "B",
        java.time.LocalDate.of(2018, 1, 1).plusDays(d).toString, i.toDouble)
    }: _*)
    val right = tbl(days.drop(400).take(40).zipWithIndex.map { case (d, i) =>
      (if (i % 2 == 0) "A" else "B",
        java.time.LocalDate.of(2018, 1, 1).plusDays(d).toString, 1000.0 + i)
    }: _*).withColumnRenamed("v", "anchor")
      // collapse same-timestamp anchors: equal-ts reference rows would
      // make which-one-wins nondeterministic in BOTH plans
      .groupBy("symbol", "date").agg(org.apache.spark.sql.functions.max("anchor").as("anchor"))
      // sprinkle NULL anchor values: the ignoreNulls carry must skip
      // them identically in the plain and salted plans
      .withColumn("anchor", org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("anchor").cast("long"),
          org.apache.spark.sql.functions.lit(4)) === 0,
        org.apache.spark.sql.functions.lit(null).cast("double"))
        .otherwise(org.apache.spark.sql.functions.col("anchor")))
    val plain = AsOf.joinAsOf(left, right, Seq("symbol"), "date", Seq("anchor"))
    val salted = AsOf.joinAsOfSalted(left, right, Seq("symbol"), "date", Seq("anchor"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    assert(salted.count() == left.count())
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__bkt"), plan.take(2000))
  }

  test("probe columns survive untouched") {
    val left = tbl(("A", "2020-01-02", 7.5))
    val right = tbl(("A", "2020-01-01", 1.0)).withColumnRenamed("v", "anchor")
    val row = AsOf.joinAsOf(left, right, Seq("symbol"), "date", Seq("anchor"))
      .collect().head
    assert(row.getAs[Double]("v") == 7.5)
    assert(row.getAs[Double]("anchor") == 1.0)
  }
}
