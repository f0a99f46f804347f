package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = Session.build(2)

  override def afterAll(): Unit = Session.stop(spark)

  private def frame = spark.range(0, 5000).select(
    col("id"),
    (col("id") * 0.25).as("x"),
    when(col("id") % 7 === 0, lit(null)).otherwise(concat(lit("k"), col("id"))).as("s"),
    map(lit("a"), col("id"), lit("b"), col("id") % 3).as("m"),
    array(col("id"), col("id") + 1).as("arr"))

  test("digest is independent of partition count and row order") {
    val base = Digest.of(frame)
    assert(base.rows == 5000L)
    Seq(1, 3, 8, 17).foreach { n =>
      assert(Digest.of(frame.repartition(n)) == base, s"repartition($n)")
    }
    assert(Digest.of(frame.orderBy(col("x").desc).coalesce(2)) == base)
  }

  test("digest sees a changed value, a dropped row and map entry order") {
    val base = Digest.of(frame)
    assert(Digest.of(frame.withColumn("x", when(col("id") === 42, lit(0.0)).otherwise(col("x")))) != base)
    assert(Digest.of(frame.filter(col("id") =!= 42)) != base)
    val reordered = frame.withColumn("m", map(lit("b"), col("id") % 3, lit("a"), col("id")))
    assert(Digest.of(reordered) == base)
  }

  test("empty input digests to zero rows") {
    assert(Digest.of(frame.filter(lit(false))) == Digest.Value(0L, BigDecimal(0)))
  }

  test("digest text round-trips through the golden-file form") {
    val d = Digest.of(frame)
    assert(Digest.parse(d.toString) == d)
  }
}
