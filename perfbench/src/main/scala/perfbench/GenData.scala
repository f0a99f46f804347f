package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Writes the benchmark's input tables, `lineitem` and `embeddings`, with
  * the schemas and value distributions of the engine's TPC-H-style test
  * tables (FIXTURES.md §A), at a fixed size and from a fixed generator
  * seed. The inputs never depend on the run's
  * `--seed` (which only permutes query order), so every run of every
  * seed reads identical bytes and one golden digest file serves all of
  * them.
  *
  * Distributions mirrored from the test tables:
  *  - lineitem: six (returnflag, linestatus) symbols, ship dates uniform
  *    over 1995-01-02 .. 2001-11-04, integer quantities 1..50, extended
  *    price = quantity × part price;
  *  - embeddings: 64-dim unit vectors, labels 0..9.
  *
  * Usage: `GenData <out-dir>`.
  */
object GenData {
  val lineitemRows = 120000
  val embeddingRows = 600

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: GenData <out-dir>")
    val out = args(0)
    val spark = Session.build(Session.cpus)
    try write(spark, out) finally spark.stop()
  }

  def write(spark: SparkSession, out: String): Unit = {
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    save("lineitem", lineitemSchema, lineitem(new java.util.Random(42L)))
    save("embeddings", embeddingSchema, embeddings(new java.util.Random(44L)))
  }

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  def lineitem(rnd: java.util.Random): Seq[Row] = {
    val day0 = java.time.LocalDate.of(1995, 1, 2).toEpochDay
    val days = java.time.LocalDate.of(2001, 11, 4).toEpochDay - day0 + 1
    val flags = Array("A", "N", "R")
    val statuses = Array("F", "O")
    (0 until lineitemRows).map { i =>
      val partkey = 1L + rnd.nextInt(2000)
      val qty = 1 + rnd.nextInt(50)
      // cents-exact part price in 900.00 .. 2099.99
      val priceCents = 90000L + (partkey * 7919L) % 120000L
      val ship = java.time.LocalDate.ofEpochDay(day0 + rnd.nextInt(days.toInt))
      Row(1L + i / 4, partkey, 1L + rnd.nextInt(100), 1 + i % 4,
        qty.toDouble, BigDecimal(priceCents * qty, 2).toDouble,
        rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        flags(rnd.nextInt(3)), statuses(rnd.nextInt(2)),
        java.sql.Timestamp.valueOf(ship.atStartOfDay()))
    }
  }

  val embeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))

  def embeddings(rnd: java.util.Random): Seq[Row] =
    (0 until embeddingRows).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }
}
