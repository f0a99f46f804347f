package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-independent output digest: row count plus the exact sum of
  * `xxhash64` over every column of every row. Neither depends on row
  * order or partitioning, so it checks a query's result without sorting.
  */
object Digest {

  final case class Value(rows: Long, hashSum: BigDecimal) {
    override def toString: String = s"$rows:$hashSum"
  }

  def parse(s: String): Value = {
    val Array(r, h) = s.split(":")
    Value(r.toLong, BigDecimal(h))
  }

  /** Maps have no hash in Spark and no fixed entry order; hash their
    * sorted entries instead.
    */
  private def hashable(df: DataFrame): Seq[Column] = df.schema.fields.toSeq.map { f =>
    f.dataType match {
      case _: MapType => array_sort(map_entries(col(s"`${f.name}`")))
      case _ => col(s"`${f.name}`")
    }
  }

  def of(df: DataFrame): Value = {
    // decimal sum: exact, and a long sum would overflow (ANSI mode throws)
    val r = df.select(xxhash64(hashable(df): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("h")), lit(BigDecimal(0))).as("s"))
      .head()
    Value(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}
