package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query: `run` builds its Spark result over a test-data
  * directory, and `oracle` is the DuckDB SQL whose output must
  * hash-match it.
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)

object QuerySpec {

  /** `specs` unchanged, or an error naming every query declared more than
    * once — a map built from the list would silently keep the last.
    */
  def unique(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val twice = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(twice.isEmpty,
      s"query names declared more than once: ${twice.toSeq.sorted.mkString(", ")}")
    specs
  }
}
