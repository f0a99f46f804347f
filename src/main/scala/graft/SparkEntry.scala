package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with DuckDB oracle SQL for every SQL-expressible one.
  * Each query is declared once, as a [[QuerySpec]] beside its oracle, in
  * its family object under `graft.queries`; `queries` and `oracleSql`
  * are views of that one list.
  *
  * Determinism rules applied uniformly (so Spark parquet output and the
  * DuckDB oracle hash-match value-for-value):
  *  - the `stocks` derivation uses only order-independent aggregates
  *    (see [[Tables]]);
  *  - every non-exact float output (window averages, stddevs, ratios of
  *    aggregates) is rounded on BOTH sides, absorbing engine-order ulp
  *    differences. Precision rule: rolling means of 2-decimal prices
  *    have exact finite-decimal true values (sum × 1/n, n with only
  *    factors 2 and 5), so they are rounded at ≥ their true decimal
  *    width (6) — rounding below it (e.g. 2) would place the true value
  *    exactly on a rounding boundary where engine ulp-noise flips the
  *    digit. Irrational-valued outputs (stddev, RSI, returns) round at
  *    4, where noise ≪ boundary spacing;
  *  - every query ends in a total ORDER BY over discrete columns
  *    (symbol/date/ids), never over computed floats;
  *  - counts/sums of integers are exact; oracle sums are cast to BIGINT
  *    to match Spark's long (DuckDB SUM(BIGINT) is HUGEINT otherwise).
  */
object SparkEntry {

  /** Flagship query (driver smoke-checks rows>0 on sf0.001): the full E2
    * indicator battery over the derived stocks table — S3 scan, windows
    * W1–W12, EWM family W4–W7 — evaluated through the CHUNKED scale
    * path (keys × chunks parallelism; WindowChunksSpec proves it ≡
    * [[graft.operators.Indicators.withAllIndicators]], and the population guard falls
    * back to the exact plain plan wherever chunks run short, as the EWM
    * pass does at this tiny SF).
    */
  def entry(spark: SparkSession): DataFrame =
    graft.operators.WindowChunks
      .chunkedAllIndicators(Tables.stocks(spark, "/root/testdata/sf0.001"))

  /** Every query in family order; building it fails on a name declared
    * twice.
    */
  private lazy val registry: Seq[QuerySpec] = QuerySpec.unique(
    StockQueries.specs ++ RelationalQueries.specs ++ DedupQueries.specs ++
      CorpusQueries.specs ++ SimilarityQueries.specs ++ IvfIndexQueries.specs ++
      TextQueries.specs ++ EventQueries.specs)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
