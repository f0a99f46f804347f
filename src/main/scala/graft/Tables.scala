package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md) plus the
  * derived `stocks` OHLCV relation.
  *
  * The reference engine's single persistent table is
  * `stocks(symbol, date, open, high, low, close, adj_close, volume)` with
  * PK (symbol, date) — see /root/reference/fetch_yfinance.py:24-25 and
  * /root/reference/fetch_and_store_multi.py:202-242 (schema implied by the
  * INSERT/SELECT surface). The testdata has no literal stocks table
  * (FIXTURES.md §A), so we derive one from `lineitem` — once, here, and the
  * oracle SQL mirrors it verbatim via [[Tables.stocksCte]].
  *
  * Determinism contract (critical for the DuckDB-oracle hash compare):
  * every aggregate used in the derivation is order-independent in IEEE
  * double arithmetic — min/max pick stored bit patterns, sum(l_quantity)
  * sums integer-valued doubles (exact for any order below 2^53), and the
  * scalar multiplications are single IEEE ops on identical inputs. Spark
  * and DuckDB therefore agree bit-for-bit on every stocks column.
  *
  * Scale: the groupBy shuffles once on (symbol, date) and the persist
  * range-shuffles once on symbol ([[stocks]]); downstream window and
  * indicator passes read that layout without a shuffle. At 100 TB the
  * derivation would be a partitioned-parquet materialization
  * (PARTITIONED BY symbol-bucket, sorted by date within files) so the
  * per-symbol window passes read co-located, pre-sorted input.
  */
object Tables {

  /** `spark.read.parquet` runs a driver-side file-listing + footer
    * schema read on EVERY call — one extra job per query invocation,
    * paid by every table the query touches. The resolved DataFrame
    * handle (whose relation already holds the listed files and schema)
    * is cached per (session, path): only the plan handle is reused,
    * every execution still scans the parquet.
    *
    * Contract: the input tables are immutable for the life of a
    * session. The key is the path alone, so a table rewritten under the
    * same path inside a live session is served the OLD file listing
    * until the session is evicted ([[SessionCaches.evictSession]]).
    * Callers that rewrite a table read it through `spark.read` instead.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    tableCache.getOrBuild(spark, path)(spark.read.parquet(path))
  }

  private val tableCache = new SessionCache[String, DataFrame](maxEntries = 256)

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** events.parquet has shipped with three `ts` encodings across testdata
    * generations: INT64 TIMESTAMP(NANOS) (Spark reads as LongType under
    * spark.sql.legacy.parquet.nanosAsLong), TIMESTAMP_MICROS with
    * isAdjustedToUTC=0 (Spark reads as TIMESTAMP_NTZ), and plain
    * TIMESTAMP. This loader normalizes all three to a microsecond
    * TimestampType so every downstream `unix_micros`/window call site is
    * encoding-agnostic. The NTZ→TIMESTAMP cast is exact because the
    * session timezone is pinned UTC.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(table(spark, dir, "events"))

  /** Encoding-agnostic ts normalization (shared with the streaming
    * reader): LongType nanos → µs timestamp; TIMESTAMP_NTZ → TIMESTAMP
    * (exact under the pinned-UTC session tz); TimestampType passes
    * through.
    */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, not `/`: double division loses µs precision at
        // ~1.7e18 ns magnitudes (53-bit mantissa)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** The derived OHLCV table: 6 symbols (l_returnflag || l_linestatus),
    * ~2450 trading days each at sf0.01. See object doc for the
    * determinism contract.
    *
    * Materialized once per (session, dir) — the reference's analytics
    * read a stored MySQL `stocks` table, not the raw feed, so the
    * engine equivalent is a persisted derivation. It is range-partitioned
    * by symbol and sorted by (symbol, date) within partitions. That one
    * layout serves both kinds of read: a range partitioning on symbol
    * clusters each symbol in one partition, so per-symbol windows run
    * with no exchange, and it orders the partitions, so a trailing
    * `orderBy("symbol", "date")` needs neither a range shuffle nor its
    * boundary-sampling job, and the sort itself is dropped because the
    * rows are already in order. An ordered indicator query is therefore
    * one job: a Window over the cached scan. The layout is visible to
    * queries planned after the cache is first built; before that the
    * cached plan is still adaptive and reports no partitioning, so a
    * query planned earlier shuffles like an uncached one.
    *
    * What the layout does not reach: a `Union` of two stocks-derived
    * children reports an unknown partitioning (Spark keeps only
    * hash-like child partitionings across a union), so `Merge.upsert`
    * followed by an `orderBy` still range-shuffles. At 100 TB this is
    * the bucketed parquet table `Sink.writeStocksBucketed` (BUCKET BY
    * symbol-hash, sorted by date in-file), which stays hash-bucketed:
    * its windows read with no exchange, but an ordered read of it still
    * sorts. The in-memory persist is the local[n] stand-in.
    */
  def stocks(spark: SparkSession, dir: String): DataFrame =
    stocksCache.getOrBuild(spark, dir) {
      deriveStocks(spark, dir)
        .repartitionByRange(col("symbol"))
        .sortWithinPartitions("symbol", "date")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val stocksCache = new SessionCache[String, DataFrame](
    maxEntries = 16, release = _.unpersist(blocking = false): Unit)

  /** The raw (unmaterialized) derivation. */
  def deriveStocks(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(
        concat(col("l_returnflag"), col("l_linestatus")).as("symbol"),
        to_date(col("l_shipdate")).as("date"))
      .agg(
        min("l_extendedprice").as("open"),
        (max("l_extendedprice") * lit(1.01)).as("high"),
        (min("l_extendedprice") * lit(0.99)).as("low"),
        max("l_extendedprice").as("close"),
        (max("l_extendedprice") * lit(0.97)).as("adj_close"),
        sum("l_quantity").cast("long").as("volume"))

  /** DuckDB mirror of [[stocks]]; prefix for every stocks-based oracle. */
  val stocksCte: String =
    """WITH stocks AS (
      |  SELECT l_returnflag || l_linestatus AS symbol,
      |         CAST(l_shipdate AS DATE) AS date,
      |         min(l_extendedprice) AS open,
      |         max(l_extendedprice) * 1.01 AS high,
      |         min(l_extendedprice) * 0.99 AS low,
      |         max(l_extendedprice) AS close,
      |         max(l_extendedprice) * 0.97 AS adj_close,
      |         CAST(sum(l_quantity) AS BIGINT) AS volume
      |  FROM lineitem GROUP BY 1, 2
      |)""".stripMargin

  /** The six symbol values present in the derivation (returnflag × linestatus
    * combinations occurring in the testdata) — used by the pivot/compare
    * queries, which need a fixed column list on both engines.
    */
  val symbols: Seq[String] = Seq("AF", "AO", "NF", "NO", "RF", "RO")

  /** S2 relative-period slice (reference: yf period fetch,
    * /root/reference/fetch_and_store.py:223-250): last `days` days of
    * data as of `asOf`. The as-of date is an explicit parameter — the
    * reference uses now(), which a reproducible query cannot.
    */
  def periodSlice(df: DataFrame, asOf: String, days: Int): DataFrame =
    df.filter(col("date") > date_sub(to_date(lit(asOf)), days) &&
      col("date") <= to_date(lit(asOf)))

  private val DayP = "(\\d+)d".r
  private val MonthP = "(\\d+)mo".r
  private val YearP = "(\\d+)y".r

  /** S2 period-string fetch: the yfinance period vocabulary the
    * reference passes straight through ('5d','1mo','3mo','6mo','1y',
    * '2y','5y','10y','ytd','max' — /root/reference/fetch_and_store.py
    * :223-231). Day periods are day arithmetic; month/year periods are
    * calendar arithmetic (`add_months`, end-of-month clamped, matching
    * SQL interval subtraction); 'ytd' slices from Jan 1 of the as-of
    * year; 'max' keeps all history up to the as-of date. The bound is
    * a partition-prunable date predicate — at scale this is the
    * difference between a metadata prune and a full scan.
    */
  def periodSlice(df: DataFrame, asOf: String, period: String): DataFrame = {
    val asOfCol = to_date(lit(asOf))
    val lowerExclusive: Option[Column] = period.trim.toLowerCase match {
      case "max" => None
      case "ytd" => Some(date_sub(trunc(asOfCol, "year"), 1))
      case DayP(n) => Some(date_sub(asOfCol, n.toInt))
      case MonthP(n) => Some(add_months(asOfCol, -n.toInt))
      case YearP(n) => Some(add_months(asOfCol, -12 * n.toInt))
      case other => throw new IllegalArgumentException(
        s"Unsupported period '$other'; expected <n>d, <n>mo, <n>y, ytd, or max")
    }
    lowerExclusive.foldLeft(df.filter(col("date") <= asOfCol)) {
      (acc, lo) => acc.filter(col("date") > lo)
    }
  }
}
