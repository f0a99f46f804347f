package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** The reference pipeline over the derived `stocks` table (SURVEY.md §2:
  * scans, aggregates, the indicator battery, quality, export) and the
  * market analytics built on it: returns, risk, resampling, as-of joins,
  * the extended indicators and the streaming EMA replay.
  */
object StockQueries {

  /** One export directory per JVM, registered for exit cleanup. */
  private lazy val csvExportDir: String =
    TempDirs.create("graft_csv_export") + "/stocks_af"

  private val cutoff98 = to_date(lit("1998-01-01"))
  private val cutoffMid98 = to_date(lit("1998-07-01"))
  private val cutoff99 = to_date(lit("1999-01-01"))

  private def stocks(s: SparkSession, dir: String): DataFrame = Tables.stocks(s, dir)

  private val S = Tables.stocksCte

  /** Fixed-decimal price rendering in DuckDB — mirrors Quality's
    * decimal(18,4) cast (scale ≥ the derived prices' true decimal
    * width, so neither engine ever rounds ON a boundary).
    */
  private def d2Sql(c: String): String = s"CAST(CAST($c AS DECIMAL(18,4)) AS VARCHAR)"

  /** EWM adjust=True as a truncated convolution for the oracle:
    * num_t = Σ_j d^j x_{t-j} over a window of `terms` rows (d^terms
    * below double precision), den_t = (1-d^len)/(1-d) closed-form.
    * Agrees with the exact recursion to ~1e-10 absolute — absorbed by
    * the round(2) on both sides.
    */
  private def ewmConvSql(listCol: String, span: Int): String = {
    val d = s"(1.0 - 2.0 / ${span + 1}.0)"
    s"""(list_sum(list_transform(list_reverse($listCol), (x, i) -> x * pow($d, i - 1)))
       | / ((1.0 - pow($d, len($listCol))) / (2.0 / ${span + 1}.0)))""".stripMargin.replace("\n", "")
  }

  /** Exact full-precision oracle for `ema_macd`: a DuckDB RECURSIVE CTE
    * replaying the adjust=True recursion bit-for-bit.
    *
    * EwmMean's per-row update is `num' = x + d*num`, `den' = 1 + d*den`,
    * output `num/den` — three IEEE double ops per state. The recursion
    * here carries all three EWM states (span 12 and 26 over close, span
    * 9 over the derived macd) per (symbol, row) and performs the SAME
    * ops in the SAME order on the SAME inputs, so every intermediate
    * double is bit-identical to the Spark aggregate's buffer. Constants
    * go through CAST(n AS DOUBLE) so DuckDB can't route `2.0/13.0`
    * through DECIMAL arithmetic; the seeds (x + d*0, 1 + d*0, x/1 - x/1)
    * are algebraically exact in IEEE, so literal 0/1 seeds are safe.
    *
    * Iteration count = max rows per symbol (~2.5k at sf0.01) with a
    * 6-row frontier per step — cheap for the oracle's one-shot run.
    */
  private lazy val emaMacdExactOracle: String = {
    def d(span: Int) =
      s"(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) / CAST(${span + 1} AS DOUBLE))"
    def ema12(p: String) = s"(o.close + ${d(12)} * $p.num12) / (CAST(1 AS DOUBLE) + ${d(12)} * $p.den12)"
    def ema26(p: String) = s"(o.close + ${d(26)} * $p.num26) / (CAST(1 AS DOUBLE) + ${d(26)} * $p.den26)"
    s"""${S.replaceFirst("WITH ", "WITH RECURSIVE ")}, ord AS (
       |   SELECT symbol, date, close,
       |     row_number() OVER (PARTITION BY symbol ORDER BY date) AS rn
       |   FROM stocks),
       | rec AS (
       |   SELECT symbol, date, rn, close,
       |     close AS num12, CAST(1 AS DOUBLE) AS den12,
       |     close AS num26, CAST(1 AS DOUBLE) AS den26,
       |     CAST(0 AS DOUBLE) AS macd,
       |     CAST(0 AS DOUBLE) AS nums, CAST(1 AS DOUBLE) AS dens
       |   FROM ord WHERE rn = 1
       |   UNION ALL
       |   SELECT o.symbol, o.date, o.rn, o.close,
       |     o.close + ${d(12)} * r.num12 AS num12,
       |     CAST(1 AS DOUBLE) + ${d(12)} * r.den12 AS den12,
       |     o.close + ${d(26)} * r.num26 AS num26,
       |     CAST(1 AS DOUBLE) + ${d(26)} * r.den26 AS den26,
       |     ${ema12("r")} - ${ema26("r")} AS macd,
       |     (${ema12("r")} - ${ema26("r")}) + ${d(9)} * r.nums AS nums,
       |     CAST(1 AS DOUBLE) + ${d(9)} * r.dens AS dens
       |   FROM rec r JOIN ord o ON o.symbol = r.symbol AND o.rn = r.rn + 1)
       | SELECT symbol, date, close,
       |   num12 / den12 AS ema_12,
       |   num26 / den26 AS ema_26,
       |   macd,
       |   nums / dens AS macd_signal,
       |   macd - nums / dens AS macd_histogram
       | FROM rec ORDER BY symbol, date""".stripMargin
  }

  private lazy val emaMacdCheckedOracle: String =
    s"""$S, wl AS (
       |   SELECT symbol, date, close,
       |     list(close) OVER (PARTITION BY symbol ORDER BY date
       |       ROWS BETWEEN 699 PRECEDING AND CURRENT ROW) AS xs
       |   FROM stocks),
       | e AS (
       |   SELECT symbol, date,
       |     ${ewmConvSql("xs", 12)} AS ema12,
       |     ${ewmConvSql("xs", 26)} AS ema26
       |   FROM wl),
       | m AS (SELECT symbol, date, ema12, ema26, ema12 - ema26 AS macd FROM e),
       | wm AS (
       |   SELECT symbol, date, ema12, ema26, macd,
       |     list(macd) OVER (PARTITION BY symbol ORDER BY date
       |       ROWS BETWEEN 399 PRECEDING AND CURRENT ROW) AS ms
       |   FROM m),
       | sig AS (
       |   SELECT symbol, date, ema12, ema26, macd,
       |     ${ewmConvSql("ms", 9)} AS macd_signal
       |   FROM wm)
       | SELECT symbol, date,
       |   round(ema12, 2) AS ema_12,
       |   round(ema26, 2) AS ema_26,
       |   round(macd, 2) AS macd,
       |   round(macd_signal, 2) AS macd_signal,
       |   round(macd - macd_signal, 2) AS macd_histogram
       | FROM sig ORDER BY symbol, date""".stripMargin

  /** RSI(14) oracle — mirrors Indicators.rsi including the leading-null
    * delta → gain=loss=0.0 quirk and the division edges.
    */
  private lazy val rsiOracle: String =
    s"""$S, delta AS (
       |   SELECT symbol, date,
       |     close - lag(close, 1) OVER (PARTITION BY symbol ORDER BY date) AS d
       |   FROM stocks),
       | gl AS (
       |   SELECT symbol, date,
       |     CASE WHEN d > 0 THEN d ELSE 0.0 END AS gain,
       |     CASE WHEN d < 0 THEN -d ELSE 0.0 END AS loss
       |   FROM delta),
       | ga AS (
       |   SELECT symbol, date,
       |     CASE WHEN count(*) OVER w = 14 THEN avg(gain) OVER w END AS ag,
       |     CASE WHEN count(*) OVER w = 14 THEN avg(loss) OVER w END AS al
       |   FROM gl
       |   WINDOW w AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
       | SELECT symbol, date,
       |   CASE WHEN al > 0 THEN round(100.0 - 100.0 / (1.0 + ag / al), 4)
       |        WHEN al = 0 AND ag > 0 THEN 100.0 END AS rsi
       | FROM ga ORDER BY symbol, date""".stripMargin

  /** Comma-joined quality-issue list as a SQL scalar — mirrors
    * Quality.withVerdict's value rules in declaration order (the stocks
    * derivation never yields nulls, so the missing-field short-circuit
    * branch is structurally unreachable on this data and elided here).
    */
  private lazy val qualityIssuesSql: String =
    """concat_ws(',',
      | CASE WHEN open <= 0 THEN 'invalid_open' END,
      | CASE WHEN high <= 0 THEN 'invalid_high' END,
      | CASE WHEN low <= 0 THEN 'invalid_low' END,
      | CASE WHEN close <= 0 THEN 'invalid_close' END,
      | CASE WHEN volume < 0 THEN 'negative_volume' END,
      | CASE WHEN high < low THEN 'high_lt_low' END,
      | CASE WHEN high < greatest(open, close) THEN 'high_lt_open_close' END,
      | CASE WHEN low > least(open, close) THEN 'low_gt_open_close' END,
      | CASE WHEN abs(close - open) / open > 0.5 THEN 'extreme_swing' END,
      | CASE WHEN volume = 0 AND symbol IN ('AAPL','GOOGL','MSFT','AMZN','TSLA') THEN 'zero_volume_major' END)""".stripMargin.replace("\n", "")
  /** One replay-drop directory per JVM (the stream_ema_replay side
    * effect), registered for exit cleanup.
    */
  private lazy val streamReplayDir: String = TempDirs.create("graft_stream_replay")

  val specs: Seq[QuerySpec] = Seq(
    // ---- core relation (S1/S5/P10/P11: derive + normalize the OHLCV table)
    QuerySpec("stocks_derive", (s, d) => stocks(s, d).orderBy("symbol", "date"),
      s"$S SELECT * FROM stocks ORDER BY symbol, date"),

    // ---- scans / projections / filters (S3/S4, P1-P4, O1)
    QuerySpec("scan_project_filter", (s, d) =>
      stocks(s, d)
        .filter(col("symbol") === "AF" && col("date") >= cutoff98)
        .select("date", "open", "high", "low", "close", "volume")
        .orderBy("date"),
      s"""$S SELECT date, open, high, low, close, volume FROM stocks
         | WHERE symbol = 'AF' AND date >= DATE '1998-01-01' ORDER BY date""".stripMargin),
    QuerySpec("filter_between", (s, d) =>
      stocks(s, d)
        .filter(col("symbol") === "NO" &&
          col("date").between(to_date(lit("1997-03-01")), to_date(lit("1997-09-30"))))
        .orderBy("date"),
      s"""$S SELECT * FROM stocks WHERE symbol = 'NO'
         | AND date BETWEEN DATE '1997-03-01' AND DATE '1997-09-30' ORDER BY date""".stripMargin),
    QuerySpec("filter_in", (s, d) =>
      stocks(s, d)
        .filter(col("symbol").isin("AF", "NO", "RF") && col("volume") > 150 &&
          col("adj_close").isNotNull)
        .orderBy("symbol", "date"),
      s"""$S SELECT * FROM stocks WHERE symbol IN ('AF','NO','RF') AND volume > 150
         | AND adj_close IS NOT NULL ORDER BY symbol, date""".stripMargin),
    QuerySpec("period_slice", (s, d) =>
      Tables.periodSlice(stocks(s, d), "2001-01-01", 180)
        .orderBy("symbol", "date"),
      s"""$S SELECT * FROM stocks
         | WHERE date > DATE '2001-01-01' - 180 AND date <= DATE '2001-01-01'
         | ORDER BY symbol, date""".stripMargin),
    // S2 period strings: yfinance-style '6mo' calendar slice
    QuerySpec("period_fetch", (s, d) =>
      Tables.periodSlice(stocks(s, d), "2001-01-01", "6mo")
        .orderBy("symbol", "date"),
      s"""$S SELECT * FROM stocks
         | WHERE date > DATE '2001-01-01' - INTERVAL 6 MONTH AND date <= DATE '2001-01-01'
         | ORDER BY symbol, date""".stripMargin),
    // §2.6 ⊘ set ops: dates where both AF and RO traded heavy, and
    // AF-only heavy dates (INTERSECT / EXCEPT)
    QuerySpec("set_ops_heavy_days", (s, d) => {
      def heavy(sym: String) = stocks(s, d)
        .filter(col("symbol") === sym && col("volume") > 350)
        .select("date").distinct()
      heavy("AF").intersect(heavy("RO")).withColumn("op", lit("both"))
        .unionByName(heavy("AF").except(heavy("RO")).withColumn("op", lit("af_only")))
        .select("op", "date")
        .orderBy("op", "date")
    },
      s"""$S, af AS (SELECT DISTINCT date FROM stocks WHERE symbol = 'AF' AND volume > 350),
         | ro AS (SELECT DISTINCT date FROM stocks WHERE symbol = 'RO' AND volume > 350)
         | SELECT 'both' AS op, date FROM (SELECT date FROM af INTERSECT SELECT date FROM ro)
         | UNION ALL
         | SELECT 'af_only', date FROM (SELECT date FROM af EXCEPT SELECT date FROM ro)
         | ORDER BY op, date""".stripMargin),

    // ---- aggregates (A1-A3, I1)
    QuerySpec("distinct_symbols", (s, d) =>
      stocks(s, d).select("symbol").distinct().orderBy("symbol"),
      s"$S SELECT DISTINCT symbol FROM stocks ORDER BY symbol"),
    QuerySpec("watermark_maxdate", (s, d) => Merge.watermarks(stocks(s, d)),
      s"$S SELECT symbol, max(date) AS last_date FROM stocks GROUP BY symbol ORDER BY symbol"),
    QuerySpec("last_close", (s, d) =>
      stocks(s, d).groupBy("symbol")
        .agg(max_by(col("close"), col("date")).as("last_close"))
        .orderBy("symbol"),
      s"""$S SELECT s.symbol, s.close AS last_close FROM stocks s
         | JOIN (SELECT symbol, max(date) AS d FROM stocks GROUP BY symbol) m
         |   ON s.symbol = m.symbol AND s.date = m.d ORDER BY s.symbol""".stripMargin),

    // ---- windows (W1-W3, W8-W13, W15)
    QuerySpec("sma", (s, d) =>
      stocks(s, d)
        .withColumn("sma_5", round(Indicators.sma(5), 6))
        .withColumn("sma_20", round(Indicators.sma(20), 6))
        .withColumn("sma_50", round(Indicators.sma(50), 6))
        .select("symbol", "date", "close", "sma_5", "sma_20", "sma_50")
        .orderBy("symbol", "date"),
      s"""$S SELECT symbol, date, close,
         | round(avg(close) OVER (PARTITION BY symbol ORDER BY date ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS sma_5,
         | round(avg(close) OVER (PARTITION BY symbol ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 6) AS sma_20,
         | round(avg(close) OVER (PARTITION BY symbol ORDER BY date ROWS BETWEEN 49 PRECEDING AND CURRENT ROW), 6) AS sma_50
         | FROM stocks ORDER BY symbol, date""".stripMargin),
    QuerySpec("ma_gated", (s, d) =>
      stocks(s, d)
        .withColumn("ma_50", round(Indicators.maGated(50), 6))
        .withColumn("ma_200", round(Indicators.maGated(200), 6))
        .select("symbol", "date", "close", "ma_50", "ma_200")
        .orderBy("symbol", "date"),
      s"""$S SELECT symbol, date, close,
         | CASE WHEN count(*) OVER (PARTITION BY symbol ORDER BY date ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) = 50
         |      THEN round(avg(close) OVER (PARTITION BY symbol ORDER BY date ROWS BETWEEN 49 PRECEDING AND CURRENT ROW), 6) END AS ma_50,
         | CASE WHEN count(*) OVER (PARTITION BY symbol ORDER BY date ROWS BETWEEN 199 PRECEDING AND CURRENT ROW) = 200
         |      THEN round(avg(close) OVER (PARTITION BY symbol ORDER BY date ROWS BETWEEN 199 PRECEDING AND CURRENT ROW), 6) END AS ma_200
         | FROM stocks ORDER BY symbol, date""".stripMargin),
    // the chunked (keys × year) window evaluation — the oracle is the
    // PLAIN window SQL, so the hash match proves the carry-in plan is
    // result-identical to the one-pass-per-key plan
    QuerySpec("window_chunked_sma", (s, d) =>
      graft.operators.WindowChunks
        .chunkedSmaGated(stocks(s, d), "symbol", "date", "close", 5, 50)
        .select(col("symbol"), col("date"),
          round(col("sma"), 6).as("sma_5"),
          round(col("ma_gated"), 6).as("ma_50"))
        .orderBy("symbol", "date"),
      s"""$S SELECT symbol, date,
         | round(avg(close) OVER (PARTITION BY symbol ORDER BY date ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS sma_5,
         | CASE WHEN count(*) OVER w50 = 50
         |      THEN round(avg(close) OVER w50, 6) END AS ma_50
         | FROM stocks
         | WINDOW w50 AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
         | ORDER BY symbol, date""".stripMargin),
    QuerySpec("window_chunked_rsi", (s, d) =>
      graft.operators.WindowChunks
        .chunkedRsi(stocks(s, d), "symbol", "date", "close", 14)
        .select(col("symbol"), col("date"), round(col("rsi"), 4).as("rsi"))
        .orderBy("symbol", "date"),
      // the chunked twins are oracle'd against the PLAIN window SQL: the
      // hash match proves the carry-in plan result-identical to the
      // one-pass-per-key plan (rsi oracle reused verbatim; ema reuses the
      // truncated-convolution oracle of ema_macd_checked)
      rsiOracle),
    QuerySpec("window_chunked_boll_vol", (s, d) =>
      graft.operators.WindowChunks
        .chunkedBollVol(stocks(s, d), "symbol", "date", "close", 20, 30)
        .select(col("symbol"), col("date"),
          round(col("bb_middle"), 4).as("bb_middle"),
          round(col("bb_upper"), 4).as("bb_upper"),
          round(col("bb_lower"), 4).as("bb_lower"),
          round(col("volatility_30d"), 4).as("volatility_30d"))
        .orderBy("symbol", "date"),
      s"""$S, base AS (
         |   SELECT symbol, date, close,
         |     (close / lag(close, 1) OVER (PARTITION BY symbol ORDER BY date) - 1.0) * 100.0 AS dr
         |   FROM stocks),
         | g AS (
         |   SELECT symbol, date,
         |     CASE WHEN count(*) OVER w20 = 20 THEN avg(close) OVER w20 END AS mid,
         |     CASE WHEN count(*) OVER w20 = 20 THEN stddev_samp(close) OVER w20 END AS sd,
         |     CASE WHEN count(dr) OVER w30 = 30 THEN stddev_samp(dr) OVER w30 END AS vol
         |   FROM base
         |   WINDOW w20 AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         |          w30 AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
         | SELECT symbol, date,
         |   round(mid, 4) AS bb_middle,
         |   round(mid + 2.0 * sd, 4) AS bb_upper,
         |   round(mid - 2.0 * sd, 4) AS bb_lower,
         |   round(vol, 4) AS volatility_30d
         | FROM g ORDER BY symbol, date""".stripMargin),
    // truncated-history carry (700 rows ≡ the oracle's own convolution
    // bound) — agreement with the exact recursion is far below the
    // round(2) used on both sides
    QuerySpec("window_chunked_ema", (s, d) =>
      graft.operators.WindowChunks
        .chunkedEmaMacd(stocks(s, d), "symbol", "date", "close")
        .select(col("symbol"), col("date"),
          round(col("ema_12"), 2).as("ema_12"),
          round(col("ema_26"), 2).as("ema_26"),
          round(col("macd"), 2).as("macd"),
          round(col("macd_signal"), 2).as("macd_signal"),
          round(col("macd_histogram"), 2).as("macd_histogram"))
        .orderBy("symbol", "date"),
      emaMacdCheckedOracle),
    QuerySpec("volume_ma", (s, d) =>
      stocks(s, d)
        .withColumn("volume_ma_20", round(Indicators.volumeMa(20), 6))
        .select("symbol", "date", "volume", "volume_ma_20")
        .orderBy("symbol", "date"),
      s"""$S SELECT symbol, date, volume,
         | round(avg(volume) OVER (PARTITION BY symbol ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 6) AS volume_ma_20
         | FROM stocks ORDER BY symbol, date""".stripMargin),
    QuerySpec("bollinger", (s, d) => {
      val bb = Indicators.bollinger(20)
      stocks(s, d)
        .withColumn("bb_middle", round(bb(0)._2, 4))
        .withColumn("bb_upper", round(bb(1)._2, 4))
        .withColumn("bb_lower", round(bb(2)._2, 4))
        .select("symbol", "date", "close", "bb_middle", "bb_upper", "bb_lower")
        .orderBy("symbol", "date")
    },
      s"""$S SELECT symbol, date, close,
         | round(mid, 4) AS bb_middle,
         | round(mid + 2.0 * sd, 4) AS bb_upper,
         | round(mid - 2.0 * sd, 4) AS bb_lower
         | FROM (SELECT symbol, date, close,
         |   CASE WHEN count(*) OVER w = 20 THEN avg(close) OVER w END AS mid,
         |   CASE WHEN count(*) OVER w = 20 THEN stddev_samp(close) OVER w END AS sd
         |   FROM stocks
         |   WINDOW w AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         | ORDER BY symbol, date""".stripMargin),
    QuerySpec("lag_diff", (s, d) =>
      stocks(s, d)
        .withColumn("close_diff", Indicators.diff)
        .select("symbol", "date", "close", "close_diff")
        .orderBy("symbol", "date"),
      s"""$S SELECT symbol, date, close,
         | close - lag(close, 1) OVER (PARTITION BY symbol ORDER BY date) AS close_diff
         | FROM stocks ORDER BY symbol, date""".stripMargin),
    QuerySpec("daily_return", (s, d) =>
      stocks(s, d)
        .withColumn("daily_return", round(Indicators.dailyReturn, 4))
        .select("symbol", "date", "close", "daily_return")
        .orderBy("symbol", "date"),
      s"""$S SELECT symbol, date, close,
         | round((close / lag(close, 1) OVER (PARTITION BY symbol ORDER BY date) - 1.0) * 100.0, 4) AS daily_return
         | FROM stocks ORDER BY symbol, date""".stripMargin),
    QuerySpec("volatility", (s, d) =>
      stocks(s, d)
        .withColumn("dr", Indicators.dailyReturn)
        .withColumn("volatility_30d", round(Indicators.volatility(30, col("dr")), 4))
        .select("symbol", "date", "volatility_30d")
        .orderBy("symbol", "date"),
      s"""$S SELECT symbol, date,
         | CASE WHEN count(dr) OVER w = 30 THEN round(stddev_samp(dr) OVER w, 4) END AS volatility_30d
         | FROM (SELECT symbol, date,
         |   (close / lag(close, 1) OVER (PARTITION BY symbol ORDER BY date) - 1.0) * 100.0 AS dr
         |   FROM stocks)
         | WINDOW w AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
         | ORDER BY symbol, date""".stripMargin),
    QuerySpec("rsi", (s, d) =>
      stocks(s, d)
        .withColumn("rsi", round(Indicators.rsi(14), 4))
        .select("symbol", "date", "rsi")
        .orderBy("symbol", "date"),
      rsiOracle),
    QuerySpec("normalize_base100", (s, d) =>
      stocks(s, d)
        .withColumn("norm_close", round(Indicators.normalizeBase100, 4))
        .select("symbol", "date", "norm_close")
        .orderBy("symbol", "date"),
      s"""$S SELECT symbol, date,
         | round(close / first_value(close) OVER (PARTITION BY symbol ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100.0, 4) AS norm_close
         | FROM stocks ORDER BY symbol, date""".stripMargin),
    QuerySpec("threshold_classify", (s, d) => {
      val r = round(Indicators.rsi(14), 4)
      stocks(s, d)
        .withColumn("rsi", r)
        .withColumn("signal", Indicators.rsiSignal(col("rsi")))
        .select("symbol", "date", "rsi", "signal")
        .orderBy("symbol", "date")
    },
      s"""WITH r AS ($rsiOracle)
         | SELECT symbol, date, rsi,
         |   CASE WHEN rsi > 70 THEN 'Overbought'
         |        WHEN rsi < 30 THEN 'Oversold'
         |        ELSE 'Neutral' END AS signal
         | FROM r ORDER BY symbol, date""".stripMargin),

    // ---- E3 dashboard semantics: filter FIRST, then windows — MAs are
    // computed on the filtered range, not full history (the reference
    // caches the scan, slices in memory, then adds MAs:
    // /root/reference/dashboard.py:24-38,64-65; SURVEY §3 E3)
    QuerySpec("dashboard_range_ma", (s, d) => {
      val sliced = stocks(s, d)
        .filter(col("symbol") === "RO" &&
          col("date").between(to_date(lit("1996-01-01")), to_date(lit("1999-12-31"))))
      sliced
        .withColumn("ma_50", round(Indicators.maGated(50), 6))
        .withColumn("ma_200", round(Indicators.maGated(200), 6))
        .select("symbol", "date", "close", "ma_50", "ma_200")
        .orderBy("date")
    },
      s"""$S, sliced AS (
         |   SELECT symbol, date, close FROM stocks
         |   WHERE symbol = 'RO' AND date BETWEEN DATE '1996-01-01' AND DATE '1999-12-31')
         | SELECT symbol, date, close,
         |   CASE WHEN count(*) OVER w50 = 50 THEN round(avg(close) OVER w50, 6) END AS ma_50,
         |   CASE WHEN count(*) OVER w200 = 200 THEN round(avg(close) OVER w200, 6) END AS ma_200
         | FROM sliced
         | WINDOW w50 AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 49 PRECEDING AND CURRENT ROW),
         |        w200 AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 199 PRECEDING AND CURRENT ROW)
         | ORDER BY date""".stripMargin),

    // ---- EWM family (W4-W7; custom Catalyst aggregate). ema_macd is
    // the full-precision surface, hash-matched bit-for-bit against a
    // DuckDB RECURSIVE CTE that replays the exact adjust=True recursion
    // (emaMacdExactOracle); ema_macd_checked rounds to 2 decimals and
    // hash-matches an independent truncated-convolution oracle — two
    // structurally different oracles cross-checking one implementation.
    QuerySpec("ema_macd", (s, d) =>
      Indicators.withEmaMacd(stocks(s, d))
        .select("symbol", "date", "close", "ema_12", "ema_26", "macd",
          "macd_signal", "macd_histogram")
        .orderBy("symbol", "date"),
      emaMacdExactOracle),
    QuerySpec("ema_macd_checked", (s, d) =>
      Indicators.withEmaMacd(stocks(s, d))
        .select(col("symbol"), col("date"),
          round(col("ema_12"), 2).as("ema_12"),
          round(col("ema_26"), 2).as("ema_26"),
          round(col("macd"), 2).as("macd"),
          round(col("macd_signal"), 2).as("macd_signal"),
          round(col("macd_histogram"), 2).as("macd_histogram"))
        .orderBy("symbol", "date"),
      emaMacdCheckedOracle),

    // ---- data quality (Q1-Q5)
    QuerySpec("quality_flags", (s, d) =>
      Quality.withVerdict(stocks(s, d))
        .withColumn("issues", concat_ws(",", col("errors")))
        .select("symbol", "date", "is_valid", "issues")
        .orderBy("symbol", "date"),
      s"""$S SELECT symbol, date, $qualityIssuesSql = '' AS is_valid,
         | $qualityIssuesSql AS issues FROM stocks ORDER BY symbol, date""".stripMargin),
    QuerySpec("quality_rejects", (s, d) =>
      Quality.rejects(stocks(s, d))
        .withColumn("issues", concat_ws(",", col("errors")))
        .select("symbol", "date", "open", "close", "issues")
        .orderBy("symbol", "date"),
      s"""$S SELECT symbol, date, open, close, $qualityIssuesSql AS issues
         | FROM stocks WHERE $qualityIssuesSql <> '' ORDER BY symbol, date""".stripMargin),
    QuerySpec("quality_histogram", (s, d) =>
      Quality.withVerdict(stocks(s, d))
        .select(explode(col("errors")).as("issue"))
        .groupBy("issue").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("issue")),
      s"""$S SELECT issue, n FROM (
         |   SELECT 'invalid_open' AS issue, count(*) AS n FROM stocks WHERE open <= 0
         |   UNION ALL SELECT 'invalid_high', count(*) FROM stocks WHERE high <= 0
         |   UNION ALL SELECT 'invalid_low', count(*) FROM stocks WHERE low <= 0
         |   UNION ALL SELECT 'invalid_close', count(*) FROM stocks WHERE close <= 0
         |   UNION ALL SELECT 'negative_volume', count(*) FROM stocks WHERE volume < 0
         |   UNION ALL SELECT 'high_lt_low', count(*) FROM stocks WHERE high < low
         |   UNION ALL SELECT 'high_lt_open_close', count(*) FROM stocks WHERE high < greatest(open, close)
         |   UNION ALL SELECT 'low_gt_open_close', count(*) FROM stocks WHERE low > least(open, close)
         |   UNION ALL SELECT 'extreme_swing', count(*) FROM stocks WHERE abs(close - open) / open > 0.5
         |   UNION ALL SELECT 'zero_volume_major', count(*) FROM stocks WHERE volume = 0 AND symbol IN ('AAPL','GOOGL','MSFT','AMZN','TSLA')
         | ) WHERE n > 0 ORDER BY n DESC, issue""".stripMargin),
    QuerySpec("quality_success_rate", (s, d) => Quality.successRate(stocks(s, d)),
      s"""$S SELECT symbol,
         | CAST(sum(CASE WHEN $qualityIssuesSql = '' THEN 1 ELSE 0 END) AS BIGINT) AS valid_rows,
         | count(*) AS total_rows,
         | round(sum(CASE WHEN $qualityIssuesSql = '' THEN 1 ELSE 0 END) * 100.0 / count(*), 4) AS success_rate_pct
         | FROM stocks GROUP BY symbol ORDER BY symbol""".stripMargin),
    // P6: the missing-field short-circuit on a null-injected projection —
    // rows with a null open report ONLY missing_open (value rules
    // skipped, fetch_and_store.py:70-76), even where the negated close
    // would otherwise flag invalid_close.
    QuerySpec("quality_missing", (s, d) => {
      val frame = stocks(s, d)
        .withColumn("open",
          when(col("volume") % 7 === 0, lit(null).cast("double")).otherwise(col("open")))
        .withColumn("close",
          when(col("volume") % 11 === 0, -col("close")).otherwise(col("close")))
      Quality.withVerdict(frame)
        .withColumn("issues", concat_ws(",", col("errors")))
        .select("symbol", "date", "is_valid", "issues")
        .orderBy("symbol", "date")
    },
      s"""$S, f AS (SELECT symbol, date,
         |   CASE WHEN volume % 7 = 0 THEN NULL ELSE open END AS open,
         |   high, low,
         |   CASE WHEN volume % 11 = 0 THEN -close ELSE close END AS close,
         |   volume FROM stocks)
         | SELECT symbol, date,
         |   CASE WHEN open IS NULL THEN FALSE ELSE $qualityIssuesSql = '' END AS is_valid,
         |   CASE WHEN open IS NULL THEN 'missing_open' ELSE $qualityIssuesSql END AS issues
         | FROM f ORDER BY symbol, date""".stripMargin),

    // the same injected frame, with the reference's value-interpolated
    // reject messages (fetch_and_store.py:86-118) instead of slugs;
    // rejects only
    QuerySpec("quality_messages", (s, d) => {
      val frame = stocks(s, d)
        .withColumn("open",
          when(col("volume") % 7 === 0, lit(null).cast("double")).otherwise(col("open")))
        .withColumn("close",
          when(col("volume") % 11 === 0, -col("close")).otherwise(col("close")))
      Quality.withMessages(frame)
        .filter(!col("is_valid"))
        .withColumn("issues", concat_ws("; ", col("errors")))
        .select("symbol", "date", "issues")
        .orderBy("symbol", "date")
    },
      s"""$S, f AS (SELECT symbol, date,
         |   CASE WHEN volume % 7 = 0 THEN NULL ELSE open END AS open,
         |   high, low,
         |   CASE WHEN volume % 11 = 0 THEN -close ELSE close END AS close,
         |   volume FROM stocks),
         | m AS (SELECT symbol, date,
         |   CASE WHEN open IS NULL THEN 'Missing Open'
         |     ELSE concat_ws('; ',
         |       CASE WHEN open <= 0 THEN 'Invalid open price: $$' || ${d2Sql("open")} END,
         |       CASE WHEN high <= 0 THEN 'Invalid high price: $$' || ${d2Sql("high")} END,
         |       CASE WHEN low <= 0 THEN 'Invalid low price: $$' || ${d2Sql("low")} END,
         |       CASE WHEN close <= 0 THEN 'Invalid close price: $$' || ${d2Sql("close")} END,
         |       CASE WHEN volume < 0 THEN 'Negative volume: ' || CAST(volume AS VARCHAR) END,
         |       CASE WHEN high < low THEN 'High ($$' || ${d2Sql("high")} || ') < Low ($$' || ${d2Sql("low")} || ')' END,
         |       CASE WHEN high < greatest(open, close) THEN 'High ($$' || ${d2Sql("high")} || ') < Open/Close max' END,
         |       CASE WHEN low > least(open, close) THEN 'Low ($$' || ${d2Sql("low")} || ') > Open/Close min' END,
         |       CASE WHEN abs(close - open) / open > 0.5 THEN 'Extreme price movement: ' ||
         |         CASE WHEN (close - open) / open * 100.0 >= 0 THEN '+' ELSE '' END ||
         |         CAST(CAST((close - open) / open * 100.0 AS DECIMAL(28,1)) AS VARCHAR) || '% in one day' END,
         |       CASE WHEN volume = 0 AND symbol IN ('AAPL','GOOGL','MSFT','AMZN','TSLA')
         |            THEN 'Zero volume for major stock on trading day' END)
         |     END AS issues
         |   FROM f)
         | SELECT symbol, date, issues FROM m WHERE issues <> '' ORDER BY symbol, date""".stripMargin),

    // ---- schema-adaptive ingest (P11/S1 edge): mangled yfinance-style
    // names — padding, case, a ticker-prefixed flattened-MultiIndex
    // column, an 'Adj Close' variant — plus a null price hitting the
    // NaN/None→0 fill.
    QuerySpec("ingest_adaptive", (s, d) => {
      val mangled = stocks(s, d).select(
        col("symbol").as("Symbol"),
        col("date").as(" Date "),
        col("open").as("Open"),
        col("high").as("HIGH"),
        when(col("volume") % 5 === 0, lit(null).cast("double"))
          .otherwise(col("low")).as("AF Low"),
        col("close").as(" Close"),
        col("adj_close").as("Adj Close"),
        col("volume").as("Volume"))
      Ingest.normalizeSchema(mangled).orderBy("symbol", "date")
    },
      s"""$S SELECT symbol, date, open, high,
         | CASE WHEN volume % 5 = 0 THEN 0.0 ELSE low END AS low,
         | close, adj_close, volume FROM stocks ORDER BY symbol, date""".stripMargin),

    // ---- S7 CSV export: write the AF slice to CSV, read it back with
    // the original schema — the oracle equality proves the round-trip
    // is lossless (shortest-repr doubles re-parse exactly).
    // SIDE EFFECT: invoking this query writes the export; the path is
    // fixed per JVM (overwrite mode handles re-runs) so repeated
    // invocations (Verify, Bench warmup) reuse one directory instead of
    // leaking a temp dir each call.
    QuerySpec("csv_export_roundtrip", (s, d) => {
      val out = csvExportDir
      val slice = stocks(s, d).filter(col("symbol") === "AF")
      Sink.exportCsv(slice, out)
      Sink.readCsv(s, out, slice.schema).orderBy("date")
    },
      s"""$S SELECT * FROM stocks WHERE symbol = 'AF' ORDER BY date""".stripMargin),

    // ---- merge / upsert (J1/J2, I3)
    QuerySpec("merge_upsert", (s, d) => {
      val target = stocks(s, d)
      val updates = target.filter(col("date") >= cutoffMid98)
        .withColumn("open", col("open") * 1.02)
        .withColumn("close", col("close") * 1.02)
      Merge.upsert(target, updates).orderBy("symbol", "date")
    },
      s"""$S SELECT symbol, date,
         | CASE WHEN date >= DATE '1998-07-01' THEN open * 1.02 ELSE open END AS open,
         | high, low,
         | CASE WHEN date >= DATE '1998-07-01' THEN close * 1.02 ELSE close END AS close,
         | adj_close, volume FROM stocks ORDER BY symbol, date""".stripMargin),
    QuerySpec("merge_first_wins", (s, d) => {
      val target = stocks(s, d).filter(col("date") < cutoff99)
      val inserts = stocks(s, d)
        .withColumn("open", col("open") * 1.05)
        .withColumn("close", col("close") * 1.05)
      Merge.insertIgnore(target, inserts).orderBy("symbol", "date")
    },
      s"""$S SELECT symbol, date,
         | CASE WHEN date < DATE '1999-01-01' THEN open ELSE open * 1.05 END AS open,
         | high, low,
         | CASE WHEN date < DATE '1999-01-01' THEN close ELSE close * 1.05 END AS close,
         | adj_close, volume FROM stocks ORDER BY symbol, date""".stripMargin),
    QuerySpec("incremental_after_watermark", (s, d) => {
      val target = stocks(s, d).filter(col("date") < cutoff98)
      Merge.incremental(stocks(s, d), Merge.watermarks(target))
        .orderBy("symbol", "date")
    },
      s"""$S SELECT * FROM stocks WHERE date >= DATE '1998-01-01' ORDER BY symbol, date""".stripMargin),
    QuerySpec("continuity_check", (s, d) => {
      val oldB = stocks(s, d).filter(col("date") < cutoff98)
      val newB = stocks(s, d).filter(col("date") >= cutoff98)
        .withColumn("open", col("open") * 0.3)
      Quality.continuity(oldB, newB)
    },
      s"""$S, lastold AS (
         |   SELECT s.symbol, s.close AS last_close FROM stocks s
         |   JOIN (SELECT symbol, max(date) AS d FROM stocks WHERE date < DATE '1998-01-01' GROUP BY symbol) m
         |     ON s.symbol = m.symbol AND s.date = m.d),
         | firstnew AS (
         |   SELECT s.symbol, s.open * 0.3 AS first_open FROM stocks s
         |   JOIN (SELECT symbol, min(date) AS d FROM stocks WHERE date >= DATE '1998-01-01' GROUP BY symbol) m
         |     ON s.symbol = m.symbol AND s.date = m.d)
         | SELECT o.symbol, o.last_close, n.first_open,
         |   round(n.first_open / o.last_close, 4) AS ratio,
         |   CASE WHEN round(n.first_open / o.last_close, 4) < 0.5
         |          OR round(n.first_open / o.last_close, 4) > 2.0
         |        THEN 'discontinuity' ELSE 'ok' END AS flag
         | FROM lastold o JOIN firstnew n ON o.symbol = n.symbol ORDER BY o.symbol""".stripMargin),

    // ---- summary (A4-A10)
    QuerySpec("perf_summary", (s, d) => Summary.performance(stocks(s, d)),
      s"""$S, ret AS (
         |   SELECT symbol, date, close, high, low, volume,
         |     (close / lag(close, 1) OVER (PARTITION BY symbol ORDER BY date) - 1.0) * 100.0 AS dr
         |   FROM stocks)
         | SELECT symbol,
         |   count(*) AS trading_days,
         |   max(high) AS period_high,
         |   min(low) AS period_low,
         |   min_by(close, date) AS first_close,
         |   max_by(close, date) AS last_close,
         |   round(avg(dr), 4) AS avg_daily_return,
         |   round(stddev_samp(dr), 4) AS return_volatility,
         |   max(volume) AS max_volume,
         |   round((max_by(close, date) - min_by(close, date)) / min_by(close, date) * 100.0, 4) AS total_return_pct,
         |   CASE WHEN stddev_samp(dr) > 0 THEN round(avg(dr) / stddev_samp(dr), 4) END AS sharpe
         | FROM ret GROUP BY symbol ORDER BY symbol""".stripMargin),

    // ---- comparison pivot (J3)
    // One partition from the window on: it satisfies the pivot's
    // grouping on date, so the plan has no exchange (one job, one task),
    // where a global `orderBy` would add a range shuffle and its
    // boundary-sampling job. Sized for the stocks cache (~2.5k output
    // rows); a table-sized input would want the parallel shape.
    QuerySpec("compare_pivot", (s, d) =>
      stocks(s, d)
        .withColumn("norm", round(Indicators.normalizeBase100, 4))
        .coalesce(1)
        .groupBy("date").pivot("symbol", Tables.symbols).agg(max(col("norm")))
        .sortWithinPartitions("date"),
      s"""$S, norm AS (
         |   SELECT date, symbol,
         |     round(close / first_value(close) OVER (PARTITION BY symbol ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100.0, 4) AS n
         |   FROM stocks)
         | SELECT date,
         |   max(CASE WHEN symbol = 'AF' THEN n END) AS "AF",
         |   max(CASE WHEN symbol = 'AO' THEN n END) AS "AO",
         |   max(CASE WHEN symbol = 'NF' THEN n END) AS "NF",
         |   max(CASE WHEN symbol = 'NO' THEN n END) AS "NO",
         |   max(CASE WHEN symbol = 'RF' THEN n END) AS "RF",
         |   max(CASE WHEN symbol = 'RO' THEN n END) AS "RO"
         | FROM norm GROUP BY date ORDER BY date""".stripMargin),
    // unpivot/melt: OHLC wide → long via stack()
    QuerySpec("stocks_melt", (s, d) =>
      Tables.stocks(s, d)
        .selectExpr("symbol", "date",
          "stack(4, 'open', open, 'high', high, 'low', low, 'close', close) AS (field, value)")
        .orderBy("symbol", "date", "field"),
      s"""${Tables.stocksCte},
         | m AS (
         |   SELECT symbol, date, 'open' AS field, open AS value FROM stocks
         |   UNION ALL SELECT symbol, date, 'high', high FROM stocks
         |   UNION ALL SELECT symbol, date, 'low', low FROM stocks
         |   UNION ALL SELECT symbol, date, 'close', close FROM stocks)
         | SELECT symbol, date, field, value FROM m
         | ORDER BY symbol, date, field""".stripMargin),
    // Benford first-digit forensics over trade volumes
    QuerySpec("volume_benford", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
      Tables.stocks(s, d)
        .filter(col("volume") > 0)
        .withColumn("digit", substring(col("volume").cast("string"), 1, 1).cast("int"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .withColumn("obs_freq", round(col("n") / sum(col("n")).over(w), 6))
        .withColumn("benford_freq", round(log10(lit(1.0) + lit(1.0) / col("digit")), 6))
        .withColumn("diff", round(col("obs_freq") - col("benford_freq"), 6))
        .orderBy("digit")
    },
      s"""${Tables.stocksCte},
         | dg AS (SELECT CAST(substring(CAST(volume AS VARCHAR), 1, 1) AS INTEGER) AS digit
         |        FROM stocks WHERE volume > 0),
         | c AS (SELECT digit, count(*) AS n FROM dg GROUP BY digit)
         | SELECT digit, n,
         |   round(n / (SUM(n) OVER ()), 6) AS obs_freq,
         |   round(log10(1.0 + 1.0 / digit), 6) AS benford_freq,
         |   round(round(n / (SUM(n) OVER ()), 6) - round(log10(1.0 + 1.0 / digit), 6), 6) AS diff
         | FROM c ORDER BY digit""".stripMargin),
    // skewness / excess kurtosis of returns via exact power sums
    QuerySpec("return_moments", (s, d) => IndicatorsExt.returnMoments(Tables.stocks(s, d)),
      s"""${Tables.stocksCte},
         | r0 AS (SELECT symbol,
         |          CAST(round((close / lag(close, 1) OVER (PARTITION BY symbol ORDER BY date) - 1.0) * 100.0, 4)
         |               AS DECIMAL(8,4)) AS r
         |        FROM stocks),
         | rr AS (SELECT symbol, r FROM r0 WHERE r IS NOT NULL),
         | a AS (SELECT symbol, CAST(count(*) AS DOUBLE) AS n,
         |         CAST(sum(r) AS DOUBLE) AS s1,
         |         CAST(sum(r * r) AS DOUBLE) AS s2,
         |         CAST(sum(CAST(r * r AS DECIMAL(20,8)) * r) AS DOUBLE) AS s3,
         |         CAST(sum(CAST(r * r AS DECIMAL(20,8)) * (r * r)) AS DOUBLE) AS s4
         |       FROM rr GROUP BY symbol),
         | m AS (SELECT symbol, n, s1 / n AS m1, s2, s3, s4 FROM a),
         | c AS (SELECT symbol, n, m1,
         |         s2 / n - m1 * m1 AS m2,
         |         s3 / n - 3.0 * m1 * (s2 / n) + 2.0 * (m1 * m1 * m1) AS m3,
         |         s4 / n - 4.0 * m1 * (s3 / n) + 6.0 * (m1 * m1) * (s2 / n) - 3.0 * ((m1 * m1) * (m1 * m1)) AS m4
         |       FROM m)
         | SELECT symbol, CAST(n AS BIGINT) AS n_days,
         |   round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
         |   round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis
         | FROM c ORDER BY symbol""".stripMargin),
    // pandas-resample surface over the derived bars: weekly OHLCV and
    // calendar reindex + forward-fill
    QuerySpec("stocks_weekly", (s, d) => Resample.weekly(Tables.stocks(s, d)),
      s"""${Tables.stocksCte}
         | SELECT symbol, CAST(date_trunc('week', date) AS DATE) AS week,
         |   arg_min(open, date) AS open, max(high) AS high, min(low) AS low,
         |   arg_max(close, date) AS close,
         |   CAST(sum(volume) AS BIGINT) AS volume, count(*) AS n_days
         | FROM stocks
         | GROUP BY symbol, CAST(date_trunc('week', date) AS DATE)
         | ORDER BY symbol, week""".stripMargin),
    QuerySpec("stocks_monthly", (s, d) => Resample.monthly(Tables.stocks(s, d)),
      s"""${Tables.stocksCte},
         | m AS (SELECT symbol, CAST(date_trunc('month', date) AS DATE) AS month,
         |   arg_min(open, date) AS open, max(high) AS high, min(low) AS low,
         |   arg_max(close, date) AS close,
         |   CAST(sum(volume) AS BIGINT) AS volume, count(*) AS n_days
         | FROM stocks
         | GROUP BY symbol, CAST(date_trunc('month', date) AS DATE))
         | SELECT symbol, month, open, high, low, close, volume, n_days,
         |   round((close / lag(close, 1) OVER (PARTITION BY symbol ORDER BY month)
         |     - 1.0) * 100.0, 4) AS mom_return
         | FROM m ORDER BY symbol, month""".stripMargin),
    QuerySpec("stocks_ffill_calendar", (s, d) => Resample.ffillCalendar(Tables.stocks(s, d)),
      s"""${Tables.stocksCte},
         | b AS (SELECT symbol, min(date) AS d0, max(date) AS d1 FROM stocks GROUP BY symbol),
         | cal AS (SELECT symbol, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS date FROM b),
         | j AS (SELECT cal.symbol, cal.date, s.close
         |       FROM cal LEFT JOIN stocks s ON s.symbol = cal.symbol AND s.date = cal.date)
         | SELECT symbol, date,
         |   last_value(close IGNORE NULLS) OVER (PARTITION BY symbol ORDER BY date
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ffill,
         |   close IS NULL AS is_gap
         | FROM j ORDER BY symbol, date""".stripMargin),
    // robust outlier days: median/MAD modified z-score on daily returns
    QuerySpec("return_outliers_mad", (s, d) => IndicatorsExt.madOutliers(Tables.stocks(s, d)),
      // The odd-n doubling is folded per-row (× DECIMAL(1,0)) so the sum
      // chains stay ≤38 digits at scale 8 on both engines (a post-sum ×int
      // rescaled Spark's result to scale 6 past the cap); `+ 0.0` on rob_z
      // normalizes DuckDB's round(−tiny) = −0.0 vs Spark's BigDecimal +0.0.
      s"""${Tables.stocksCte},
         | r AS (SELECT symbol, date,
         |     CAST(round((close / lag(close, 1) OVER (PARTITION BY symbol ORDER BY date)
         |       - 1.0) * 100.0, 8) AS DECIMAL(18,8)) AS ret
         |   FROM stocks),
         | rr AS (SELECT * FROM r WHERE ret IS NOT NULL),
         | rk AS (SELECT symbol, date, ret,
         |     row_number() OVER (PARTITION BY symbol ORDER BY ret) AS rn,
         |     count(*) OVER (PARTITION BY symbol) AS n
         |   FROM rr),
         | rk2 AS (SELECT *, CAST(floor((n + 1) / 2.0) AS INT) AS lo,
         |     CAST(floor((n + 2) / 2.0) AS INT) AS hi FROM rk),
         | m AS (SELECT symbol,
         |     sum(CASE WHEN rn BETWEEN lo AND hi THEN
         |       ret * CAST(CASE WHEN lo = hi THEN 2 ELSE 1 END AS DECIMAL(1,0)) END) AS med2
         |   FROM rk2 GROUP BY symbol),
         | d AS (SELECT rr.symbol, rr.date, rr.ret, m.med2,
         |     CAST(abs(rr.ret * CAST(2 AS DECIMAL(1,0)) - m.med2) AS DECIMAL(20,8)) AS dev2
         |   FROM rr JOIN m USING (symbol)),
         | dk AS (SELECT symbol, date, ret, med2, dev2,
         |     row_number() OVER (PARTITION BY symbol ORDER BY dev2) AS rn,
         |     count(*) OVER (PARTITION BY symbol) AS n
         |   FROM d),
         | dk2 AS (SELECT *, CAST(floor((n + 1) / 2.0) AS INT) AS lo,
         |     CAST(floor((n + 2) / 2.0) AS INT) AS hi FROM dk),
         | md AS (SELECT symbol,
         |     sum(CASE WHEN rn BETWEEN lo AND hi THEN
         |       dev2 * CAST(CASE WHEN lo = hi THEN 2 ELSE 1 END AS DECIMAL(1,0)) END) AS mad4
         |   FROM dk2 GROUP BY symbol)
         | SELECT d.symbol, d.date, CAST(d.ret AS DOUBLE) AS ret,
         |   round(0.6745 * CAST(d.ret * 2 - d.med2 AS DOUBLE) * 2.0
         |     / nullif(CAST(md.mad4 AS DOUBLE), 0.0), 4) + 0.0 AS rob_z,
         |   abs(round(0.6745 * CAST(d.ret * 2 - d.med2 AS DOUBLE) * 2.0
         |     / nullif(CAST(md.mad4 AS DOUBLE), 0.0), 4) + 0.0) > 3.5 AS is_outlier
         | FROM d JOIN md USING (symbol) ORDER BY d.symbol, d.date""".stripMargin),
    // historical 95% VaR + expected shortfall per symbol
    QuerySpec("risk_var_cvar", (s, d) => Risk.varCvar(Tables.stocks(s, d)),
      s"""${Tables.stocksCte},
         | r AS (SELECT symbol, date,
         |     CAST(round((close / lag(close, 1) OVER (PARTITION BY symbol ORDER BY date)
         |       - 1.0) * 100.0, 8) AS DECIMAL(12,8)) AS ret
         |   FROM stocks),
         | rr AS (SELECT * FROM r WHERE ret IS NOT NULL),
         | v AS (SELECT symbol, round(quantile_cont(CAST(ret AS DOUBLE), 0.05), 8) AS var95,
         |         count(*) AS n_days
         |       FROM rr GROUP BY symbol),
         | t AS (SELECT rr.symbol, v.n_days, v.var95, rr.ret
         |       FROM rr JOIN v USING (symbol)
         |       WHERE CAST(rr.ret AS DOUBLE) <= v.var95)
         | SELECT symbol, any_value(n_days) AS n_days,
         |   round(any_value(var95), 6) AS var95,
         |   round(CAST(sum(ret) AS DOUBLE) / count(*), 6) AS cvar95,
         |   count(*) AS n_tail
         | FROM t GROUP BY symbol ORDER BY symbol""".stripMargin),
    // trailing 20d annualized Sharpe / Sortino
    QuerySpec("rolling_sharpe", (s, d) => Risk.rollingSharpe(Tables.stocks(s, d)),
      s"""${Tables.stocksCte},
         | r AS (SELECT symbol, date,
         |     CAST(round((close / lag(close, 1) OVER (PARTITION BY symbol ORDER BY date)
         |       - 1.0) * 100.0, 8) AS DECIMAL(12,8)) AS ret
         |   FROM stocks),
         | rr AS (SELECT * FROM r WHERE ret IS NOT NULL),
         | s AS (SELECT symbol, date,
         |     count(*) OVER wdw AS cnt,
         |     CAST(SUM(ret) OVER wdw AS DOUBLE) AS s1,
         |     CAST(SUM(CAST(ret AS DECIMAL(20,8)) * CAST(ret AS DECIMAL(20,8)))
         |       OVER wdw AS DOUBLE) AS s2,
         |     CAST(SUM(CAST(CASE WHEN ret < 0 THEN ret ELSE 0 END AS DECIMAL(20,8))
         |       * CAST(CASE WHEN ret < 0 THEN ret ELSE 0 END AS DECIMAL(20,8)))
         |       OVER wdw AS DOUBLE) AS sd2
         |   FROM rr
         |   WINDOW wdw AS (PARTITION BY symbol ORDER BY date
         |                  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         | SELECT symbol, date,
         |   CASE WHEN cnt >= 20 THEN round(sqrt(252.0) * (s1 / cnt)
         |     / sqrt((s2 - s1 * s1 / cnt) / (cnt - 1.0)), 4) END AS sharpe,
         |   CASE WHEN cnt >= 20 THEN round(sqrt(252.0) * (s1 / cnt)
         |     / nullif(sqrt(sd2 / cnt), 0.0), 4) END AS sortino
         | FROM s ORDER BY symbol, date""".stripMargin),
    // per-symbol OLS close-vs-day trend with R²
    QuerySpec("trend_ols", (s, d) => Risk.trendOls(Tables.stocks(s, d)),
      s"""${Tables.stocksCte},
         | b AS (SELECT symbol,
         |     CAST(row_number() OVER (PARTITION BY symbol ORDER BY date) AS BIGINT) AS x,
         |     CAST(round(close, 6) AS DECIMAL(18,6)) AS y
         |   FROM stocks),
         | a AS (SELECT symbol, CAST(count(*) AS DOUBLE) AS n,
         |     CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(x * x) AS DOUBLE) AS sxx,
         |     CAST(sum(y) AS DOUBLE) AS sy,
         |     CAST(sum(CAST(y AS DECIMAL(20,6)) * CAST(y AS DECIMAL(20,6))) AS DOUBLE) AS syy,
         |     CAST(sum(CAST(x AS DECIMAL(20,0)) * CAST(y AS DECIMAL(20,6))) AS DOUBLE) AS sxy
         |   FROM b GROUP BY symbol)
         | SELECT symbol, CAST(n AS BIGINT) AS n_days,
         |   round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
         |   round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept,
         |   round((n * sxy - sx * sy) * (n * sxy - sx * sy)
         |     / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
         | FROM a ORDER BY symbol""".stripMargin),
    // all-pairs return correlation matrix (upper triangle)
    QuerySpec("corr_matrix", (s, d) => Risk.corrMatrix(Tables.stocks(s, d)),
      s"""${Tables.stocksCte},
         | r AS (SELECT symbol, date,
         |     CAST(round((close / lag(close, 1) OVER (PARTITION BY symbol ORDER BY date)
         |       - 1.0) * 100.0, 8) AS DECIMAL(12,8)) AS ret
         |   FROM stocks),
         | rr AS (SELECT * FROM r WHERE ret IS NOT NULL),
         | j AS (SELECT a.symbol AS symbol_a, b.symbol AS symbol_b,
         |         a.ret AS x, b.ret AS y
         |       FROM rr a JOIN rr b USING (date) WHERE a.symbol < b.symbol),
         | g AS (SELECT symbol_a, symbol_b, CAST(count(*) AS DOUBLE) AS n,
         |     CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         |     CAST(sum(CAST(x AS DECIMAL(20,8)) * CAST(y AS DECIMAL(20,8))) AS DOUBLE) AS sxy,
         |     CAST(sum(CAST(x AS DECIMAL(20,8)) * CAST(x AS DECIMAL(20,8))) AS DOUBLE) AS sxx,
         |     CAST(sum(CAST(y AS DECIMAL(20,8)) * CAST(y AS DECIMAL(20,8))) AS DOUBLE) AS syy
         |   FROM j GROUP BY symbol_a, symbol_b)
         | SELECT symbol_a, symbol_b, CAST(n AS BIGINT) AS n_days,
         |   round((n * sxy - sx * sy)
         |     / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr
         | FROM g ORDER BY symbol_a, symbol_b""".stripMargin),
    // day-of-week return seasonality
    QuerySpec("seasonality_dow", (s, d) => Risk.dowSeasonality(Tables.stocks(s, d)),
      s"""${Tables.stocksCte},
         | r AS (SELECT symbol, date,
         |     CAST(round((close / lag(close, 1) OVER (PARTITION BY symbol ORDER BY date)
         |       - 1.0) * 100.0, 8) AS DECIMAL(12,8)) AS ret
         |   FROM stocks),
         | rr AS (SELECT * FROM r WHERE ret IS NOT NULL)
         | SELECT symbol, CAST(dayofweek(date) AS BIGINT) AS dow,
         |   count(*) AS n_days,
         |   round(CAST(sum(ret) AS DOUBLE) / count(*), 6) AS mean_ret,
         |   round(sum(CASE WHEN ret > 0 THEN 1 ELSE 0 END) / count(*), 6) AS up_frac
         | FROM rr GROUP BY symbol, CAST(dayofweek(date) AS BIGINT)
         | ORDER BY symbol, dow""".stripMargin),
    // SMA-signal momentum backtest vs buy-and-hold (no lookahead)
    QuerySpec("backtest_sma", (s, d) => Risk.smaBacktest(Tables.stocks(s, d), 50),
      s"""${Tables.stocksCte},
         | m AS (SELECT symbol, date, close,
         |     CASE WHEN count(*) OVER f = 50 THEN avg(close) OVER f END AS ma
         |   FROM stocks
         |   WINDOW f AS (PARTITION BY symbol ORDER BY date
         |                ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)),
         | s2 AS (SELECT symbol, date, close, close > ma AS sig FROM m),
         | p AS (SELECT symbol, date, close,
         |     coalesce(lag(sig, 1) OVER wd, false) AS position,
         |     round((close / lag(close, 1) OVER wd - 1.0) * 100.0, 8) AS ret
         |   FROM s2 WINDOW wd AS (PARTITION BY symbol ORDER BY date)),
         | pp AS (SELECT * FROM p WHERE ret IS NOT NULL),
         | lg AS (SELECT symbol, date, position, ret,
         |     CAST(round(ln(1.0 + (CASE WHEN position THEN ret ELSE 0.0 END) / 100.0), 10)
         |       AS DECIMAL(18,10)) AS slg,
         |     CAST(round(ln(1.0 + ret / 100.0), 10) AS DECIMAL(18,10)) AS blg
         |   FROM pp)
         | SELECT symbol, date, position, ret,
         |   round(100.0 * exp(CAST(SUM(slg) OVER wc AS DOUBLE)), 4) AS strat_wealth,
         |   round(100.0 * exp(CAST(SUM(blg) OVER wc AS DOUBLE)), 4) AS bh_wealth
         | FROM lg
         | WINDOW wc AS (PARTITION BY symbol ORDER BY date
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         | ORDER BY symbol, date""".stripMargin),
    // lead-lag cross-correlation: corr(x_t, y_{t+lag}), lag ∈ [-3, 3]
    QuerySpec("leadlag_corr", (s, d) => Risk.leadLagCorr(Tables.stocks(s, d), "AF", "NO"),
      s"""${Tables.stocksCte},
         | r AS (SELECT symbol, date,
         |     CAST(round((close / lag(close, 1) OVER (PARTITION BY symbol ORDER BY date)
         |       - 1.0) * 100.0, 8) AS DECIMAL(12,8)) AS ret
         |   FROM stocks),
         | rr AS (SELECT symbol, ret,
         |     row_number() OVER (PARTITION BY symbol ORDER BY date) AS rn
         |   FROM r WHERE ret IS NOT NULL),
         | a AS (SELECT rn AS rn_a, ret AS x FROM rr WHERE symbol = 'AF'),
         | b AS (SELECT rn - t.lag AS rn_match, CAST(t.lag AS INTEGER) AS lag, ret AS y
         |       FROM rr, UNNEST(range(-3, 4)) AS t(lag) WHERE symbol = 'NO'),
         | g AS (SELECT lag, CAST(count(*) AS DOUBLE) AS n,
         |     CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         |     CAST(sum(CAST(x AS DECIMAL(20,8)) * CAST(y AS DECIMAL(20,8))) AS DOUBLE) AS sxy,
         |     CAST(sum(CAST(x AS DECIMAL(20,8)) * CAST(x AS DECIMAL(20,8))) AS DOUBLE) AS sxx,
         |     CAST(sum(CAST(y AS DECIMAL(20,8)) * CAST(y AS DECIMAL(20,8))) AS DOUBLE) AS syy
         |   FROM a JOIN b ON a.rn_a = b.rn_match GROUP BY lag)
         | SELECT lag, CAST(n AS BIGINT) AS n_days,
         |   round((n * sxy - sx * sy)
         |     / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr
         | FROM g ORDER BY lag""".stripMargin),
    // CDC snapshot diff: the merge_upsert fixture classified per PK
    QuerySpec("snapshot_diff", (s, d) => {
      val t = Tables.stocks(s, d)
      val old = t.filter(col("date") < to_date(lit("1999-01-01")))
      val updates = t.filter(col("date") >= to_date(lit("1998-07-01")))
        .withColumn("open", col("open") * 1.02)
        .withColumn("close", col("close") * 1.02)
      Merge.snapshotDiff(old, Merge.upsert(t, updates))
    },
      s"""${Tables.stocksCte},
         | old AS (SELECT symbol, date, close FROM stocks
         |         WHERE date < CAST('1999-01-01' AS DATE)),
         | newt AS (SELECT symbol, date,
         |     CASE WHEN date >= CAST('1998-07-01' AS DATE) THEN close * 1.02
         |          ELSE close END AS close
         |   FROM stocks),
         | o2 AS (SELECT *, TRUE AS in_old FROM old),
         | n2 AS (SELECT *, TRUE AS in_new FROM newt)
         | SELECT symbol, date, o.close AS old_close, n.close AS new_close,
         |   CASE WHEN o.in_old IS NULL THEN 'added'
         |        WHEN n.in_new IS NULL THEN 'removed'
         |        WHEN o.close IS NOT DISTINCT FROM n.close THEN 'unchanged'
         |        ELSE 'changed' END AS change_type
         | FROM o2 o FULL OUTER JOIN n2 n USING (symbol, date)
         | ORDER BY symbol, date""".stripMargin),
    // volume-at-price distribution per symbol
    QuerySpec("volume_profile", (s, d) => Risk.volumeProfile(Tables.stocks(s, d)),
      s"""${Tables.stocksCte},
         | b AS (SELECT symbol, CAST(floor(close / 1000.0) AS BIGINT) AS bucket,
         |         volume
         |       FROM stocks),
         | g AS (SELECT symbol, bucket, count(*) AS n_days,
         |         CAST(sum(volume) AS BIGINT) AS volume
         |       FROM b GROUP BY symbol, bucket)
         | SELECT symbol, bucket, n_days, volume,
         |   round(volume / sum(volume) OVER (PARTITION BY symbol), 6) AS vol_share
         | FROM g ORDER BY symbol, bucket""".stripMargin),
    // cumulative wealth index via exact log-growth running sums
    QuerySpec("wealth_index", (s, d) => Risk.wealthIndex(Tables.stocks(s, d)),
      s"""${Tables.stocksCte},
         | r AS (SELECT symbol, date,
         |     round((close / lag(close, 1) OVER (PARTITION BY symbol ORDER BY date)
         |       - 1.0) * 100.0, 8) AS ret
         |   FROM stocks),
         | rr AS (SELECT * FROM r WHERE ret IS NOT NULL),
         | lg AS (SELECT symbol, date, ret,
         |     CAST(round(ln(1.0 + ret / 100.0), 10) AS DECIMAL(18,10)) AS lg
         |   FROM rr)
         | SELECT symbol, date, ret,
         |   round(100.0 * exp(CAST(SUM(lg) OVER (PARTITION BY symbol ORDER BY date
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 4) AS wealth
         | FROM lg ORDER BY symbol, date""".stripMargin),

    // ---- as-of join (union + ordered-window carry; oracle is DuckDB's
    // native ASOF JOIN, a cross-implementation equivalence check)
    QuerySpec("asof_anchor_ratio", (s, d) => {
      val stocks = Tables.stocks(s, d)
      val anchors = stocks.filter(dayofmonth(col("date")) === 1)
        .select(col("symbol"), col("date"), col("close").as("anchor_close"))
      AsOf.joinAsOf(stocks, anchors, Seq("symbol"), "date", Seq("anchor_close"))
        .withColumn("ratio", round(col("close") / col("anchor_close"), 4))
        .select("symbol", "date", "close", "anchor_close", "ratio")
        .orderBy("symbol", "date")
    },
      s"""${Tables.stocksCte},
         | anchors AS (SELECT symbol, date AS adate, close AS anchor_close
         |             FROM stocks WHERE day(date) = 1)
         | SELECT s.symbol, s.date, s.close, a.anchor_close,
         |   round(s.close / a.anchor_close, 4) AS ratio
         | FROM stocks s ASOF LEFT JOIN anchors a
         |   ON s.symbol = a.symbol AND s.date >= a.adate
         | ORDER BY s.symbol, s.date""".stripMargin),

    // FORWARD as-of — next month-start anchor at or after each row —
    // against DuckDB's native forward ASOF (probe.ts <= ref.ts)
    QuerySpec("asof_forward_ratio", (s, d) => {
      val stocks = Tables.stocks(s, d)
      val anchors = stocks.filter(dayofmonth(col("date")) === 1)
        .select(col("symbol"), col("date"), col("close").as("anchor_close"))
      AsOf.joinAsOfForward(stocks, anchors, Seq("symbol"), "date", Seq("anchor_close"))
        .withColumn("ratio", round(col("close") / col("anchor_close"), 4))
        .select("symbol", "date", "close", "anchor_close", "ratio")
        .orderBy("symbol", "date")
    },
      s"""${Tables.stocksCte},
         | anchors AS (SELECT symbol, date AS adate, close AS anchor_close
         |             FROM stocks WHERE day(date) = 1)
         | SELECT s.symbol, s.date, s.close, a.anchor_close,
         |   round(s.close / a.anchor_close, 4) AS ratio
         | FROM stocks s ASOF LEFT JOIN anchors a
         |   ON s.symbol = a.symbol AND s.date <= a.adate
         | ORDER BY s.symbol, s.date""".stripMargin),

    // the hot-key salted as-of (year-bucket partitions + replicated
    // boundary anchors) against the SAME DuckDB ASOF oracle — the hash
    // match proves the salted plan result-identical to the plain one
    QuerySpec("asof_salted_ratio", (s, d) => {
      val stocks = Tables.stocks(s, d)
      val anchors = stocks.filter(dayofmonth(col("date")) === 1)
        .select(col("symbol"), col("date"), col("close").as("anchor_close"))
      AsOf.joinAsOfSalted(stocks, anchors, Seq("symbol"), "date", Seq("anchor_close"))
        .withColumn("ratio", round(col("close") / col("anchor_close"), 4))
        .select("symbol", "date", "close", "anchor_close", "ratio")
        .orderBy("symbol", "date")
    },
      s"""${Tables.stocksCte},
         | anchors AS (SELECT symbol, date AS adate, close AS anchor_close
         |             FROM stocks WHERE day(date) = 1)
         | SELECT s.symbol, s.date, s.close, a.anchor_close,
         |   round(s.close / a.anchor_close, 4) AS ratio
         | FROM stocks s ASOF LEFT JOIN anchors a
         |   ON s.symbol = a.symbol AND s.date >= a.adate
         | ORDER BY s.symbol, s.date""".stripMargin),

    // ---- extended indicators (IndicatorsExt): the next tier of
    // technical analysis a reference user asks for — all per-symbol
    // windows over the one existing symbol shuffle, plus two exact-sum
    // cross-sectional stats (pair correlation, market beta)
    QuerySpec("atr", (s, d) =>
      IndicatorsExt.withAtr(Tables.stocks(s, d), 14)
        .select(col("symbol"), col("date"),
          round(col("tr"), 6).as("tr"), round(col("atr"), 6).as("atr_14"))
        .orderBy("symbol", "date"),
      // extended indicators — window mirrors; the corr/beta oracles
      // repeat the Spark expression tree verbatim over the same exact
      // DECIMAL sums, so the final doubles are bit-identical
      s"""${Tables.stocksCte},
         | t AS (
         |   SELECT symbol, date,
         |     CASE WHEN lag(close, 1) OVER w IS NULL THEN high - low
         |          ELSE greatest(high - low,
         |                        abs(high - lag(close, 1) OVER w),
         |                        abs(low - lag(close, 1) OVER w)) END AS tr
         |   FROM stocks WINDOW w AS (PARTITION BY symbol ORDER BY date))
         | SELECT symbol, date, round(tr, 6) AS tr,
         |   CASE WHEN count(*) OVER f = 14 THEN round(avg(tr) OVER f, 6) END AS atr_14
         | FROM t
         | WINDOW f AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         | ORDER BY symbol, date""".stripMargin),
    // Keltner channels: exact-EWM midline, ATR(10) bands
    QuerySpec("keltner_channels", (s, d) =>
      IndicatorsExt.withKeltner(Tables.stocks(s, d), 20, 10),
      // the EWM midline replays the EwmMean recursion bit-for-bit
      // (num' = typ + d·num, den' = 1 + d·den — the ema_macd precedent);
      // constants go through CAST(n AS DOUBLE) so DuckDB can't route them
      // through DECIMAL arithmetic
      {
        val d20 = "(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) / CAST(21 AS DOUBLE))"
        s"""${Tables.stocksCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
           | ord AS (SELECT symbol, date, high, low, close,
           |     (high + low + close) / CAST(3 AS DOUBLE) AS typ,
           |     row_number() OVER (PARTITION BY symbol ORDER BY date) AS rn
           |   FROM stocks),
           | rec AS (
           |   SELECT symbol, date, rn, typ AS num, CAST(1 AS DOUBLE) AS den
           |   FROM ord WHERE rn = 1
           |   UNION ALL
           |   SELECT o.symbol, o.date, o.rn,
           |     o.typ + $d20 * r.num AS num,
           |     CAST(1 AS DOUBLE) + $d20 * r.den AS den
           |   FROM rec r JOIN ord o ON o.symbol = r.symbol AND o.rn = r.rn + 1),
           | t AS (
           |   SELECT symbol, date,
           |     CASE WHEN lag(close, 1) OVER wd IS NULL THEN high - low
           |          ELSE greatest(high - low,
           |                        abs(high - lag(close, 1) OVER wd),
           |                        abs(low - lag(close, 1) OVER wd)) END AS tr
           |   FROM stocks WINDOW wd AS (PARTITION BY symbol ORDER BY date)),
           | a AS (
           |   SELECT symbol, date,
           |     CASE WHEN count(*) OVER f = 10 THEN avg(tr) OVER f END AS atr
           |   FROM t
           |   WINDOW f AS (PARTITION BY symbol ORDER BY date
           |                ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
           | SELECT rec.symbol, rec.date,
           |   round(rec.num / rec.den, 4) AS kc_mid,
           |   round(rec.num / rec.den + CAST(2 AS DOUBLE) * a.atr, 4) AS kc_upper,
           |   round(rec.num / rec.den - CAST(2 AS DOUBLE) * a.atr, 4) AS kc_lower
           | FROM rec JOIN a ON a.symbol = rec.symbol AND a.date = rec.date
           | ORDER BY rec.symbol, rec.date""".stripMargin
      }),
    // open-vs-prev-close gap screen beyond ±2%
    QuerySpec("overnight_gaps", (s, d) => IndicatorsExt.overnightGaps(Tables.stocks(s, d)),
      s"""${Tables.stocksCte},
         | g AS (SELECT symbol, date, open,
         |     lag(close, 1) OVER (PARTITION BY symbol ORDER BY date) AS prev_close
         |   FROM stocks),
         | g2 AS (SELECT symbol, date, prev_close, open,
         |     round((open / prev_close - 1.0) * 100.0, 4) AS gap_pct
         |   FROM g WHERE prev_close IS NOT NULL),
         | g3 AS (SELECT *, CASE WHEN gap_pct > 2.0 THEN 'gap_up'
         |                       WHEN gap_pct < -2.0 THEN 'gap_down'
         |                       ELSE 'none' END AS gap_dir FROM g2)
         | SELECT symbol, date, prev_close, open, gap_pct, gap_dir
         | FROM g3 WHERE gap_dir <> 'none' ORDER BY symbol, date""".stripMargin),
    // Holt linear-trend one-step forecast (second custom EWM aggregate)
    QuerySpec("holt_forecast", (s, d) =>
      IndicatorsExt.holtForecast(Tables.stocks(s, d), 0.2, 0.1),
      // replays HoltLinear's update tree bit-for-bit: constants through
      // CAST divisions so DuckDB computes the same doubles as the Scala
      // literals (2/10 = 0.2's nearest double, etc.)
      {
        val a = "(CAST(2 AS DOUBLE) / CAST(10 AS DOUBLE))"
        val ia = s"(CAST(1 AS DOUBLE) - $a)"
        val b = "(CAST(1 AS DOUBLE) / CAST(10 AS DOUBLE))"
        val ib = s"(CAST(1 AS DOUBLE) - $b)"
        val newL = s"$a * o.close + $ia * (r.level + r.trend)"
        s"""${Tables.stocksCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
           | ord AS (SELECT symbol, date, close,
           |     row_number() OVER (PARTITION BY symbol ORDER BY date) AS rn
           |   FROM stocks),
           | rec AS (
           |   SELECT symbol, date, rn, close,
           |     close AS level, CAST(0 AS DOUBLE) AS trend
           |   FROM ord WHERE rn = 1
           |   UNION ALL
           |   SELECT o.symbol, o.date, o.rn, o.close,
           |     $newL AS level,
           |     $b * (($newL) - r.level) + $ib * r.trend AS trend
           |   FROM rec r JOIN ord o ON o.symbol = r.symbol AND o.rn = r.rn + 1)
           | SELECT symbol, date, close, round(level + trend, 6) AS forecast_next
           | FROM rec ORDER BY symbol, date""".stripMargin
      }),
    QuerySpec("stochastic_osc", (s, d) =>
      IndicatorsExt.withStochastic(Tables.stocks(s, d), 14, 3)
        .select("symbol", "date", "stoch_k", "stoch_d")
        .orderBy("symbol", "date"),
      s"""${Tables.stocksCte},
         | k AS (
         |   SELECT symbol, date,
         |     CASE WHEN count(*) OVER f = 14 AND max(high) OVER f <> min(low) OVER f
         |          THEN round((close - min(low) OVER f) / (max(high) OVER f - min(low) OVER f) * 100.0, 4)
         |     END AS stoch_k
         |   FROM stocks
         |   WINDOW f AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         | SELECT symbol, date, stoch_k,
         |   CASE WHEN count(stoch_k) OVER g = 3 THEN round(avg(stoch_k) OVER g, 4) END AS stoch_d
         | FROM k
         | WINDOW g AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         | ORDER BY symbol, date""".stripMargin),
    QuerySpec("obv", (s, d) =>
      IndicatorsExt.withObv(Tables.stocks(s, d))
        .select("symbol", "date", "volume", "obv")
        .orderBy("symbol", "date"),
      s"""${Tables.stocksCte},
         | t AS (
         |   SELECT symbol, date, volume,
         |     CASE WHEN close - lag(close, 1) OVER w > 0 THEN volume
         |          WHEN close - lag(close, 1) OVER w < 0 THEN -volume
         |          ELSE 0 END AS step
         |   FROM stocks WINDOW w AS (PARTITION BY symbol ORDER BY date))
         | SELECT symbol, date, volume,
         |   CAST(sum(step) OVER (PARTITION BY symbol ORDER BY date ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
         | FROM t ORDER BY symbol, date""".stripMargin),
    QuerySpec("vwap_20", (s, d) =>
      IndicatorsExt.withVwap(Tables.stocks(s, d), 20)
        .select("symbol", "date", "close", "vwap")
        .orderBy("symbol", "date"),
      s"""${Tables.stocksCte}
         | SELECT symbol, date, close,
         |   round(CAST(sum(CAST(close AS DECIMAL(18,2)) * CAST(volume AS DECIMAL(18,0))) OVER f AS DOUBLE)
         |       / CAST(sum(CAST(volume AS DECIMAL(18,0))) OVER f AS DOUBLE), 6) AS vwap
         | FROM stocks
         | WINDOW f AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         | ORDER BY symbol, date""".stripMargin),
    QuerySpec("drawdown", (s, d) =>
      IndicatorsExt.withDrawdown(Tables.stocks(s, d))
        .select("symbol", "date", "close", "peak", "drawdown_pct")
        .orderBy("symbol", "date"),
      s"""${Tables.stocksCte}
         | SELECT symbol, date, close,
         |   max(close) OVER cum AS peak,
         |   round((close / max(close) OVER cum - 1.0) * 100.0, 6) AS drawdown_pct
         | FROM stocks
         | WINDOW cum AS (PARTITION BY symbol ORDER BY date ROWS UNBOUNDED PRECEDING)
         | ORDER BY symbol, date""".stripMargin),
    QuerySpec("max_drawdown", (s, d) =>
      IndicatorsExt.maxDrawdown(Tables.stocks(s, d)).orderBy("symbol"),
      s"""${Tables.stocksCte},
         | dd AS (
         |   SELECT symbol,
         |     round((close / max(close) OVER cum - 1.0) * 100.0, 6) AS d
         |   FROM stocks
         |   WINDOW cum AS (PARTITION BY symbol ORDER BY date ROWS UNBOUNDED PRECEDING))
         | SELECT symbol, min(d) AS max_drawdown_pct,
         |   CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS days_underwater,
         |   count(*) AS trading_days
         | FROM dd GROUP BY symbol ORDER BY symbol""".stripMargin),
    QuerySpec("ma_crossover", (s, d) =>
      IndicatorsExt.crossovers(Tables.stocks(s, d), 20, 50)
        .orderBy("symbol", "date"),
      s"""${Tables.stocksCte},
         | m AS (
         |   SELECT symbol, date,
         |     CASE WHEN count(*) OVER f = 20 THEN round(avg(close) OVER f, 6) END AS ma_fast,
         |     CASE WHEN count(*) OVER g = 50 THEN round(avg(close) OVER g, 6) END AS ma_slow
         |   FROM stocks
         |   WINDOW f AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         |          g AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)),
         | st AS (
         |   SELECT symbol, date, ma_fast, ma_slow,
         |     CASE WHEN ma_fast IS NOT NULL AND ma_slow IS NOT NULL THEN ma_fast > ma_slow END AS above,
         |     lag(CASE WHEN ma_fast IS NOT NULL AND ma_slow IS NOT NULL THEN ma_fast > ma_slow END, 1)
         |       OVER (PARTITION BY symbol ORDER BY date) AS prev_above
         |   FROM m)
         | SELECT symbol, date, ma_fast, ma_slow,
         |   CASE WHEN above THEN 'golden_cross' ELSE 'death_cross' END AS signal
         | FROM st
         | WHERE above IS NOT NULL AND prev_above IS NOT NULL AND above <> prev_above
         | ORDER BY symbol, date""".stripMargin),
    QuerySpec("pair_corr", (s, d) =>
      IndicatorsExt.pairReturnCorr(Tables.stocks(s, d), "AF", "NO", 20)
        .orderBy("date"),
      s"""${Tables.stocksCte},
         | r AS (
         |   SELECT symbol, date,
         |     CAST(round((close / lag(close, 1) OVER (PARTITION BY symbol ORDER BY date) - 1.0) * 100.0, 8)
         |          AS DECIMAL(12,8)) AS r
         |   FROM stocks),
         | j AS (
         |   SELECT a.date, a.r AS x, b.r AS y
         |   FROM (SELECT date, r FROM r WHERE symbol = 'AF' AND r IS NOT NULL) a
         |   JOIN (SELECT date, r FROM r WHERE symbol = 'NO' AND r IS NOT NULL) b USING (date)),
         | s AS (
         |   SELECT date, CAST(x AS DOUBLE) AS ret_a, CAST(y AS DOUBLE) AS ret_b,
         |     count(*) OVER f AS cnt, CAST(count(*) OVER f AS DOUBLE) AS n,
         |     CAST(sum(x) OVER f AS DOUBLE) AS sx, CAST(sum(y) OVER f AS DOUBLE) AS sy,
         |     CAST(sum(CAST(x AS DECIMAL(24,8)) * y) OVER f AS DOUBLE) AS sxy,
         |     CAST(sum(CAST(x AS DECIMAL(24,8)) * x) OVER f AS DOUBLE) AS sxx,
         |     CAST(sum(CAST(y AS DECIMAL(24,8)) * y) OVER f AS DOUBLE) AS syy
         |   FROM j WINDOW f AS (ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         | SELECT date, ret_a, ret_b,
         |   CASE WHEN cnt = 20 AND sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) > 0
         |        THEN round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
         |   END AS corr_ret
         | FROM s ORDER BY date""".stripMargin),
    QuerySpec("beta_market", (s, d) =>
      IndicatorsExt.betaVsMarket(Tables.stocks(s, d)).orderBy("symbol"),
      s"""${Tables.stocksCte},
         | r AS (
         |   SELECT symbol, date,
         |     CAST(round((close / lag(close, 1) OVER (PARTITION BY symbol ORDER BY date) - 1.0) * 100.0, 8)
         |          AS DECIMAL(12,8)) AS r
         |   FROM stocks),
         | rr AS (SELECT * FROM r WHERE r IS NOT NULL),
         | mkt AS (
         |   SELECT date, CAST(round(CAST(sum(r) AS DOUBLE) / count(*), 8) AS DECIMAL(12,8)) AS m
         |   FROM rr GROUP BY date),
         | j AS (SELECT rr.symbol, rr.r, mkt.m FROM rr JOIN mkt USING (date)),
         | a AS (
         |   SELECT symbol, CAST(count(*) AS DOUBLE) AS n,
         |     CAST(sum(m) AS DOUBLE) AS sx, CAST(sum(r) AS DOUBLE) AS sy,
         |     CAST(sum(CAST(m AS DECIMAL(24,8)) * r) AS DOUBLE) AS sxy,
         |     CAST(sum(CAST(m AS DECIMAL(24,8)) * m) AS DOUBLE) AS sxx
         |   FROM j GROUP BY symbol)
         | SELECT symbol, CAST(n AS BIGINT) AS n_days,
         |   round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
         |   round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS alpha
         | FROM a ORDER BY symbol""".stripMargin),
    // trailing-60d rolling beta vs the equal-weight market
    QuerySpec("rolling_beta", (s, d) =>
      IndicatorsExt.rollingBeta(Tables.stocks(s, d), 60),
      // rolling beta: same market/carrier recipe as beta_market; the
      // widened DECIMAL(24,8) cast keeps the window products on DuckDB's
      // int128 path
      s"""${Tables.stocksCte},
         | r AS (
         |   SELECT symbol, date,
         |     CAST(round((close / lag(close, 1) OVER (PARTITION BY symbol ORDER BY date) - 1.0) * 100.0, 8)
         |          AS DECIMAL(12,8)) AS r
         |   FROM stocks),
         | rr AS (SELECT * FROM r WHERE r IS NOT NULL),
         | mkt AS (
         |   SELECT date, CAST(round(CAST(sum(r) AS DOUBLE) / count(*), 8) AS DECIMAL(12,8)) AS m
         |   FROM rr GROUP BY date),
         | j AS (SELECT rr.symbol, rr.date, rr.r, mkt.m FROM rr JOIN mkt USING (date)),
         | a AS (
         |   SELECT symbol, date, count(*) OVER f AS cnt,
         |     CAST(sum(m) OVER f AS DOUBLE) AS sx, CAST(sum(r) OVER f AS DOUBLE) AS sy,
         |     CAST(sum(CAST(m AS DECIMAL(24,8)) * r) OVER f AS DOUBLE) AS sxy,
         |     CAST(sum(CAST(m AS DECIMAL(24,8)) * m) OVER f AS DOUBLE) AS sxx
         |   FROM j
         |   WINDOW f AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 59 PRECEDING AND CURRENT ROW))
         | SELECT symbol, date,
         |   round(CASE WHEN cnt = 60 AND (CAST(cnt AS DOUBLE) * sxx - sx * sx) > 0
         |     THEN (CAST(cnt AS DOUBLE) * sxy - sx * sy) / (CAST(cnt AS DOUBLE) * sxx - sx * sx)
         |   END, 6) AS beta
         | FROM a ORDER BY symbol, date""".stripMargin),
    // Donchian channels + prior-band breakout flag
    QuerySpec("donchian", (s, d) =>
      IndicatorsExt.withDonchian(Tables.stocks(s, d), 20)
        .select("symbol", "date", "dc_upper", "dc_lower", "dc_mid", "breakout")
        .orderBy("symbol", "date"),
      // Donchian: max/min are selections (exact); the breakout CASE
      // compares today's close to YESTERDAY'S gated band, like the Spark
      // side
      s"""${Tables.stocksCte},
         | t AS (
         |   SELECT symbol, date, close,
         |     CASE WHEN count(*) OVER f = 20 THEN max(high) OVER f END AS dc_upper,
         |     CASE WHEN count(*) OVER f = 20 THEN min(low) OVER f END AS dc_lower
         |   FROM stocks
         |   WINDOW f AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         | SELECT symbol, date, dc_upper, dc_lower,
         |   round((dc_upper + dc_lower) / CAST(2 AS DOUBLE), 6) AS dc_mid,
         |   CASE WHEN close > lag(dc_upper, 1) OVER w THEN 'up'
         |        WHEN close < lag(dc_lower, 1) OVER w THEN 'down' END AS breakout
         | FROM t WINDOW w AS (PARTITION BY symbol ORDER BY date)
         | ORDER BY symbol, date""".stripMargin),
    // Parkinson / Garman-Klass range volatility (21d, annualized)
    QuerySpec("range_vol", (s, d) =>
      IndicatorsExt.rangeVol(Tables.stocks(s, d), 21).orderBy("symbol", "date"),
      // range vol: the two 8dp DECIMAL log carriers make the window sums
      // exact; 0.6931471805599453 is the double nearest ln 2 — the same
      // bit pattern Scala's math.log(2.0) folds into the plan
      s"""${Tables.stocksCte},
         | t AS (SELECT symbol, date,
         |     CAST(round(ln(high / low), 8) AS DECIMAL(12,8)) AS u,
         |     CAST(round(ln(close / open), 8) AS DECIMAL(12,8)) AS v
         |   FROM stocks),
         | a AS (SELECT symbol, date,
         |     CASE WHEN count(*) OVER f = 21 THEN CAST(sum(u * u) OVER f AS DOUBLE) END AS su2,
         |     CASE WHEN count(*) OVER f = 21 THEN CAST(sum(v * v) OVER f AS DOUBLE) END AS sv2
         |   FROM t
         |   WINDOW f AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 20 PRECEDING AND CURRENT ROW))
         | SELECT symbol, date,
         |   round(sqrt(CAST(252 AS DOUBLE)) * sqrt(su2 /
         |     (CAST(4 AS DOUBLE) * 0.6931471805599453 * CAST(21 AS DOUBLE))), 6) AS park_vol,
         |   CASE WHEN (su2 / CAST(2 AS DOUBLE) -
         |       (CAST(2 AS DOUBLE) * 0.6931471805599453 - CAST(1 AS DOUBLE)) * sv2) / CAST(21 AS DOUBLE) >= 0
         |     THEN round(sqrt(CAST(252 AS DOUBLE)) * sqrt((su2 / CAST(2 AS DOUBLE) -
         |       (CAST(2 AS DOUBLE) * 0.6931471805599453 - CAST(1 AS DOUBLE)) * sv2) / CAST(21 AS DOUBLE)), 6)
         |   END AS gk_vol
         | FROM a ORDER BY symbol, date""".stripMargin),
    // return autocorrelation at lags 1..5 per symbol
    QuerySpec("return_acf", (s, d) => IndicatorsExt.returnAcf(Tables.stocks(s, d), 5),
      // ACF: one lag layer, one grouped block of 5×6 exact DECIMAL sums,
      // unioned per lag — the Pearson tree repeats the Spark expressions
      // verbatim on identical doubles
      {
        val lagCols = (1 to 5).map(k => s"lag(r, $k) OVER w AS r_$k").mkString(", ")
        val sums = (1 to 5).map { k =>
          s"""CAST(count(r_$k) AS DOUBLE) AS n_$k,
             | CAST(sum(CASE WHEN r_$k IS NOT NULL THEN r END) AS DOUBLE) AS sx_$k,
             | CAST(sum(r_$k) AS DOUBLE) AS sy_$k,
             | CAST(sum(r * r_$k) AS DOUBLE) AS sxy_$k,
             | CAST(sum(CASE WHEN r_$k IS NOT NULL THEN r * r END) AS DOUBLE) AS sxx_$k,
             | CAST(sum(r_$k * r_$k) AS DOUBLE) AS syy_$k""".stripMargin
        }.mkString(",\n ")
        val branches = (1 to 5).map { k =>
          s"""SELECT symbol, $k AS lag, CAST(n_$k AS BIGINT) AS n_pairs,
             | round(CASE WHEN sqrt((n_$k * sxx_$k - sx_$k * sx_$k) * (n_$k * syy_$k - sy_$k * sy_$k)) > 0
             |   THEN (n_$k * sxy_$k - sx_$k * sy_$k) /
             |     sqrt((n_$k * sxx_$k - sx_$k * sx_$k) * (n_$k * syy_$k - sy_$k * sy_$k)) END, 6) AS acf
             | FROM g""".stripMargin
        }.mkString("\n UNION ALL\n ")
        s"""${Tables.stocksCte},
           | rr AS (SELECT symbol, date,
           |     CAST(round((close / lag(close, 1) OVER (PARTITION BY symbol ORDER BY date)
           |       - CAST(1 AS DOUBLE)) * CAST(100 AS DOUBLE), 8) AS DECIMAL(20,8)) AS r
           |   FROM stocks),
           | b AS (SELECT symbol, date, r FROM rr WHERE r IS NOT NULL),
           | l AS (SELECT symbol, r, $lagCols
           |   FROM b WINDOW w AS (PARTITION BY symbol ORDER BY date)),
           | g AS (SELECT symbol, $sums FROM l GROUP BY symbol)
           | SELECT * FROM ($branches)
           | ORDER BY symbol, lag""".stripMargin
      }),
    // Amihud illiquidity per symbol-month
    QuerySpec("amihud_illiq", (s, d) => Risk.amihudIlliq(Tables.stocks(s, d)),
      // Amihud: the 10dp DECIMAL daily-ratio carrier makes the monthly
      // mean fold-order free
      s"""${Tables.stocksCte},
         | r AS (SELECT symbol, date, close, volume,
         |     (close / lag(close, 1) OVER (PARTITION BY symbol ORDER BY date)
         |       - CAST(1 AS DOUBLE)) * CAST(100 AS DOUBLE) AS ret
         |   FROM stocks),
         | d AS (SELECT symbol, strftime(date, '%Y-%m') AS month,
         |     CAST(round(CAST(1000000 AS DOUBLE) * abs(ret) / (close * CAST(volume AS DOUBLE)), 10)
         |       AS DECIMAL(28,10)) AS illiq
         |   FROM r WHERE ret IS NOT NULL AND volume > 0)
         | SELECT symbol, month, count(*) AS n_days,
         |   round(CAST(sum(illiq) AS DOUBLE) / count(*), 6) AS amihud_illiq
         | FROM d GROUP BY symbol, month ORDER BY symbol, month""".stripMargin),
    // Roll implied effective spread per symbol-month
    QuerySpec("roll_spread", (s, d) => Risk.rollSpread(Tables.stocks(s, d)),
      // Roll: Δp carries as 6dp DECIMAL so the monthly power sums are
      // exact; the covariance/spread tree repeats the Spark expressions
      // on identical doubles
      s"""${Tables.stocksCte},
         | d AS (SELECT symbol, date,
         |     CAST(round(close - lag(close, 1) OVER w, 2) AS DECIMAL(12,2)) AS dp
         |   FROM stocks WINDOW w AS (PARTITION BY symbol ORDER BY date)),
         | p AS (SELECT symbol, date, dp, lag(dp, 1) OVER w AS dp_prev
         |   FROM d WINDOW w AS (PARTITION BY symbol ORDER BY date)),
         | g AS (SELECT symbol, strftime(date, '%Y-%m') AS month,
         |     count(*) AS n_pairs,
         |     CAST(sum(dp) AS DOUBLE) AS sx, CAST(sum(dp_prev) AS DOUBLE) AS sy,
         |     CAST(sum(dp * dp_prev) AS DOUBLE) AS sxy
         |   FROM p WHERE dp IS NOT NULL AND dp_prev IS NOT NULL
         |   GROUP BY symbol, strftime(date, '%Y-%m'))
         | SELECT symbol, month, n_pairs,
         |   round(CASE WHEN (sxy - sx * sy / CAST(n_pairs AS DOUBLE)) / CAST(n_pairs AS DOUBLE) < 0
         |     THEN CAST(2 AS DOUBLE) * sqrt(-((sxy - sx * sy / CAST(n_pairs AS DOUBLE)) / CAST(n_pairs AS DOUBLE)))
         |   END, 6) AS roll_spread
         | FROM g ORDER BY symbol, month""".stripMargin),
    // candlestick pattern screen (engulfing/hammer/star/doji)
    QuerySpec("candlesticks", (s, d) =>
      IndicatorsExt.candlestickPatterns(Tables.stocks(s, d)),
      // candlesticks: pure comparisons on stored doubles; label priority
      // mirrors the Spark CASE order
      s"""${Tables.stocksCte},
         | b AS (SELECT symbol, date, open, high, low, close,
         |     abs(close - open) AS body, high - low AS rng,
         |     high - greatest(open, close) AS upper, least(open, close) - low AS lower,
         |     lag(open, 1) OVER w AS prev_open, lag(close, 1) OVER w AS prev_close
         |   FROM stocks WINDOW w AS (PARTITION BY symbol ORDER BY date)),
         | c AS (SELECT symbol, date,
         |     CASE
         |       WHEN prev_open > prev_close AND close > open
         |            AND open <= prev_close AND close >= prev_open THEN 'bullish_engulfing'
         |       WHEN prev_close > prev_open AND open > close
         |            AND open >= prev_close AND close <= prev_open THEN 'bearish_engulfing'
         |       WHEN NOT (rng > 0 AND body <= 0.1 * rng) AND body > 0
         |            AND lower >= CAST(2 AS DOUBLE) * body AND upper <= body THEN 'hammer'
         |       WHEN NOT (rng > 0 AND body <= 0.1 * rng) AND body > 0
         |            AND upper >= CAST(2 AS DOUBLE) * body AND lower <= body THEN 'shooting_star'
         |       WHEN rng > 0 AND body <= 0.1 * rng THEN 'doji'
         |     END AS pattern
         |   FROM b)
         | SELECT symbol, date, pattern FROM c WHERE pattern IS NOT NULL
         | ORDER BY symbol, date""".stripMargin),

    // streaming EMA replay on the oracle surface: three chronological
    // file drops → three micro-batches; the (num, den) keyed state
    // carries the pandas adjust=True recursion across batch boundaries,
    // so the replay reproduces the batch EWM bit-for-bit (the oracle is
    // the same truncated-convolution SQL as ema_macd_checked).
    // SIDE EFFECT: writes the replay drops under one per-JVM temp dir.
    QuerySpec("stream_ema_replay", (s, d) => {
      val stocks = Tables.stocks(s, d).select("symbol", "date", "close")
      val dir = streamReplayDir
      val cut1 = lit("1995-01-01").cast("date")
      val cut2 = lit("1997-01-01").cast("date")
      stocks.filter(col("date") < cut1).coalesce(1)
        .write.mode("overwrite").parquet(dir + "/batch=a")
      stocks.filter(col("date") >= cut1 && col("date") < cut2).coalesce(1)
        .write.mode("overwrite").parquet(dir + "/batch=b")
      stocks.filter(col("date") >= cut2).coalesce(1)
        .write.mode("overwrite").parquet(dir + "/batch=c")
      graft.streaming.IndicatorStream.stampDropOrder(dir, Seq("a", "b", "c"))
      val name = graft.streaming.IndicatorStream
        .runBounded(s, dir + "/batch=*", span = 12, "stream_ema_replay_tbl")
      s.table(name)
        .select(col("symbol"), col("date"), col("close"),
          round(col("ema"), 2).as("ema_12"))
        .orderBy("symbol", "date")
    },
      // truncated-convolution EWM mirror (same bound as ema_macd_checked):
      // num = Σ d^j·x over the last 700 rows, den closed-form
      s"""${Tables.stocksCte},
         | wl AS (
         |   SELECT symbol, date, close,
         |     list(close) OVER (PARTITION BY symbol ORDER BY date
         |       ROWS BETWEEN 699 PRECEDING AND CURRENT ROW) AS xs
         |   FROM stocks)
         | SELECT symbol, date, close,
         |   round((list_sum(list_transform(list_reverse(xs),
         |       (x, i) -> x * pow(1.0 - 2.0 / 13.0, i - 1)))
         |     / ((1.0 - pow(1.0 - 2.0 / 13.0, len(xs))) / (2.0 / 13.0))), 2) AS ema_12
         | FROM wl ORDER BY symbol, date""".stripMargin),

    // gaps-and-islands: contiguous runs of the RSI threshold state per
    // symbol — the SCD-2 validity-interval build expressed as the
    // row_number-difference island id (one window pass, no self-join)
    QuerySpec("signal_islands", (s, d) => {
      val bySym = org.apache.spark.sql.expressions.Window
        .partitionBy("symbol").orderBy("date")
      val bySymState = org.apache.spark.sql.expressions.Window
        .partitionBy("symbol", "state").orderBy("date")
      Tables.stocks(s, d)
        .withColumn("rsi", round(Indicators.rsi(14), 4))
        .withColumn("state", Indicators.rsiSignal(col("rsi")))
        .withColumn("island",
          row_number().over(bySym) - row_number().over(bySymState))
        .groupBy("symbol", "state", "island")
        .agg(min("date").as("valid_from"), max("date").as("valid_to"),
          count(lit(1)).as("n_days"))
        .select("symbol", "state", "valid_from", "valid_to", "n_days")
        .orderBy("symbol", "valid_from")
    },
      s"""${Tables.stocksCte},
         | delta AS (
         |   SELECT symbol, date,
         |     close - lag(close, 1) OVER (PARTITION BY symbol ORDER BY date) AS d
         |   FROM stocks),
         | gl AS (
         |   SELECT symbol, date,
         |     CASE WHEN d > 0 THEN d ELSE 0.0 END AS gain,
         |     CASE WHEN d < 0 THEN -d ELSE 0.0 END AS loss
         |   FROM delta),
         | ga AS (
         |   SELECT symbol, date,
         |     CASE WHEN count(*) OVER w = 14 THEN avg(gain) OVER w END AS ag,
         |     CASE WHEN count(*) OVER w = 14 THEN avg(loss) OVER w END AS al
         |   FROM gl
         |   WINDOW w AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
         | r AS (
         |   SELECT symbol, date,
         |     CASE WHEN al > 0 THEN round(100.0 - 100.0 / (1.0 + ag / al), 4)
         |          WHEN al = 0 AND ag > 0 THEN 100.0 END AS rsi
         |   FROM ga),
         | st AS (
         |   SELECT symbol, date,
         |     CASE WHEN rsi > 70 THEN 'Overbought'
         |          WHEN rsi < 30 THEN 'Oversold'
         |          ELSE 'Neutral' END AS state
         |   FROM r),
         | g AS (
         |   SELECT symbol, date, state,
         |     row_number() OVER (PARTITION BY symbol ORDER BY date)
         |       - row_number() OVER (PARTITION BY symbol, state ORDER BY date) AS island
         |   FROM st)
         | SELECT symbol, state, min(date) AS valid_from, max(date) AS valid_to,
         |   count(*) AS n_days
         | FROM g GROUP BY symbol, state, island
         | ORDER BY symbol, valid_from""".stripMargin),

    // NEAREST as-of: closer of the backward and forward month-start
    // anchors, ties to backward — both directions from one as-of pass,
    // each carrying its anchor date for the distance compare
    QuerySpec("asof_nearest_ratio", (s, d) => {
      val st = Tables.stocks(s, d)
      val anchors = st.filter(dayofmonth(col("date")) === 1)
        .select(col("symbol"), col("date"), col("close").as("close_a"),
          col("date").as("date_a"))
      val backward = col("f_close_a").isNull || (col("b_close_a").isNotNull &&
        datediff(col("date"), col("b_date_a")) <= datediff(col("f_date_a"), col("date")))
      AsOf.joinAsOfBothWays(st.select("symbol", "date", "close"), anchors,
          Seq("symbol"), "date", Seq("close_a", "date_a"))
        .withColumn("anchor_close",
          when(backward, col("b_close_a")).otherwise(col("f_close_a")))
        .withColumn("direction", when(backward, "backward").otherwise("forward"))
        .withColumn("ratio", round(col("close") / col("anchor_close"), 4))
        .select("symbol", "date", "close", "anchor_close", "direction", "ratio")
        .orderBy("symbol", "date")
    },
      s"""${Tables.stocksCte},
         | anchors AS (SELECT symbol, date AS adate, close AS anchor_close
         |             FROM stocks WHERE day(date) = 1),
         | b AS (SELECT s.symbol, s.date, s.close,
         |         a.anchor_close AS b_close, a.adate AS bdate
         |       FROM stocks s ASOF LEFT JOIN anchors a
         |         ON s.symbol = a.symbol AND s.date >= a.adate),
         | f AS (SELECT s.symbol, s.date,
         |         a.anchor_close AS f_close, a.adate AS fdate
         |       FROM stocks s ASOF LEFT JOIN anchors a
         |         ON s.symbol = a.symbol AND s.date <= a.adate)
         | SELECT b.symbol, b.date, b.close,
         |   CASE WHEN f_close IS NULL THEN b_close
         |        WHEN b_close IS NULL THEN f_close
         |        WHEN date_diff('day', bdate, b.date) <= date_diff('day', b.date, fdate) THEN b_close
         |        ELSE f_close END AS anchor_close,
         |   CASE WHEN f_close IS NULL THEN 'backward'
         |        WHEN b_close IS NULL THEN 'forward'
         |        WHEN date_diff('day', bdate, b.date) <= date_diff('day', b.date, fdate) THEN 'backward'
         |        ELSE 'forward' END AS direction,
         |   round(b.close / (CASE WHEN f_close IS NULL THEN b_close
         |        WHEN b_close IS NULL THEN f_close
         |        WHEN date_diff('day', bdate, b.date) <= date_diff('day', b.date, fdate) THEN b_close
         |        ELSE f_close END), 4) AS ratio
         | FROM b JOIN f ON b.symbol = f.symbol AND b.date = f.date
         | ORDER BY b.symbol, b.date""".stripMargin),

    // ---- skew-salted join (result ≡ plain equi-join; the salt only
    // changes task distribution, which the oracle proves)
    QuerySpec("skew_salted_join", (s, d) => {
      val st = Tables.stocks(s, d)
      val dim = st.groupBy("symbol").agg(max("volume").as("peak_volume"))
      Skew.saltedJoin(st, dim, "symbol", pmod(hash(col("date")), lit(8)), 8)
        .groupBy("symbol")
        .agg(count(lit(1)).as("n"), max("peak_volume").as("peak_volume"))
        .orderBy("symbol")
    },
      s"""${Tables.stocksCte}
         | SELECT s.symbol, count(*) AS n, max(d.peak_volume) AS peak_volume
         | FROM stocks s
         | JOIN (SELECT symbol, max(volume) AS peak_volume FROM stocks GROUP BY symbol) d
         |   ON s.symbol = d.symbol
         | GROUP BY s.symbol ORDER BY s.symbol""".stripMargin))
}
