package graft

import org.apache.spark.sql.functions._
import graft.operators.{Indicators, WindowChunks}

/** Chunked window evaluation ≡ single-partition window evaluation —
  * bit-exact, including the min_periods gate across year boundaries —
  * while actually running at keys × chunks parallelism.
  */
class WindowChunksSpec extends SparkSpec {

  private lazy val stocks =
    Tables.stocks(spark, "/root/testdata/sf0.001")

  test("chunkedSmaGated equals the single-partition windows bit-exactly") {
    val chunked = WindowChunks
      .chunkedSmaGated(stocks, "symbol", "date", "close", smaN = 5, gatedN = 50)
      .select("symbol", "date", "sma", "ma_gated")
    val plain = stocks
      .withColumn("sma", Indicators.sma(5))
      .withColumn("ma_gated", Indicators.maGated(50))
      .select("symbol", "date", "sma", "ma_gated")
    // bit-exact: same frame rows in the same order on both plans
    assert(chunked.exceptAll(plain).isEmpty && plain.exceptAll(chunked).isEmpty)
    assert(chunked.count() == plain.count())
  }

  test("gate opens at the same global row even when the window spans a year boundary") {
    // a 50-row gated MA needs rows from the previous year for the first
    // 49 rows of each year; nulls must appear ONLY in each symbol's
    // global first 49 rows, not at every year start
    val chunked = WindowChunks
      .chunkedSmaGated(stocks, "symbol", "date", "close", smaN = 5, gatedN = 50)
    val nullsPerSymbol = chunked.filter(col("ma_gated").isNull)
      .groupBy("symbol").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nullsPerSymbol.values.forall(_ == 49L), nullsPerSymbol.toString)
  }

  test("chunkedRsi equals the single-partition RSI bit-exactly") {
    val chunked = WindowChunks
      .chunkedRsi(stocks, "symbol", "date", "close", 14)
      .select("symbol", "date", "rsi")
    val plain = stocks
      .withColumn("rsi", Indicators.rsi(14))
      .select("symbol", "date", "rsi")
    assert(chunked.exceptAll(plain).isEmpty && plain.exceptAll(chunked).isEmpty)
    assert(chunked.count() == plain.count())
  }

  test("chunkedBollVol equals the single-partition Bollinger + volatility bit-exactly") {
    val chunked = WindowChunks
      .chunkedBollVol(stocks, "symbol", "date", "close", 20, 30)
      .select("symbol", "date", "bb_middle", "bb_upper", "bb_lower", "volatility_30d")
    val bb = Indicators.bollinger(20)
    val plain = stocks
      .withColumn("bb_middle", bb(0)._2)
      .withColumn("bb_upper", bb(1)._2)
      .withColumn("bb_lower", bb(2)._2)
      .withColumn("dr", Indicators.dailyReturn)
      .withColumn("volatility_30d", Indicators.volatility(30, col("dr")))
      .select("symbol", "date", "bb_middle", "bb_upper", "bb_lower", "volatility_30d")
    assert(chunked.exceptAll(plain).isEmpty && plain.exceptAll(chunked).isEmpty)
    assert(chunked.count() == plain.count())
  }

  test("chunkedEmaMacd (chunked path) agrees with the exact recursion far below output rounding") {
    import spark.implicits._
    // dense daily series, 1992-1999: every middle 3-year bucket holds
    // ~1095 rows ≥ the 700-row carry, so the guard keeps the chunked
    // plan (sf0.01+, the driver's correctness scale, has the same shape)
    val dense = (0 until 2900).flatMap { i =>
      val d = java.sql.Date.valueOf(java.time.LocalDate.of(1992, 1, 1).plusDays(i))
      Seq(("X", d, 100.0 + 40.0 * math.sin(i / 9.0) + (i % 7)),
        ("Y", d, 250.0 + 80.0 * math.cos(i / 13.0)))
    }.toDF("symbol", "date", "close")
    val chunked = WindowChunks
      .chunkedEmaMacd(dense, "symbol", "date", "close")
    assert(chunked.queryExecution.executedPlan.toString.contains("__chunk"),
      "expected the chunked plan, not the guard fallback")
    val got = chunked.select("symbol", "date", "ema_12", "ema_26", "macd_signal")
    val plain = Indicators.withEmaMacd(dense)
      .select(col("symbol"), col("date"), col("ema_12").as("e12"),
        col("ema_26").as("e26"), col("macd_signal").as("sig"))
    val joined = got.join(plain, Seq("symbol", "date"))
    assert(joined.count() == dense.count())
    val maxErr = joined.select(greatest(
      abs(col("ema_12") - col("e12")),
      abs(col("ema_26") - col("e26")),
      abs(col("macd_signal") - col("sig"))).as("err"))
      .agg(max(col("err"))).head().getDouble(0)
    // truncation bound (1-α)^700 ≪ ulp; anything above 1e-9 would risk
    // flipping the round(2) used by the oracle query
    assert(maxErr < 1e-9, s"maxErr=$maxErr")
  }

  test("a short middle chunk triggers the guard and falls back to the exact plain plan") {
    import spark.implicits._
    // symbol X: full 1995, a 3-row 1996 (trading halt), full 1997 —
    // carry 50 > 3 would under-fill 1997's early frames if chunked
    val dates =
      (1 to 120).map(i => java.sql.Date.valueOf(java.time.LocalDate.of(1995, 1, 1).plusDays(i * 3 - 3))) ++
        (1 to 3).map(i => java.sql.Date.valueOf(java.time.LocalDate.of(1996, 6, 1).plusDays(i))) ++
        (1 to 120).map(i => java.sql.Date.valueOf(java.time.LocalDate.of(1997, 1, 1).plusDays(i * 3 - 3)))
    val df = dates.zipWithIndex
      .map { case (d, i) => ("X", d, 100.0 + (i % 17) * 1.5) }
      .toDF("symbol", "date", "close")
    val chunked = WindowChunks
      .chunkedSmaGated(df, "symbol", "date", "close", smaN = 5, gatedN = 50)
      .select("symbol", "date", "sma", "ma_gated")
    val plain = df
      .withColumn("sma", Indicators.sma(5))
      .withColumn("ma_gated", Indicators.maGated(50))
      .select("symbol", "date", "sma", "ma_gated")
    assert(chunked.exceptAll(plain).isEmpty && plain.exceptAll(chunked).isEmpty)
  }

  test("a skipped chunk (gap year) triggers the guard and stays exact") {
    import spark.implicits._
    val dates =
      (1 to 120).map(i => java.sql.Date.valueOf(java.time.LocalDate.of(1995, 1, 1).plusDays(i * 3 - 3))) ++
        (1 to 120).map(i => java.sql.Date.valueOf(java.time.LocalDate.of(1997, 1, 1).plusDays(i * 3 - 3)))
    val df = dates.zipWithIndex
      .map { case (d, i) => ("X", d, 100.0 + (i % 13) * 2.0) }
      .toDF("symbol", "date", "close")
    val chunked = WindowChunks
      .chunkedSmaGated(df, "symbol", "date", "close", smaN = 5, gatedN = 50)
      .select("symbol", "date", "sma", "ma_gated")
    val plain = df
      .withColumn("sma", Indicators.sma(5))
      .withColumn("ma_gated", Indicators.maGated(50))
      .select("symbol", "date", "sma", "ma_gated")
    assert(chunked.exceptAll(plain).isEmpty && plain.exceptAll(chunked).isEmpty)
  }

  test("a short FIRST chunk (mid-December listing) stays on the chunked plan and stays exact") {
    import spark.implicits._
    // 10 rows of 1995 (< carry 50): the carry takes the whole chunk, so
    // chunked evaluation is exact and must NOT fall back
    val dates =
      (1 to 10).map(i => java.sql.Date.valueOf(java.time.LocalDate.of(1995, 12, 15).plusDays(i))) ++
        (1 to 200).map(i => java.sql.Date.valueOf(java.time.LocalDate.of(1996, 1, 1).plusDays(i))) ++
        (1 to 200).map(i => java.sql.Date.valueOf(java.time.LocalDate.of(1997, 1, 10).plusDays(i)))
    val df = dates.zipWithIndex
      .map { case (d, i) => ("X", d, 50.0 + (i % 23) * 0.75) }
      .toDF("symbol", "date", "close")
    val chunked = WindowChunks
      .chunkedSmaGated(df, "symbol", "date", "close", smaN = 5, gatedN = 50)
    assert(chunked.queryExecution.executedPlan.toString.contains("__chunk"),
      "expected the chunked plan, not the fallback")
    val got = chunked.select("symbol", "date", "sma", "ma_gated")
    val plain = df
      .withColumn("sma", Indicators.sma(5))
      .withColumn("ma_gated", Indicators.maGated(50))
      .select("symbol", "date", "sma", "ma_gated")
    assert(got.exceptAll(plain).isEmpty && plain.exceptAll(got).isEmpty)
  }

  test("chunkedAllIndicators ≡ withAllIndicators: bounded columns bit-exact, EWM below ulp") {
    val chunked = WindowChunks.chunkedAllIndicators(stocks)
    val plain = Indicators.withAllIndicators(stocks)
    val bounded = Seq("symbol", "date", "sma_5", "sma_20", "sma_50",
      "volume_ma_20", "bb_middle", "bb_upper", "bb_lower", "rsi",
      "daily_return", "volatility_30d")
    val cb = chunked.select(bounded.head, bounded.tail: _*)
    val pb = plain.select(bounded.head, bounded.tail: _*)
    assert(cb.exceptAll(pb).isEmpty && pb.exceptAll(cb).isEmpty)
    val ewmCols = Seq("ema_12", "ema_26", "macd", "macd_signal", "macd_histogram")
    val joined = chunked.select(col("symbol") +: col("date") +: ewmCols.map(col): _*)
      .join(plain.select(col("symbol") +: col("date") +:
        ewmCols.map(c => col(c).as(c + "_p")): _*), Seq("symbol", "date"))
    assert(joined.count() == stocks.count())
    val maxErr = joined.select(greatest(
      ewmCols.map(c => abs(col(c) - col(c + "_p"))): _*).as("err"))
      .agg(max(col("err"))).head().getDouble(0)
    assert(maxErr < 1e-9, s"maxErr=$maxErr")
  }

  test("the window stage partitions on (key, chunk), not key alone") {
    val chunked = WindowChunks
      .chunkedSmaGated(stocks, "symbol", "date", "close", smaN = 5, gatedN = 50)
    val plan = chunked.queryExecution.executedPlan.toString
    // the Window operator partitions on (symbol, __chunk): keys × years
    // groups, far above the one-task-per-symbol ceiling
    assert(plan.contains("__chunk"), plan.take(2000))
    val years = stocks.select(year(col("date"))).distinct().count()
    val groups = chunked.select(col("symbol"), year(col("date"))).distinct().count()
    assert(groups >= 6 * (years - 1), s"groups=$groups years=$years")
  }
}
