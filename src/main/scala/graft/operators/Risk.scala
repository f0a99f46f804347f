package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Risk analytics over the derived bars: historical VaR/CVaR, rolling
  * Sharpe/Sortino, and per-symbol OLS trend — the portfolio-risk
  * surface a finance-pipeline user builds right after the indicator
  * battery.
  *
  * Determinism contract (same as IndicatorsExt): daily returns are
  * rounded-8dp values carried as DECIMAL(12,8); every multi-row sum
  * runs over exact DECIMALs (order-independent); the closed-form float
  * expressions evaluate once, on exact inputs, with a fixed tree; and
  * quantiles use Spark's exact interpolating `percentile` ≡ DuckDB
  * `quantile_cont`. Everything shuffles once on symbol.
  */
object Risk {

  private val w = Window.partitionBy("symbol").orderBy("date")

  /** Rounded-8dp daily return as the exact DECIMAL carrier. */
  private def retDec = round(
    (col("close") / lag(col("close"), 1).over(w) - lit(1.0)) * lit(100.0), 8)
    .cast("decimal(12,8)")

  private def withRet(df: DataFrame): DataFrame =
    df.withColumn("ret", retDec).filter(col("ret").isNotNull)
      .select("symbol", "date", "ret")

  /** Historical 95% VaR and CVaR (expected shortfall) per symbol:
    * VaR = the 5th percentile of daily returns (exact interpolation),
    * CVaR = mean of the returns at or below it. The tail mean is an
    * exact DECIMAL sum over the filtered tail divided once — no
    * order-dependent double accumulation. The per-symbol VaR and day
    * count are whole-partition windows rather than an aggregate joined
    * back, so every step stays on the input's symbol partitioning.
    */
  def varCvar(df: DataFrame, alpha: Double = 0.05, scale: Int = 6): DataFrame = {
    val all = Window.partitionBy("symbol")
    withRet(df)
      .withColumn("var95",
        round(expr(s"percentile(CAST(ret AS DOUBLE), $alpha)").over(all), 8))
      .withColumn("n_days", count(lit(1)).over(all))
      .filter(col("ret").cast("double") <= col("var95"))
      .groupBy("symbol")
      .agg(
        first("n_days").as("n_days"),
        round(first("var95"), scale).as("var95"),
        round(sum("ret").cast("double") / count(lit(1)), scale).as("cvar95"),
        count(lit(1)).as("n_tail"))
      .select("symbol", "n_days", "var95", "cvar95", "n_tail")
      .orderBy("symbol")
  }

  /** Trailing n-day annualized Sharpe and Sortino ratios (rf = 0).
    *
    * Per row: mean = Σr/n, sample var = (Σr² − (Σr)²/n)/(n−1), downside
    * deviation = √(Σ min(r,0)²/n); sharpe = √252·mean/√var, sortino =
    * √252·mean/dd. Σr, Σr², Σmin(r,0)² run over DECIMAL (products of
    * DECIMAL(12,8) are exact), so the window is order-safe; rows before
    * a full window emit null, and dd = 0 (no down days) null-safes
    * sortino. One symbol-partitioned window pass.
    */
  def rollingSharpe(df: DataFrame, n: Int = 20, scale: Int = 4): DataFrame = {
    val ow = w.rowsBetween(-(n - 1), 0)
    val downDec = when(col("ret") < 0, col("ret")).otherwise(lit(0).cast("decimal(12,8)"))
    val base = withRet(df)
      .withColumn("cnt", count(lit(1)).over(ow))
      .withColumn("s1", sum(col("ret")).over(ow).cast("double"))
      .withColumn("s2", sum(col("ret") * col("ret")).over(ow).cast("double"))
      .withColumn("sd2", sum(downDec * downDec).over(ow).cast("double"))
    val nn = col("cnt").cast("double")
    val mean = col("s1") / nn
    val variance = (col("s2") - col("s1") * col("s1") / nn) / (nn - lit(1.0))
    val dd = sqrt(col("sd2") / nn)
    val ann = lit(math.sqrt(252.0))
    base
      .withColumn("sharpe", when(col("cnt") >= n,
        round(ann * mean / sqrt(variance), scale)))
      .withColumn("sortino", when(col("cnt") >= n,
        round(ann * mean / expr("nullif(sqrt(sd2 / CAST(cnt AS DOUBLE)), 0.0)"), scale)))
      .select("symbol", "date", "sharpe", "sortino")
      .orderBy("symbol", "date")
  }

  /** Lead-lag cross-correlation between two symbols' returns:
    * corr(x_t, y_{t+lag}) for every lag in [−maxLag, maxLag] over the
    * trading-day index — the "who moves first" diagnostic completing
    * the correlation family. One explode fans the y branch across the
    * 2·maxLag+1 offsets; each lag's five sums run over exact DECIMAL
    * and Pearson evaluates once in double. The two branches are
    * single-symbol frames, so the rn join broadcasts at any scale.
    */
  def leadLagCorr(df: DataFrame, symA: String, symB: String,
      maxLag: Int = 3, scale: Int = 6): DataFrame = {
    val idx = withRet(df).withColumn("rn", row_number().over(w))
    val a = idx.filter(col("symbol") === symA)
      .select(col("rn").as("rn_a"), col("ret").as("x"))
    val b = idx.filter(col("symbol") === symB)
      .select(col("rn"), col("ret").as("y"))
      .withColumn("lag", explode(sequence(lit(-maxLag), lit(maxLag))))
      .withColumn("rn_match", col("rn") - col("lag"))
    def s(c: org.apache.spark.sql.Column) = sum(c).cast("double")
    val agg = a.join(b, col("rn_a") === col("rn_match"))
      .groupBy("lag").agg(
        count(lit(1)).cast("double").as("n"),
        s(col("x")).as("sx"), s(col("y")).as("sy"),
        s(col("x") * col("y")).as("sxy"),
        s(col("x") * col("x")).as("sxx"), s(col("y") * col("y")).as("syy"))
    agg.select(col("lag"), col("n").cast("long").as("n_days"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy"))), scale).as("corr"))
      .orderBy("lag")
  }

  /** SMA-signal momentum backtest: yesterday's close>SMA(n) signal is
    * today's position (no lookahead — the signal lags one day);
    * strategy return = position·daily return; both the strategy and
    * buy-and-hold wealth curves compound through the exact
    * log-sum-decimal path ([[wealthIndex]]). Warmup rows (no full SMA
    * window yet) hold no position. One symbol shuffle, three window
    * passes over the same spec.
    */
  def smaBacktest(df: DataFrame, n: Int = 50, scale: Int = 4): DataFrame = {
    val cw = w.rowsBetween(Window.unboundedPreceding, 0)
    val trail = w.rowsBetween(-(n - 1), 0)
    val base = df
      .withColumn("ma",
        when(count(lit(1)).over(trail) === n, avg(col("close")).over(trail)))
      .withColumn("sig", col("close") > col("ma"))
      .withColumn("position", coalesce(lag(col("sig"), 1).over(w), lit(false)))
      .withColumn("ret", round(
        (col("close") / lag(col("close"), 1).over(w) - lit(1.0)) * lit(100.0), 8))
      .filter(col("ret").isNotNull)
    val strat = when(col("position"), col("ret")).otherwise(lit(0.0))
    base
      .withColumn("slg", round(log(lit(1.0) + strat / lit(100.0)), 10)
        .cast("decimal(18,10)"))
      .withColumn("blg", round(log(lit(1.0) + col("ret") / lit(100.0)), 10)
        .cast("decimal(18,10)"))
      .withColumn("strat_wealth",
        round(lit(100.0) * exp(sum(col("slg")).over(cw).cast("double")), scale))
      .withColumn("bh_wealth",
        round(lit(100.0) * exp(sum(col("blg")).over(cw).cast("double")), scale))
      .select("symbol", "date", "position", "ret", "strat_wealth", "bh_wealth")
      .orderBy("symbol", "date")
  }

  /** Day-of-week return seasonality per symbol: mean return, up-day
    * fraction, and sample count by weekday (0 = Sunday, matching
    * DuckDB's `dayofweek`). Means are exact DECIMAL sums divided once;
    * one hash aggregate over the existing symbol shuffle.
    */
  def dowSeasonality(df: DataFrame, scale: Int = 6): DataFrame =
    withRet(df)
      .withColumn("dow", (dayofweek(col("date")) - lit(1)).cast("long"))
      .groupBy("symbol", "dow")
      .agg(
        count(lit(1)).as("n_days"),
        round(sum("ret").cast("double") / count(lit(1)), scale).as("mean_ret"),
        round(sum(when(col("ret") > 0, 1L).otherwise(0L)) / count(lit(1)), scale)
          .as("up_frac"))
      .orderBy("symbol", "dow")

  /** Volume profile: share of each symbol's lifetime volume traded in
    * each 1000-unit price bucket — the volume-at-price distribution.
    * Counts and volume are exact longs; the share is one division
    * against a per-symbol window total.
    */
  def volumeProfile(df: DataFrame, bucketWidth: Double = 1000.0,
      scale: Int = 6): DataFrame = {
    val sw = Window.partitionBy("symbol")
    df.withColumn("bucket", floor(col("close") / lit(bucketWidth)).cast("long"))
      .groupBy("symbol", "bucket")
      .agg(count(lit(1)).as("n_days"), sum("volume").as("volume"))
      .withColumn("vol_share",
        round(col("volume") / sum("volume").over(sw), scale))
      .select("symbol", "bucket", "n_days", "volume", "vol_share")
      .orderBy("symbol", "bucket")
  }

  /** Full-period correlation matrix across every symbol pair (upper
    * triangle, symbol_a < symbol_b): the pairwise extension of
    * IndicatorsExt.pairReturnCorr. One date-keyed self-join emits
    * S(S−1)/2 pair rows per date, then one hash aggregate per pair runs
    * the five exact DECIMAL sums and a single double Pearson
    * evaluation.
    *
    * Scale note: the join fan-out is quadratic in SYMBOL COUNT per
    * date, not in rows — correlation matrices are inherently S² and
    * this stays cheap while S is portfolio-sized. The date join key
    * makes both sides co-partition on the same shuffle.
    */
  def corrMatrix(df: DataFrame, scale: Int = 6): DataFrame = {
    val rets = withRet(df)
    val a = rets.select(col("symbol").as("symbol_a"), col("date"), col("ret").as("x"))
    val b = rets.select(col("symbol").as("symbol_b"), col("date"), col("ret").as("y"))
    val joined = a.join(b, Seq("date")).filter(col("symbol_a") < col("symbol_b"))
    def s(c: org.apache.spark.sql.Column) = sum(c).cast("double")
    val agg = joined.groupBy("symbol_a", "symbol_b").agg(
      count(lit(1)).cast("double").as("n"),
      s(col("x")).as("sx"), s(col("y")).as("sy"),
      s(col("x") * col("y")).as("sxy"),
      s(col("x") * col("x")).as("sxx"), s(col("y") * col("y")).as("syy"))
    agg.select(
      col("symbol_a"), col("symbol_b"),
      col("n").cast("long").as("n_days"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy"))), scale).as("corr"))
      .orderBy("symbol_a", "symbol_b")
  }

  /** Cumulative wealth index per symbol: 100·Π(1+rᵢ/100) expressed as
    * an order-safe running sum — each day's log growth ln(1+r/100) is
    * rounded to 10dp and carried as DECIMAL(18,10), the cumulative
    * window sums exactly, and one exp per row maps back. The rounding
    * makes the accumulated quantity exact (so Spark and the oracle
    * agree regardless of summation order) at a per-day relative error
    * of 5e-11 — invisible at the 4dp output.
    */
  def wealthIndex(df: DataFrame, scale: Int = 4): DataFrame = {
    val cw = w.rowsBetween(Window.unboundedPreceding, 0)
    withRet(df)
      .withColumn("lg", round(log(lit(1.0) + col("ret").cast("double") / lit(100.0)), 10)
        .cast("decimal(18,10)"))
      .withColumn("wealth",
        round(lit(100.0) * exp(sum(col("lg")).over(cw).cast("double")), scale))
      .select(col("symbol"), col("date"),
        col("ret").cast("double").as("ret"), col("wealth"))
      .orderBy("symbol", "date")
  }

  /** Per-symbol OLS trend of close on the trading-day index (1-based,
    * date order): slope/intercept per day plus R². x is an exact
    * integer, y the close rounded to DECIMAL(18,6) — all five sums are
    * exact, and the normal-equation expressions evaluate once in
    * double: slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²), intercept =
    * (Σy−slope·Σx)/n, R² = (nΣxy−ΣxΣy)²/((nΣx²−(Σx)²)(nΣy²−(Σy)²)).
    */
  def trendOls(df: DataFrame, scale: Int = 6): DataFrame = {
    val base = df
      .withColumn("x", row_number().over(w).cast("long"))
      .withColumn("y", round(col("close"), 6).cast("decimal(18,6)"))
    def d(c: org.apache.spark.sql.Column) = sum(c).cast("double")
    val agg = base.groupBy("symbol").agg(
      count(lit(1)).cast("double").as("n"),
      sum("x").cast("double").as("sx"),
      sum(col("x") * col("x")).cast("double").as("sxx"),
      d(col("y")).as("sy"),
      d(col("y") * col("y")).as("syy"),
      d(col("x") * col("y")).as("sxy"))
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    val slope = cov / vx
    agg.select(
      col("symbol"),
      col("n").cast("long").as("n_days"),
      round(slope, scale).as("slope"),
      round((col("sy") - slope * col("sx")) / col("n"), scale).as("intercept"),
      round(cov * cov / (vx * vy), scale).as("r2"))
      .orderBy("symbol")
  }

  /** Roll (1984) implied effective spread per (symbol, month):
    * s = 2·√(−cov(Δp_t, Δp_{t−1})) — bid-ask bounce makes consecutive
    * trade-price changes negatively autocorrelated, and the magnitude
    * of that covariance recovers the spread. Months where the serial
    * covariance is non-negative (trending price, no bounce signal)
    * yield NULL, the standard convention.
    *
    * Determinism: Δp rounds to 6dp DECIMAL(18,6); the four power sums
    * per month accumulate exact DECIMALs; the population-covariance
    * and spread formulas run once in double. Shape: one symbol window
    * for the two lag layers, one hash aggregate on (symbol, month) —
    * both partial-aggregate map-side at scale.
    */
  def rollSpread(df: DataFrame, scale: Int = 6): DataFrame = {
    // close is exact 2dp data, so Δp is exactly 2dp: the narrow carrier
    // keeps dp·dp_prev inside DuckDB's int64 decimal-multiply width
    val dp = round(col("close") - lag(col("close"), 1).over(w), 2)
      .cast("decimal(12,2)")
    val paired = df.withColumn("dp", dp)
      .withColumn("dp_prev", lag(col("dp"), 1).over(w))
      .filter(col("dp").isNotNull && col("dp_prev").isNotNull)
    def s(c: org.apache.spark.sql.Column) = sum(c).cast("double")
    val g = paired
      .groupBy(col("symbol"), date_format(col("date"), "yyyy-MM").as("month"))
      .agg(
        count(lit(1)).as("n_pairs"),
        s(col("dp")).as("sx"), s(col("dp_prev")).as("sy"),
        s(col("dp") * col("dp_prev")).as("sxy"))
    val n = col("n_pairs").cast("double")
    val cov = (col("sxy") - col("sx") * col("sy") / n) / n
    // no cov column in the output: at |cov| ~ 1e9 a fixed-dp double
    // round is ulp-unstable across engines; the spread (√-scaled back
    // to price units) is the deliverable and rounds cleanly
    g.select(
      col("symbol"), col("month"), col("n_pairs"),
      round(when(cov < 0, lit(2.0) * sqrt(-cov)), scale).as("roll_spread"))
      .orderBy("symbol", "month")
  }

  /** Amihud (2002) illiquidity per (symbol, month): the monthly mean of
    * 10⁶·|return| / dollar-volume — the standard price-impact proxy
    * (how many percent a million currency units of flow moves the
    * price). Days with zero volume are excluded (undefined impact), as
    * in the original paper.
    *
    * Determinism: the daily ratio is one double division on exact
    * inputs, rounded to 10dp and carried as DECIMAL(28,10) so the
    * monthly sum is fold-order free; the mean divides once and rounds.
    * Shape: the symbol window for returns, then one hash aggregate on
    * (symbol, month) — at 100 TB both partial-aggregate map-side.
    */
  def amihudIlliq(df: DataFrame, scale: Int = 6): DataFrame = {
    val r = (col("close") / lag(col("close"), 1).over(w) - lit(1.0)) * lit(100.0)
    val dollarVol = col("close") * col("volume").cast("double")
    // the when() guard keeps the division out of ANSI's reach on
    // zero-volume days (CASE branches evaluate lazily)
    val daily = when(col("volume") > 0,
      round(lit(1000000.0) * abs(r) / dollarVol, 10).cast("decimal(28,10)"))
    df.withColumn("illiq", daily)
      .filter(col("illiq").isNotNull)
      .groupBy(col("symbol"), date_format(col("date"), "yyyy-MM").as("month"))
      .agg(
        count(lit(1)).as("n_days"),
        round(sum(col("illiq")).cast("double") / count(lit(1)), scale)
          .as("amihud_illiq"))
      .orderBy("symbol", "month")
  }
}
