package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extended technical indicators beyond the reference's W1-W15 battery
  * (reference scope: /root/reference/analyze_visualize.py:98-141). These
  * are the indicators a user of the reference pipeline asks for next —
  * ATR, stochastic oscillator, OBV, rolling VWAP, drawdown, moving-average
  * crossovers, rolling pair correlation, and market beta — expressed as
  * the same `PARTITION BY symbol ORDER BY date` window family, so Catalyst
  * fuses each batch into the one existing symbol-shuffle + sort. At 100 TB
  * every transformer here stays a per-symbol window or a keyed aggregate:
  * no driver collection, no cross-symbol shuffle beyond the final summary
  * group-bys.
  *
  * Determinism rules (same contract as [[Indicators]] / the oracle gate):
  * min/max/lag are selections (exact); averages follow the established
  * round-after-window pattern; every SUM that feeds a formula with more
  * than one float term runs over DECIMAL (exact in any order) and is cast
  * to double only for the final fixed-shape expression tree, which both
  * Spark and DuckDB evaluate with identical IEEE operations.
  */
object IndicatorsExt {

  private val w = Window.partitionBy("symbol").orderBy("date")
  private def trailing(n: Int) = w.rowsBetween(-(n - 1), 0)
  private val cum = w.rowsBetween(Window.unboundedPreceding, 0)

  /** True range + ATR(n). TR on each symbol's first row falls back to
    * high-low (Wilder's convention: no previous close). ATR is the
    * n-row SMA of TR with the default-min_periods gate, matching the
    * W2 family's null semantics. Two window passes (TR uses lag, ATR
    * aggregates TR), both over the same spec → one shuffle.
    */
  def withAtr(df: DataFrame, n: Int = 14): DataFrame = {
    val prev = lag(col("close"), 1).over(w)
    val tr = when(prev.isNull, col("high") - col("low"))
      .otherwise(greatest(
        col("high") - col("low"),
        abs(col("high") - prev),
        abs(col("low") - prev)))
    df.withColumn("tr", tr)
      .withColumn("atr", Indicators.gatedOver(w, n, col("tr"), avg))
  }

  /** One-step-ahead Holt linear-trend forecast of the close — the
    * second custom EWM-family Catalyst aggregate
    * ([[graft.functions.HoltLinear]]): O(1) state per (symbol) over the
    * running frame, oracle = recursive CTE replaying the level/trend
    * recursion bit-for-bit.
    */
  def holtForecast(df: DataFrame, alpha: Double = 0.2, beta: Double = 0.1,
      scale: Int = 6): DataFrame = {
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("forecast_next",
        round(graft.functions.HoltLinear.holt(col("close"), alpha, beta)
          .over(running), scale))
      .select("symbol", "date", "close", "forecast_next")
      .orderBy("symbol", "date")
  }

  /** Overnight gap days: open vs previous close beyond ±threshold% —
    * the gap-up/gap-down screen. One lag window; the gap is a single
    * rounded division, and the direction classifies the ROUNDED value
    * so the threshold compare is engine-identical.
    */
  def overnightGaps(df: DataFrame, thresholdPct: Double = 2.0,
      scale: Int = 4): DataFrame =
    df.withColumn("prev_close", lag(col("close"), 1).over(w))
      .filter(col("prev_close").isNotNull)
      .withColumn("gap_pct", round(
        (col("open") / col("prev_close") - lit(1.0)) * lit(100.0), scale))
      .withColumn("gap_dir",
        when(col("gap_pct") > lit(thresholdPct), "gap_up")
          .when(col("gap_pct") < lit(-thresholdPct), "gap_down")
          .otherwise("none"))
      .filter(col("gap_dir") =!= "none")
      .select("symbol", "date", "prev_close", "open", "gap_pct", "gap_dir")
      .orderBy("symbol", "date")

  /** Keltner channels: midline = EMA(typical price, span) via the exact
    * EWM Catalyst aggregate, bands = mid ± 2·ATR(atrN). Typical price
    * is (high+low+close)/3 with a fixed tree; the midline's oracle is a
    * recursive CTE replaying the EWM recursion bit-for-bit (the
    * ema_macd precedent), and the bands inherit withAtr's full-window
    * null gate. One shuffle, two window passes over the same spec.
    */
  def withKeltner(df: DataFrame, span: Int = 20, atrN: Int = 10,
      scale: Int = 4): DataFrame = {
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = withAtr(df, atrN)
      .withColumn("typical",
        (col("high") + col("low") + col("close")) / lit(3.0))
      .withColumn("kc_mid_raw",
        graft.functions.EwmMean.ewm(col("typical"), span).over(running))
    base.select(
      col("symbol"), col("date"),
      round(col("kc_mid_raw"), scale).as("kc_mid"),
      round(col("kc_mid_raw") + lit(2.0) * col("atr"), scale).as("kc_upper"),
      round(col("kc_mid_raw") - lit(2.0) * col("atr"), scale).as("kc_lower"))
      .orderBy("symbol", "date")
  }

  /** Stochastic oscillator: %K over the n-day high/low channel, %D the
    * d-day SMA of %K. Channel min/max are selections (exact); the %K
    * division is a single fixed expression rounded before %D averages
    * it, so %D is an average of already-rounded values.
    */
  def withStochastic(df: DataFrame, n: Int = 14, d: Int = 3, scale: Int = 4): DataFrame = {
    val lo = min(col("low")).over(trailing(n))
    val hi = max(col("high")).over(trailing(n))
    val k = when(count(col("close")).over(trailing(n)) === n && hi =!= lo,
      (col("close") - lo) / (hi - lo) * lit(100.0))
    df.withColumn("stoch_k", round(k, scale))
      .withColumn("stoch_d", round(Indicators.gatedOver(w, d, col("stoch_k"), avg), scale))
  }

  /** On-balance volume: cumulative volume signed by the close-to-close
    * direction (first row contributes 0 — null delta). Volume is
    * integral, so the running sum is exact long arithmetic in any
    * evaluation order.
    */
  def withObv(df: DataFrame): DataFrame = {
    val delta = col("close") - lag(col("close"), 1).over(w)
    val signed = when(delta > 0, col("volume"))
      .when(delta < 0, -col("volume"))
      .otherwise(lit(0L))
    df.withColumn("obv_step", signed)
      .withColumn("obv", sum(col("obv_step")).over(cum))
      .drop("obv_step")
  }

  /** Rolling VWAP over n days: sum(close·volume)/sum(volume). Both sums
    * run over DECIMAL (close is a 2-decimal price, volume integral →
    * products and sums are exact in any order); the single division is
    * done in double and rounded.
    */
  def withVwap(df: DataFrame, n: Int = 20, scale: Int = 6): DataFrame = {
    val pv = col("close").cast("decimal(18,2)") * col("volume").cast("decimal(18,0)")
    val sumPv = sum(pv).over(trailing(n))
    val sumV = sum(col("volume").cast("decimal(18,0)")).over(trailing(n))
    df.withColumn("vwap",
      round(sumPv.cast("double") / sumV.cast("double"), scale))
  }

  /** Running peak close and drawdown-from-peak (%). Peak is a running
    * max (selection, exact); the drawdown is one division rounded per
    * row, so the per-symbol minimum in [[maxDrawdown]] compares already
    * rounded values.
    */
  def withDrawdown(df: DataFrame, scale: Int = 6): DataFrame = {
    val peak = max(col("close")).over(cum)
    df.withColumn("peak", peak)
      .withColumn("drawdown_pct",
        round((col("close") / peak - lit(1.0)) * lit(100.0), scale))
  }

  /** Per-symbol max-drawdown summary: worst drawdown, days underwater,
    * and trading-day count. One window pass + one group-by on the same
    * key — the aggregate is partial (map-side combine) and exact.
    */
  def maxDrawdown(df: DataFrame): DataFrame =
    withDrawdown(df)
      .groupBy("symbol")
      .agg(
        min(col("drawdown_pct")).as("max_drawdown_pct"),
        sum(when(col("drawdown_pct") < 0, 1L).otherwise(0L)).as("days_underwater"),
        count(lit(1)).as("trading_days"))

  /** Moving-average crossover events: rows where the fast gated SMA
    * crosses the slow one. Both SMAs are rounded before the boolean
    * state compare, so the flip detection never touches raw float
    * noise; `lag(state)` confines the event test to consecutive rows
    * where both MAs exist.
    */
  def crossovers(df: DataFrame, fast: Int = 50, slow: Int = 200, scale: Int = 6): DataFrame = {
    val withMa = df
      .withColumn("ma_fast", round(Indicators.gatedOver(w, fast, col("close"), avg), scale))
      .withColumn("ma_slow", round(Indicators.gatedOver(w, slow, col("close"), avg), scale))
    val state = when(col("ma_fast").isNotNull && col("ma_slow").isNotNull,
      col("ma_fast") > col("ma_slow"))
    withMa
      .withColumn("above", state)
      .withColumn("prev_above", lag(col("above"), 1).over(w))
      .filter(col("above").isNotNull && col("prev_above").isNotNull &&
        col("above") =!= col("prev_above"))
      .withColumn("signal", when(col("above"), lit("golden_cross")).otherwise(lit("death_cross")))
      .select("symbol", "date", "ma_fast", "ma_slow", "signal")
  }

  /** Daily return rounded to 8dp as DECIMAL(12,8) — the exact-arithmetic
    * carrier for the correlation/beta formulas below. Null on each
    * symbol's first row (no previous close).
    */
  private def returnDec = round(
    (col("close") / lag(col("close"), 1).over(w) - lit(1.0)) * lit(100.0), 8)
    .cast("decimal(12,8)")

  /** Rolling n-day correlation between two symbols' daily returns.
    *
    * Shape: two filtered branches of the same scan joined on date (a
    * 2-symbol frame — broadcastable; at 100 TB the per-symbol branches
    * are partition-pruned scans), then one date-ordered window. The
    * five sums (Σx, Σy, Σxy, Σx², Σy²) run over DECIMAL — products of
    * DECIMAL(12,8) are DECIMAL(25,16), exact — and only the final
    * Pearson expression is evaluated in double with a fixed tree:
    * (nΣxy−ΣxΣy)/√((nΣxx−Σx²)(nΣyy−Σy²)).
    */
  def pairReturnCorr(df: DataFrame, symA: String, symB: String, n: Int = 20,
      scale: Int = 6): DataFrame = {
    def branch(sym: String, as: String) =
      df.filter(col("symbol") === sym)
        .withColumn(as, returnDec)
        .filter(col(as).isNotNull)
        .select(col("date"), col(as))
    val joined = branch(symA, "x").join(branch(symB, "y"), Seq("date"))
    val ow = Window.orderBy("date").rowsBetween(-(n - 1), 0)
    val cnt = count(lit(1)).over(ow)
    def s(c: org.apache.spark.sql.Column) = sum(c).over(ow).cast("double")
    val (sx, sy, sxy, sxx, syy) =
      (s(col("x")), s(col("y")), s(col("x") * col("y")),
        s(col("x") * col("x")), s(col("y") * col("y")))
    val nd = cnt.cast("double")
    val den = sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))
    val corr = when(cnt === n && den > 0, (nd * sxy - sx * sy) / den)
    joined
      .withColumn("corr_ret", round(corr, scale))
      .select(col("date"), col("x").cast("double").as("ret_a"),
        col("y").cast("double").as("ret_b"), col("corr_ret"))
  }

  /** Per-symbol skewness and excess kurtosis of daily returns via
    * exact decimal power sums: returns round to 4dp DECIMAL(8,4), so
    * r², r³, r⁴ stay inside DECIMAL(38) exactly in both engines, the
    * group sums are fold-order free, and only the fixed moment formulas
    * run in double (skew = m₃/(m₂·√m₂), kurt = m₄/m₂² − 3, central
    * moments expanded in raw power sums). One hash aggregate.
    */
  def returnMoments(df: DataFrame, scale: Int = 6): DataFrame = {
    val r = round(
      (col("close") / lag(col("close"), 1).over(w) - lit(1.0)) * lit(100.0), 4)
      .cast("decimal(8,4)")
    val base = df.withColumn("r", r).filter(col("r").isNotNull)
    val r2 = col("r") * col("r")
    val agg = base.groupBy("symbol").agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("r")).cast("double").as("s1"),
      sum(r2).cast("double").as("s2"),
      sum(r2 * col("r")).cast("double").as("s3"),
      sum(r2 * r2).cast("double").as("s4"))
    val m1 = col("s1") / col("n")
    val m2 = col("s2") / col("n") - m1 * m1
    val m3 = col("s3") / col("n") - lit(3.0) * m1 * (col("s2") / col("n")) +
      lit(2.0) * (m1 * m1 * m1)
    val m4 = col("s4") / col("n") - lit(4.0) * m1 * (col("s3") / col("n")) +
      lit(6.0) * (m1 * m1) * (col("s2") / col("n")) -
      lit(3.0) * ((m1 * m1) * (m1 * m1))
    agg.select(
      col("symbol"),
      col("n").cast("long").as("n_days"),
      round(m3 / (m2 * sqrt(m2)), scale).as("skewness"),
      round(m4 / (m2 * m2) - lit(3.0), scale).as("excess_kurtosis"))
      .orderBy("symbol")
  }

  /** Robust per-symbol outlier days: modified z-score on daily returns
    * via median/MAD (Iglewicz-Hoaglin, |0.6745·(r−med)/MAD| > 3.5) —
    * the outlier detector that survives fat-tailed return distributions
    * where mean/stddev z-scores drown (the spike inflates the stddev
    * that is supposed to catch it).
    *
    * Determinism (the r5 fix): interpolated `percentile` chained twice
    * (median of deviations from a median) left a 1-ulp fp divergence vs
    * DuckDB `quantile_cont` that the 0.6745·(r−med)/mad division then
    * amplified past the 4dp rounding boundary. Both medians are now
    * RANK-EXACT over DECIMAL(12,8) returns: row_number picks the middle
    * one/two values and the "average of two" is carried DOUBLED so it
    * stays a sum of 8dp decimals — med2 = 2·median and mad4 = 4·MAD are
    * exact DECIMALs, bit-identical on any engine and in any aggregation
    * order. The sole fp operation is the final fixed-shape double
    * expression 0.6745·(2r−med2)·2/mad4, identical IEEE ops on both
    * sides. mad4 = 0 (a symbol with ≥50% identical deviations)
    * null-safes the division via nullif.
    *
    * Shape: two per-symbol rank windows, each followed by a
    * whole-partition sum that puts the median on every row; no join, so
    * the input's symbol partitioning serves every step. At
    * 100 TB the rank window materializes each group's returns (bounded:
    * days per symbol), the same trade as any exact per-group quantile.
    */
  def madOutliers(df: DataFrame, scale: Int = 4): DataFrame = {
    val wAll = Window.partitionBy("symbol")
    // rank-exact doubled median of `valCol` (DECIMAL) per symbol:
    // positions lo=floor((n+1)/2), hi=floor((n+2)/2); med2 = value sum
    // over [lo,hi], doubled when n is odd → always 2×median, exactly.
    // The odd-n doubling is folded into the per-row term (value ×
    // DECIMAL(1,0) factor) rather than multiplying the aggregate by an
    // int afterwards: sum(DECIMAL(p,8)) * int adds 11 digits of
    // precision, and once that crosses the 38-digit cap Spark's
    // ALLOW_PRECISION_LOSS silently rescales to scale 6 while DuckDB
    // keeps scale 8 — a ~5e-7 divergence that can cross the 4dp
    // rounding boundary. Per-row folding keeps the whole chain ≤38
    // digits at scale 8 on both engines, so med2/mad4 stay exact.
    // Added as a whole-partition window column (not an aggregate joined
    // back), so every step stays on the input's symbol partitioning.
    def withDoubledMedian(in: DataFrame, valCol: String, out: String): DataFrame =
      in
        .withColumn("rn", row_number().over(
          Window.partitionBy("symbol").orderBy(valCol)))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("lo", floor((col("n") + lit(1)) / lit(2.0)).cast("int"))
        .withColumn("hi", floor((col("n") + lit(2)) / lit(2.0)).cast("int"))
        .withColumn(out, sum(when(col("rn").between(col("lo"), col("hi")),
          col(valCol) * when(col("lo") === col("hi"), lit(2))
            .otherwise(lit(1)).cast("decimal(1,0)"))).over(wAll))
        .drop("rn", "n", "lo", "hi")
    // DECIMAL(18,8) carrier: 10 integer digits, so even a 1e10-percent
    // single-day return cannot overflow the cast (a (12,8) carrier
    // NULLed-and-dropped such rows on Spark under ANSI-off while DuckDB
    // errored — divergent engines on extreme-but-legal data).
    val base = df
      .withColumn("ret", round(
        (col("close") / lag(col("close"), 1).over(w) - lit(1.0)) * lit(100.0), 8)
        .cast("decimal(18,8)"))
      .filter(col("ret").isNotNull)
      .select("symbol", "date", "ret")
    // dev2 ≤ 2·|ret| + |med2| ≤ ~3e10 for a ret at the (18,8) carrier's
    // edge — the carrier must be at least as wide as what feeds it, or
    // the overflow the (18,8) ret cast was widened to avoid just moves
    // one step later (Spark ANSI-off NULLs, DuckDB errors). (20,8):
    // 12 integer digits hold 4·10^10; the second median's sum chain is
    // 20+1+1 per-row +10 for the sum = 32 digits, exact at scale 8.
    val dev = withDoubledMedian(base, "ret", "med2")
      .withColumn("dev2",
        abs(col("ret") * lit(2).cast("decimal(1,0)") - col("med2"))
          .cast("decimal(20,8)"))
    // `+ 0.0` normalizes IEEE signed zero: Spark's round goes through
    // BigDecimal (never −0.0) while DuckDB's round preserves the sign of
    // a tiny negative quotient — the r6 one-bit hash mismatch.
    val z = round(lit(0.6745) *
      (col("ret") * lit(2) - col("med2")).cast("double") * lit(2.0) /
      expr("nullif(cast(mad4 as double), 0.0)"), scale) + lit(0.0)
    withDoubledMedian(dev, "dev2", "mad4")
      .withColumn("rob_z", z)
      .withColumn("is_outlier", abs(col("rob_z")) > lit(3.5))
      .select(col("symbol"), col("date"), col("ret").cast("double").as("ret"),
        col("rob_z"), col("is_outlier"))
      .orderBy("symbol", "date")
  }

  /** Per-symbol beta/alpha against the equal-weight market return.
    *
    * market(date) = mean of all symbols' returns that date, computed as
    * an exact DECIMAL sum / count and re-rounded to the same 8dp carrier.
    * Each symbol's (return, market) pairs then aggregate to the five
    * exact sums and the closed-form OLS slope/intercept in double:
    * beta = (nΣxy−ΣxΣy)/(nΣxx−Σx²), alpha = (Σy−βΣx)/n, with x the
    * market and y the symbol. Two shuffles total (date, then symbol),
    * both partial-aggregated; nothing is ordered, which is safe because
    * every sum is decimal-exact.
    */
  def betaVsMarket(df: DataFrame, scale: Int = 6): DataFrame = {
    val rets = df.withColumn("r", returnDec).filter(col("r").isNotNull)
      .select("symbol", "date", "r")
    val market = rets.groupBy("date")
      .agg(round(sum(col("r")).cast("double") / count(lit(1)), 8)
        .cast("decimal(12,8)").as("m"))
    val joined = rets.join(market, Seq("date"))
    def s(c: org.apache.spark.sql.Column) = sum(c).cast("double")
    val agg = joined.groupBy("symbol").agg(
      count(lit(1)).cast("double").as("n"),
      s(col("m")).as("sx"), s(col("r")).as("sy"),
      s(col("m") * col("r")).as("sxy"), s(col("m") * col("m")).as("sxx"))
    agg.select(
      col("symbol"),
      col("n").cast("long").as("n_days"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")), scale).as("beta"),
      round((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("n"), scale)
        .as("alpha"))
  }

  /** Rolling n-day beta per (symbol, date) against the equal-weight
    * market — [[betaVsMarket]]'s time-varying sibling, the regime
    * diagnostic behind hedging ratios. Same market construction (exact
    * DECIMAL date-mean re-rounded to the 8dp carrier), then the four
    * trailing sums run as window aggregates over exact DECIMAL products
    * and the slope evaluates once in double. Rows before a full window
    * — and windows with zero market variance — are null.
    *
    * Shape: one date aggregate (broadcast back — dates are bounded),
    * one symbol-window pass. The market join key is the date, so at
    * scale the join is a broadcast of trading-calendar size.
    */
  def rollingBeta(df: DataFrame, n: Int = 60, scale: Int = 6): DataFrame = {
    val rets = df.withColumn("r", returnDec).filter(col("r").isNotNull)
      .select("symbol", "date", "r")
    val market = rets.groupBy("date")
      .agg(round(sum(col("r")).cast("double") / count(lit(1)), 8)
        .cast("decimal(12,8)").as("m"))
    val f = trailing(n)
    def s(c: org.apache.spark.sql.Column) = sum(c).over(f).cast("double")
    val joined = rets.join(broadcast(market), Seq("date"))
      .withColumn("cnt", count(lit(1)).over(f))
      .withColumn("sx", s(col("m"))).withColumn("sy", s(col("r")))
      .withColumn("sxy", s(col("m") * col("r")))
      .withColumn("sxx", s(col("m") * col("m")))
    val nn = col("cnt").cast("double")
    val den = nn * col("sxx") - col("sx") * col("sx")
    joined.select(
      col("symbol"), col("date"),
      round(when(col("cnt") === n && den > 0,
        (nn * col("sxy") - col("sx") * col("sy")) / den), scale).as("beta"))
      .orderBy("symbol", "date")
  }

  /** Donchian channels: upper/lower = n-day rolling max-high/min-low
    * (selections — exact bit patterns, no float accumulation), mid =
    * their average, and a breakout flag comparing today's close against
    * YESTERDAY'S channel (the trading rule: a close above the prior
    * upper band is an upside breakout; using today's band would make a
    * breakout definitionally impossible since close ≤ high ≤ upper).
    * Same full-window gate as ATR: null until n rows exist. One
    * symbol-window pass; all comparisons run on identical doubles in
    * both engines. The mid rounds at 6dp, NOT 4: band sums have exactly
    * five decimal digits (4dp prices / 2), so a 4dp round sits on the
    * half boundary where the engines' double→decimal paths disagree.
    */
  def withDonchian(df: DataFrame, n: Int = 20, scale: Int = 6): DataFrame =
    df.withColumn("dc_upper", Indicators.gatedOver(w, n, col("high"), max))
      .withColumn("dc_lower", Indicators.gatedOver(w, n, col("low"), min))
      .withColumn("dc_mid",
        round((col("dc_upper") + col("dc_lower")) / lit(2.0), scale))
      .withColumn("breakout",
        when(col("close") > lag(col("dc_upper"), 1).over(w), "up")
          .when(col("close") < lag(col("dc_lower"), 1).over(w), "down"))

  /** Range-based volatility estimators over a trailing n-day window:
    * Parkinson (high/low range) and Garman-Klass (OHLC), annualized by
    * √252. Both use intraday range instead of close-to-close moves, so
    * they converge ~5× faster than [[Indicators]] W12's stddev.
    *
    * σ²_P  = (1/(4·ln2·n)) Σ ln(h/l)²
    * σ²_GK = (1/n) Σ [ ln(h/l)²/2 − (2·ln2−1)·ln(c/o)² ]
    *
    * Determinism: the two per-day log terms round to 8dp DECIMAL(12,8)
    * carriers, their squares are DECIMAL(25,16) (exact sums in any
    * fold order), and only the fixed scalar formula runs in double.
    * Gated at a full n-row window like the W-family.
    */
  def rangeVol(df: DataFrame, n: Int = 21, scale: Int = 6): DataFrame = {
    val u = round(log(col("high") / col("low")), 8).cast("decimal(12,8)")
    val v = round(log(col("close") / col("open")), 8).cast("decimal(12,8)")
    val f = trailing(n)
    val su2 = when(count(col("u")).over(f) === n,
      sum(col("u") * col("u")).over(f).cast("double"))
    val sv2 = when(count(col("v")).over(f) === n,
      sum(col("v") * col("v")).over(f).cast("double"))
    val ann = lit(math.sqrt(252.0))
    val ln2 = lit(math.log(2.0))
    val gkInner = (su2 / lit(2.0) - (lit(2.0) * ln2 - lit(1.0)) * sv2) / lit(n.toDouble)
    df.withColumn("u", u).withColumn("v", v)
      .withColumn("park_vol",
        round(ann * sqrt(su2 / (lit(4.0) * ln2 * lit(n.toDouble))), scale))
      // GK's drift-correction term can push the estimate below zero on
      // windows dominated by open→close jumps; null there, like the gate
      .withColumn("gk_vol",
        round(when(gkInner >= 0, ann * sqrt(gkInner)), scale))
      .select("symbol", "date", "park_vol", "gk_vol")
  }

  /** Candlestick pattern screen: classify each bar by the classic
    * single/two-bar shapes, priority-ordered so a bar gets ONE label —
    * engulfing (two-bar reversal) beats hammer/shooting-star (shadow
    * shapes) beats doji (indecision). Definitions:
    *   body = |close−open|, upper/lower = shadow above/below the body;
    *   doji: body ≤ 10% of the high-low range;
    *   hammer: lower shadow ≥ 2·body and upper ≤ body (non-doji);
    *   shooting star: the mirror image;
    *   bullish engulfing: red bar then a green bar whose body covers it
    *   (bearish symmetric).
    * Every comparison runs on raw stored doubles with identical
    * expression trees in both engines — no float output at all, so the
    * hash compare is on (symbol, date, label). One symbol window pass
    * for the previous-bar columns; emits only pattern rows.
    */
  def candlestickPatterns(df: DataFrame): DataFrame = {
    val body = abs(col("close") - col("open"))
    val range = col("high") - col("low")
    val upper = col("high") - greatest(col("open"), col("close"))
    val lower = least(col("open"), col("close")) - col("low")
    val green = col("close") > col("open")
    val red = col("open") > col("close")
    val prevOpen = lag(col("open"), 1).over(w)
    val prevClose = lag(col("close"), 1).over(w)
    val bullEngulf = (prevOpen > prevClose) && green &&
      (col("open") <= prevClose) && (col("close") >= prevOpen)
    val bearEngulf = (prevClose > prevOpen) && red &&
      (col("open") >= prevClose) && (col("close") <= prevOpen)
    val doji = (range > 0) && (body <= lit(0.1) * range)
    val hammer = !doji && (body > 0) && (lower >= lit(2.0) * body) && (upper <= body)
    val star = !doji && (body > 0) && (upper >= lit(2.0) * body) && (lower <= body)
    df.withColumn("pattern",
        when(bullEngulf, "bullish_engulfing")
          .when(bearEngulf, "bearish_engulfing")
          .when(hammer, "hammer")
          .when(star, "shooting_star")
          .when(doji, "doji"))
      .filter(col("pattern").isNotNull)
      .select("symbol", "date", "pattern")
      .orderBy("symbol", "date")
  }

  /** Autocorrelation function of daily returns at lags 1..maxLag per
    * symbol — the serial-dependence diagnostic behind momentum/mean-
    * reversion screens (near-zero ACF ⇒ efficient; negative lag-1 ⇒
    * bid-ask bounce). For each lag k, Pearson corr over the aligned
    * (r_t, r_{t−k}) pairs via the five exact DECIMAL power sums (the
    * [[pairReturnCorr]] recipe), formula in double at the end.
    *
    * Shape: ONE symbol-window pass materializes all lag columns, then a
    * single hash aggregate computes every lag's sums together (5·maxLag
    * conditional sums) — not maxLag separate passes. The lag dimension
    * unpivots driver-side from the one aggregated row per symbol
    * (bounded: symbols × 1), never touching the row-level frame again.
    */
  def returnAcf(df: DataFrame, maxLag: Int = 5, scale: Int = 6): DataFrame = {
    val base = df.withColumn("r", returnDec).filter(col("r").isNotNull)
    val lagged = (1 to maxLag).foldLeft(base) { (d, k) =>
      d.withColumn(s"r_$k", lag(col("r"), k).over(w))
    }
    def s(c: org.apache.spark.sql.Column) = sum(c).cast("double")
    val aggs = (1 to maxLag).flatMap { k =>
      val y = col(s"r_$k")
      val x = when(y.isNotNull, col("r"))
      Seq(
        count(y).cast("double").as(s"n_$k"),
        s(x).as(s"sx_$k"), s(y).as(s"sy_$k"),
        s(x * y).as(s"sxy_$k"), s(x * x).as(s"sxx_$k"), s(y * y).as(s"syy_$k"))
    }
    val wide = lagged.groupBy("symbol").agg(aggs.head, aggs.tail: _*)
    val perLag = (1 to maxLag).map { k =>
      val (n, sx, sy, sxy, sxx, syy) =
        (col(s"n_$k"), col(s"sx_$k"), col(s"sy_$k"),
          col(s"sxy_$k"), col(s"sxx_$k"), col(s"syy_$k"))
      val den = sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
      wide.select(
        col("symbol"), lit(k).as("lag"), n.cast("long").as("n_pairs"),
        round(when(den > 0, (n * sxy - sx * sy) / den), scale).as("acf"))
    }
    perLag.reduce(_ unionByName _).orderBy("symbol", "lag")
  }
}
