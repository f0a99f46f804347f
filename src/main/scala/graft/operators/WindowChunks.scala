package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.functions.EwmMean.ewm

/** Time-chunked window evaluation with boundary carry-in — the scale
  * path past the "window parallelism = key count" ceiling.
  *
  * A `PARTITION BY symbol ORDER BY date` window runs one task per
  * symbol: with 6 symbols, 6 tasks, forever, no matter how many
  * executors exist — and one hot key is one straggler task at 100 TB.
  * For a window whose result at row t depends on at most the `carryRows`
  * rows before t, the timeline can be cut into chunks (calendar years,
  * or year buckets) and evaluated as `PARTITION BY (key, chunk)` —
  * parallelism becomes keys × chunks — provided each chunk also sees the
  * previous chunk's last `carryRows` rows. Those carry-in rows are
  * tagged, unioned in, included in frames, and dropped from the output.
  *
  * For BOUNDED trailing frames (`ROWS n-1 PRECEDING..CURRENT ROW`, plus
  * any `lag` the inputs need) equality with the single-partition plan is
  * exact, not approximate: every output row sees the same frame rows in
  * the same (time) order, so the IEEE fold is bit-identical
  * (WindowChunksSpec proves it per indicator; the `window_chunked_*`
  * oracle rows prove it against the PLAIN window SQL). For the
  * UNBOUNDED-frame EWM family the carry is a truncated history: with
  * `carryRows` = 700 the dropped terms carry weight ≤ (1-α)^700 — below
  * 1e-23 even for span 26 — so the chunked result agrees with the exact
  * recursion far inside double-precision ulp (the same truncation bound
  * the DuckDB oracle itself uses, StockQueries.emaMacdCheckedOracle).
  *
  * Safety: the carry construction only reaches ONE chunk back, so the
  * plan silently under-fills frames if a middle chunk holds fewer than
  * `carryRows` rows (a mid-year listing gap, a trading halt) or a key
  * skips a chunk entirely. [[chunkedEval]] therefore validates chunk
  * populations up front (one column-pruned aggregate over (key, chunk) —
  * negligible next to the window pass) and falls back to the plain
  * single-partition plan when the precondition fails: correct results at
  * key parallelism beat silently wrong numbers from the scale path.
  * A key's FIRST chunk may be short (the carry takes all of it — exact)
  * and its LAST chunk may be short (nothing consumes its carry).
  */
object WindowChunks {

  /** Evaluate window columns over `PARTITION BY (key, chunkExpr) ORDER BY
    * time` with the previous chunk's last `carryRows` rows carried in.
    *
    * @param chunkExpr integer-valued chunk id, consecutive along time
    *                  within each key (e.g. `year(col(time))`)
    * @param carryRows max lookback any built column needs: frame size - 1
    *                  plus the depth of any `lag` feeding the frame
    * @param build     window columns over the supplied (key, chunk) spec;
    *                  later columns may reference earlier ones by name
    * @param guard     validate the chunk-population precondition first;
    *                  on violation, evaluate `build` over the plain
    *                  per-key spec instead (correct, key-parallel)
    * @param guardOn   run the population check against this frame
    *                  instead of `df` — pass the RAW input when `df` is
    *                  itself an expensive derived plan with the same
    *                  (key, time) row multiset, so the eager guard
    *                  aggregate stays a cheap two-column scan
    */
  def chunkedEval(df: DataFrame, key: String, time: String, chunkExpr: Column,
      carryRows: Int, guard: Boolean = true,
      guardOn: Option[DataFrame] = None)
      (build: WindowSpec => Seq[(String, Column)]): DataFrame = {
    if (guard && !chunksSafe(guardOn.getOrElse(df), key, chunkExpr, carryRows)) {
      System.err.println(
        s"[WindowChunks] chunk population below carryRows=$carryRows (or a " +
          "chunk gap) detected; falling back to the plain per-key window plan")
      val plain = Window.partitionBy(col(key)).orderBy(col(time))
      return build(plain).foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
    }
    // every row feeds its own chunk, and the tail carryRows rows of each
    // (key, chunk) also feed the next chunk as carry-in rows. The tail
    // rank is itself a per-(key, chunk) window, so the whole plan needs
    // no partitioning coarser than (key, chunk). One generator over one
    // scan of `df`, not a union of two: a union drops its children's
    // range partitioning, so an input already clustered by key (the
    // stocks cache) would be shuffled again; Spark keeps such an input's
    // partitioning, since it satisfies the (key, chunk) windows.
    val tailRank = Window.partitionBy(col(key), chunkExpr).orderBy(col(time).desc)
    val fed = df
      .withColumn("__rn", row_number().over(tailRank))
      .withColumn("__carry", explode(
        when(col("__rn") <= carryRows, array(lit(false), lit(true)))
          .otherwise(array(lit(false)))))
      .withColumn("__chunk", chunkExpr + when(col("__carry"), 1).otherwise(0))
      .drop("__rn")
    val w = Window.partitionBy(col(key), col("__chunk")).orderBy(col(time))
    build(w).foldLeft(fed) {
      case (d, (n, c)) => d.withColumn(n, c)
    }.filter(!col("__carry")).drop("__chunk", "__carry")
  }

  /** The carry-in precondition: within each key the populated chunk ids
    * are consecutive, and every chunk with BOTH a predecessor and a
    * successor holds ≥ carryRows rows. (A short first chunk is exact —
    * the carry takes all of it; a short last chunk feeds nothing.)
    */
  private def chunksSafe(df: DataFrame, key: String, chunkExpr: Column,
      carryRows: Int): Boolean = {
    val counts = df.groupBy(col(key), chunkExpr.as("__chunk"))
      .agg(count(lit(1)).as("__cnt"))
    val wk = Window.partitionBy(col(key)).orderBy(col("__chunk"))
    counts
      .withColumn("__next", lead(col("__chunk"), 1).over(wk))
      .withColumn("__prev", lag(col("__chunk"), 1).over(wk))
      .filter(
        (col("__next").isNotNull && col("__next") =!= col("__chunk") + 1) ||
          (col("__cnt") < carryRows &&
            col("__prev").isNotNull && col("__next").isNotNull))
      .isEmpty
  }

  /** SMA (min_periods=1) and gated MA over (key, time) with
    * year-chunked parallelism — chunked twins of [[Indicators.sma]] and
    * [[Indicators.maGated]], output columns `sma` / `ma_gated`.
    */
  def chunkedSmaGated(df: DataFrame, key: String, time: String,
      in: String, smaN: Int, gatedN: Int): DataFrame =
    chunkedEval(df, key, time, year(col(time)), math.max(smaN, gatedN) - 1) { w =>
      Seq(
        "sma" -> avg(col(in)).over(w.rowsBetween(-(smaN - 1), 0)),
        "ma_gated" -> Indicators.gatedOver(w, gatedN, col(in), avg))
    }

  /** RSI(n) with year-chunked parallelism — chunked twin of
    * [[Indicators.rsi]], output column `rsi`. Carry = n rows: the frame
    * needs n-1 preceding rows and the oldest in-frame delta needs one
    * more for its lag.
    */
  def chunkedRsi(df: DataFrame, key: String, time: String,
      in: String, n: Int = 14): DataFrame =
    chunkedEval(df, key, time, year(col(time)), n) { w =>
      Seq("rsi" -> Indicators.rsiOver(w, col(in), n))
    }

  /** Bollinger(bollN) + volatility(volN)-of-returns with year-chunked
    * parallelism — chunked twins of [[Indicators.bollinger]] and
    * [[Indicators.volatility]]. Carry = max(bollN-1, volN): volatility's
    * frame holds volN-1 returns, each needing its lag row.
    */
  def chunkedBollVol(df: DataFrame, key: String, time: String,
      in: String, bollN: Int = 20, volN: Int = 30): DataFrame =
    chunkedEval(df, key, time, year(col(time)),
      math.max(bollN - 1, volN)) { w =>
      val mid = Indicators.gatedOver(w, bollN, col(in), avg)
      val sd = Indicators.gatedOver(w, bollN, col(in), stddev_samp)
      val dr = Indicators.dailyReturnOver(w, col(in))
      Seq(
        "bb_middle" -> mid,
        "bb_upper" -> (mid + lit(2.0) * sd),
        "bb_lower" -> (mid - lit(2.0) * sd),
        "volatility_30d" -> Indicators.gatedOver(w, volN, dr, stddev_samp))
    }

  /** The FULL E2 indicator battery (chunked twin of
    * [[Indicators.withAllIndicators]]) past the key-count ceiling:
    * pass 1 evaluates every bounded-frame indicator per (key, year)
    * with a 50-row carry (max frame = SMA-50), pass 2 the EWM family
    * per (key, 3-year bucket) with the 700-row truncated-history carry.
    * Output columns match `withAllIndicators`; bounded columns are
    * bit-exact, the EWM columns agree below double ulp
    * (WindowChunksSpec).
    */
  def chunkedAllIndicators(df: DataFrame, key: String = "symbol",
      time: String = "date"): DataFrame = {
    val pass1 = chunkedEval(df, key, time, year(col(time)), carryRows = 50) { w =>
      def sma(n: Int) = avg(col("close")).over(w.rowsBetween(-(n - 1), 0))
      val mid = Indicators.gatedOver(w, 20, col("close"), avg)
      val sd = Indicators.gatedOver(w, 20, col("close"), stddev_samp)
      val dr = Indicators.dailyReturnOver(w, col("close"))
      Seq(
        "sma_5" -> sma(5),
        "sma_20" -> sma(20),
        "sma_50" -> sma(50),
        "volume_ma_20" -> avg(col("volume")).over(w.rowsBetween(-19, 0)),
        "bb_middle" -> mid,
        "bb_upper" -> (mid + lit(2.0) * sd),
        "bb_lower" -> (mid - lit(2.0) * sd),
        "rsi" -> Indicators.rsiOver(w, col("close"), 14),
        "daily_return" -> dr,
        "volatility_30d" -> Indicators.gatedOver(w, 30, dr, stddev_samp))
    }
    // the EMA pass guards on the RAW input (same (key, time) rows as
    // pass1) so the eager population check never executes the pass-1
    // window plan just to count rows
    chunkedEmaMacd(pass1, key, time, "close", guardOn = Some(df))
  }

  /** The EWM family (EMA 12/26, MACD, signal, histogram — chunked twin
    * of [[Indicators.withEmaMacd]]) at (key, year-bucket) parallelism
    * via truncated-history carry: `carryRows` = 700 previous rows seed
    * each bucket, so the dropped history weighs ≤ (1-α)^700 < 1e-23
    * (span 26) — far below double ulp of the result. Buckets are
    * `bucketYears` calendar years (default 3 ≈ 750 trading rows ≥
    * carryRows, satisfying the guard).
    *
    * The signal line is an EWM *of the MACD* computed in the same
    * chunked partition: carry rows near the partition start have badly
    * truncated MACD values, but their weight in any OWN row's signal is
    * ≤ (1-α₂₆)^depth · (1-α₉)^(distance) which is maximized at depth ≥
    * carryRows — again below ulp.
    */
  def chunkedEmaMacd(df: DataFrame, key: String, time: String, in: String,
      bucketYears: Int = 3, carryRows: Int = 700,
      guardOn: Option[DataFrame] = None): DataFrame =
    chunkedEval(df, key, time,
      floor(year(col(time)) / lit(bucketYears)).cast("int"), carryRows,
      guardOn = guardOn) { w =>
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Seq(
        "ema_12" -> ewm(col(in), 12).over(run),
        "ema_26" -> ewm(col(in), 26).over(run),
        "macd" -> (col("ema_12") - col("ema_26")),
        "macd_signal" -> ewm(col("macd"), 9).over(run),
        "macd_histogram" -> (col("macd") - col("macd_signal")))
    }
}
