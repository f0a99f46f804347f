package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Relational demo operators over the TPC-H-style tables — the join /
  * ranking / rollup category is absent from the reference (SURVEY.md
  * §2.3 ⊘) but core to a general engine; these exercise Catalyst's
  * broadcast-join selection, partial aggregation, and window ranking.
  *
  * Scale notes: dimension tables (region, nation, supplier, and
  * customer at any realistic scale factor vs lineitem) broadcast —
  * nation/region are forced, the rest picked up by AQE size stats. The
  * only unavoidable shuffle is lineitem ⋈ orders on orderkey and the
  * final partial-aggregated groupBy. Money sums go through
  * DECIMAL(18,4) — exact, order-independent, and engine-portable —
  * then back to double for output.
  */
object Relational {

  /** Exact money sum: decimal accumulate, double out. */
  def moneySum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Revenue by region × returnflag: 4-way join, broadcast dims. */
  def revenueByRegion(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("l_returnflag"))
      .agg(
        moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_lineitems"))
      .orderBy("r_name", "l_returnflag")
  }

  /** Top-k orders per market segment by total price (window ranking —
    * deterministic tiebreak on the key).
    */
  def topOrdersPerSegment(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("c_mktsegment", "rnk", "o_orderkey", "o_totalprice", "c_name")
      .orderBy("c_mktsegment", "rnk")
  }

  /** Open-order backlog over time, the sweep-line interval aggregate:
    * each order contributes +1 at its order date and −1 at its last
    * ship date, deltas pre-aggregate per day BEFORE the running sum, so
    * the one unpartitioned cumulative window sees only distinct-day
    * rows (thousands), never the fact table — the scale-safe shape for
    * interval counting. Exact integer arithmetic throughout.
    */
  def openOrdersOverTime(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val closes = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("okey"))
      .agg(max(to_date(col("l_shipdate"))).as("close_date"))
    val opens = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("okey"), to_date(col("o_orderdate")).as("open_date"))
    val joined = opens.join(closes, "okey")
    joined.select(col("open_date").as("date"), lit(1L).as("delta"))
      .unionByName(joined.select(col("close_date").as("date"), lit(-1L).as("delta")))
      .groupBy("date").agg(sum("delta").as("net"))
      .withColumn("open_orders", sum(col("net")).over(
        Window.orderBy("date").rowsBetween(Window.unboundedPreceding, 0)))
      .orderBy("date")
  }

  /** RFM customer scoring: recency (last order date), frequency (order
    * count), monetary (exact money sum), each quintiled with a custkey
    * tie-break so bucket edges never depend on float noise (monetary is
    * an exact decimal rendered to double, identical in any engine).
    *
    * The quintiles are EXACT rank-based ntiles but never run a
    * single-partition sort: each is a [[GlobalRank.chunkedNtile]] over
    * a coarse monotone bucket (order month for recency, the count value
    * for frequency, a 1e3-wide value band for monetary — all negated
    * because the sorts are descending). Bit-identical to plain ntile
    * (the oracle keeps using DuckDB's), parallelism = bucket count
    * instead of 1 — the shape that survives a customer dimension in the
    * hundreds of millions.
    *
    * Each ntile level is localCheckpointed before feeding the next:
    * [[GlobalRank.chunkedRowNumber]] references its input three times
    * (offsets, monotonicity guard, final join), so CHAINING three of
    * them un-checkpointed re-executes the upstream plan ~3^depth times
    * — the un-checkpointed plan held 113 copies of the orders scan and
    * 400 hash aggregates (measured, round 12). The materialized frame
    * is one row per customer (the aggregate, never the fact table), so
    * the checkpoint is dimension-bounded at any corpus size.
    */
  /** The two-level (r, f) frame is a TERMINAL checkpoint — the returned
    * plan keeps reading from it — so unlike `base` and `r` it can't be
    * released at the end of the call. Bounded LRU keyed by (session,
    * dir): repeated calls reuse one customer-dimension-sized block set;
    * superseded ones release on eviction/session end instead of pinning
    * storage for the session lifetime.
    */
  private val rfCache = new graft.SessionCache[String, DataFrame](
    maxEntries = 8, release = org.apache.spark.sql.GraftShims.uncheckpoint(_))

  def customerRfm(spark: SparkSession, dir: String): DataFrame = {
    val f = rfCache.getOrBuild(spark, dir) {
      val agg = Tables.orders(spark, dir)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(
          max(to_date(col("o_orderdate"))).as("last_order"),
          count(lit(1)).as("frequency"),
          moneySum(col("o_totalprice")).as("monetary"))
      val total = agg.agg(count(lit(1)).as("__grtotal"))
      val base = agg.crossJoin(broadcast(total)).localCheckpoint()
      val r = GlobalRank.chunkedNtile(base,
        -(year(col("last_order")) * lit(12) + month(col("last_order"))).cast("long"),
        Seq(desc("last_order"), col("custkey")), "__grtotal", 5, "r_score")
        .localCheckpoint()
      // each eager checkpoint fully consumes its predecessor — release
      // the superseded block sets instead of pinning them for the
      // session. Only
      // the terminal two-level frame must survive: it goes in the cache.
      org.apache.spark.sql.GraftShims.uncheckpoint(base)
      val built = GlobalRank.chunkedNtile(r, -col("frequency"),
        Seq(desc("frequency"), col("custkey")), "__grtotal", 5, "f_score")
        .localCheckpoint()
      org.apache.spark.sql.GraftShims.uncheckpoint(r)
      built
    }
    val m = GlobalRank.chunkedNtile(f, -floor(col("monetary") / lit(1000.0)).cast("long"),
      Seq(desc("monetary"), col("custkey")), "__grtotal", 5, "m_score")
    m.drop("__grtotal")
      .withColumn("segment",
        concat(col("r_score"), col("f_score"), col("m_score")))
      .orderBy("custkey")
  }

  /** Rollup over (orderstatus, orderpriority): grouping-sets category. */
  def ordersRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("total_price"))
      .orderBy(
        asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** CUBE over the same pair, with `grouping_id` disambiguating real
    * NULL groups from aggregated ones — the remaining grouping-sets
    * shape next to [[ordersRollup]] (one Expand + one hash aggregate;
    * Spark and SQL both put the leftmost column in the high bit).
    */
  def ordersCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("total_price"))
      .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "total_price")
      .orderBy(col("gid"),
        asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** Order-to-ship latency distribution per order priority: exact
    * integer day diffs (lineitem ship date − order date over the
    * orderkey join), mean as one division over an exact long sum, and
    * p50/p90/p99 via the exact interpolating percentile ≡
    * quantile_cont. One fact-fact join on orderkey + one hash
    * aggregate; the exact percentile materializes each priority's
    * delays (bounded: rows per priority), the valuePercentiles trade.
    */
  def shipDelayStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay",
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum("delay") / count(lit(1)), 6).as("mean_days"),
        round(expr("percentile(delay, 0.5)"), 6).as("p50"),
        round(expr("percentile(delay, 0.9)"), 6).as("p90"),
        round(expr("percentile(delay, 0.99)"), 6).as("p99"))
      .orderBy("priority")

  /** Rank analytics: each customer's revenue standing within their
    * nation — percent_rank, cume_dist, and revenue decile. Revenue
    * accumulates as exact DECIMAL so the window ORDER BY never touches
    * a computed float (custkey breaks ties totally); the rank fractions
    * are exact integer rationals evaluated once in double. Customers
    * with no orders are absent by construction (inner join).
    */
  def customerRevenueRank(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 4))).as("revd"),
        count(lit(1)).as("n_orders"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey").as("custkey"), col("c_nationkey").as("nationkey"))
    val wn = Window.partitionBy("nationkey").orderBy(desc("revd"), col("custkey"))
    rev.join(cust, "custkey")
      .withColumn("pct_rank", round(percent_rank().over(wn), 6))
      .withColumn("cume", round(cume_dist().over(wn), 6))
      .withColumn("decile", ntile(10).over(wn))
      .select(col("nationkey"), col("custkey"),
        col("revd").cast("double").as("revenue"), col("n_orders"),
        col("pct_rank"), col("cume"), col("decile"))
      .orderBy("nationkey", "custkey")
  }

  /** Customer order-count distribution (the TPC-H Q13 shape): how many
    * customers placed exactly k orders, INCLUDING the zero-order bucket
    * the inner join would silently drop. Shape: pre-aggregate orders to
    * (custkey, count) BEFORE the join — the join's build side shrinks
    * from the order count to the customer count and the heavy aggregate
    * partial-combines map-side; the left outer join then only fills the
    * zero bucket. Ordering is (custdist, c_count) desc — both integers,
    * so the total order is exact.
    */
  def customerOrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    Tables.customer(spark, dir)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  /** Idle high-balance customers per nation (the TPC-H Q22 shape):
    * customers whose account balance beats the mean positive balance
    * but who placed no order in the trailing 365 days of the data —
    * the anti-join + scalar-subquery pattern. ("never ordered" would be
    * vacuous here: every generated customer has orders.) The mean
    * accumulates in DECIMAL(18,2) (exact in any fold order) and divides
    * once; the comparison then runs on the same double in both engines.
    * Shape: two 1-row scalar aggregates broadcast as build sides, a
    * LEFT ANTI join against the distinct recent-buyer custkeys
    * (semi-join-sized, partial-aggregated), nation broadcast.
    */
  def idleRichCustomers(spark: SparkSession, dir: String, idleDays: Int = 365): DataFrame = {
    val c = Tables.customer(spark, dir)
    val avgBal = c.filter(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double") /
        count(lit(1))).as("avg_bal"))
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("od"))
    val maxDay = o.agg(max("od").as("max_day"))
    val recentBuyers = o.join(broadcast(maxDay),
        col("od") > date_sub(col("max_day"), idleDays))
      .select(col("o_custkey")).distinct()
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recentBuyers, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"), moneySum(col("c_acctbal")).as("totacctbal"))
      .orderBy("n_name")
  }

  /** Large-volume orders (the TPC-H Q18 shape): orders whose total
    * lineitem quantity exceeds `minQty`, with their customer. The
    * quantity sum accumulates in DECIMAL(18,2) and the threshold
    * compares ON THE DECIMAL (exact — no double boundary flutter), so
    * the selected set is identical in any engine. Shape: the lineitem
    * aggregate partial-combines before its shuffle, the surviving
    * handful of orderkeys semi-join orders, and customer joins last —
    * by then the row count is the result size, not the fact size.
    */
  def largeVolumeOrders(spark: SparkSession, dir: String, minQty: Int = 300): DataFrame = {
    val qty = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty"))
      .filter(col("qty") > minQty)
    val o = Tables.orders(spark, dir)
    o.join(qty, o("o_orderkey") === qty("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("o_orderdate"), col("o_totalprice"),
        col("qty").cast("double").as("sum_qty"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
  }

  /** Promotion revenue share per ship month (the TPC-H Q14 shape over
    * the whole date range): 100 · Σ_promo rev / Σ rev, where promo
    * lineitems ship parts with p_type = 'PROMO'. Both sums accumulate
    * in DECIMAL (fold-order free); the share divides once and rounds.
    * Shape: fact-to-part equi-join — part is the small side and
    * broadcasts, so the only shuffle is the month hash aggregate.
    */
  def promoRevenueShare(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(
        moneySum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)))
          .as("promo_revenue"),
        moneySum(rev).as("total_revenue"))
      .withColumn("promo_share_pct",
        round(lit(100.0) * col("promo_revenue") / col("total_revenue"), 4))
      .orderBy("ship_month")
  }

  /** Referential-integrity audit across the warehouse — the FK-health
    * pre-flight an ETL run gates on: orphan lineitems (l_orderkey
    * absent from orders), childless orders (no lineitems), orders with
    * an unknown customer, and duplicated event_ids, each as one
    * anti-join / aggregate count folded into a single summary row.
    * Every check is a key-partitioned join or hash aggregate — linear,
    * broadcast where the dim side is small.
    */
  def riAudit(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val ev = Tables.events(spark, dir)
    val orphanLines = l.join(o, l("l_orderkey") === o("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_lineitems"))
    val childlessOrders = o.join(l, o("o_orderkey") === l("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("childless_orders"))
    val unknownCust = o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("orders_unknown_customer"))
    val dupEvents = ev.groupBy("event_id").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).agg(count(lit(1)).as("dup_event_ids"))
    orphanLines
      .crossJoin(broadcast(childlessOrders))
      .crossJoin(broadcast(unknownCust))
      .crossJoin(broadcast(dupEvents))
  }
}
