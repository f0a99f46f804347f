package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** Relational analytics over the TPC-H tables: joins, ranking, rollup,
  * the z-order layout audit and the TPC-H queries, most of them as one
  * engine-neutral SQL text that Spark and DuckDB both execute.
  */
object RelationalQueries {

  /** TPC-H Q1 as ONE engine-neutral SQL text: Spark executes exactly
    * this string (over a temp view of the lineitem scan) and the oracle
    * runs exactly this string in DuckDB — the same determinism rules as
    * the DataFrame surface (decimal sums → double, rounded averages).
    */
  private[graft] val tpchQ1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      | round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_qty,
      | round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_price,
      | round(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_disc,
      | count(*) AS count_order
      | FROM lineitem
      | WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
      | GROUP BY l_returnflag, l_linestatus
      | ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q6 (forecast revenue change) as ONE engine-neutral string —
    * the Q1 pattern: per-row DECIMAL cast before the sum, one double
    * at the end.
    */
  private[graft] val tpchQ6Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      | count(*) AS n_rows
      | FROM lineitem
      | WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      |   AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      |   AND l_discount >= 0.05 AND l_discount <= 0.07
      |   AND l_quantity < 24""".stripMargin

  /** TPC-H Q3 (shipping priority, adapted to the fixture's columns:
    * o_orderpriority stands in for o_shippriority). ORDER BY runs on
    * the EXACT DECIMAL revenue with (orderdate, orderkey) tiebreaks —
    * never on the double projection.
    */
  private[graft] val tpchQ3Sql: String =
    """SELECT l_orderkey,
      | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      | CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
      | FROM customer, orders, lineitem
      | WHERE c_mktsegment = 'BUILDING'
      |   AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |   AND CAST(o_orderdate AS DATE) < DATE '1997-06-15'
      |   AND CAST(l_shipdate AS DATE) > DATE '1997-06-15'
      | GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
      | ORDER BY SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) DESC,
      |   o_orderdate, l_orderkey
      | LIMIT 10""".stripMargin

  /** TPC-H Q5 (local supplier volume): the 6-table join, revenue per
    * nation for intra-region trade; ORDER BY the exact DECIMAL sum.
    */
  private[graft] val tpchQ5Sql: String =
    """SELECT n_name,
      | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      | FROM customer, orders, lineitem, supplier, nation, region
      | WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |   AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |   AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |   AND r_name = 'ASIA'
      |   AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      |   AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      | GROUP BY n_name
      | ORDER BY SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) DESC, n_name""".stripMargin

  /** TPC-H Q18 (large-volume customer): the classic semi-join trap —
    * the IN subquery re-aggregates lineitem; a naive plan joins the
    * full lineitem twice, the right plan reuses one grouped aggregate
    * as a semi-join filter before the 3-way join. DECIMAL carriers as
    * in Q1; ORDER BY stored columns with an orderkey tiebreak.
    */
  private[graft] val tpchQ18Sql: String =
    """SELECT c_name, c_custkey, o_orderkey,
      | CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      | FROM customer, orders, lineitem
      | WHERE o_orderkey IN (
      |     SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |     HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 300)
      |   AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      | GROUP BY c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE), o_totalprice
      | ORDER BY o_totalprice DESC, CAST(o_orderdate AS DATE), o_orderkey
      | LIMIT 100""".stripMargin

  /** TPC-H Q21 (suppliers who kept orders waiting), adapted to the
    * fixture's columns: l_returnflag = 'R' stands in for
    * l_receiptdate > l_commitdate (the fixture has no receipt/commit
    * dates — same o_orderpriority precedent as Q3). The plan shape is
    * the point: a 4-way join with BOTH a correlated EXISTS (another
    * supplier on the order → left-semi) and a NOT EXISTS (no OTHER
    * supplier also late → left-anti) against the same fact table.
    */
  private[graft] val tpchQ21Sql: String =
    """SELECT s_name, count(*) AS numwait
      | FROM supplier, lineitem l1, orders, nation
      | WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |   AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |   AND EXISTS (SELECT 1 FROM lineitem l2
      |               WHERE l2.l_orderkey = l1.l_orderkey
      |                 AND l2.l_suppkey <> l1.l_suppkey)
      |   AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |               WHERE l3.l_orderkey = l1.l_orderkey
      |                 AND l3.l_suppkey <> l1.l_suppkey
      |                 AND l3.l_returnflag = 'R')
      |   AND s_nationkey = n_nationkey AND n_name = 'NATION_9'
      | GROUP BY s_name
      | ORDER BY numwait DESC, s_name
      | LIMIT 100""".stripMargin

  /** TPC-H Q7 (volume shipping): the two-nation trade matrix — a
    * 6-table join where the nation pair condition is a DISJUNCTION
    * over two dimension copies, grouped by extracted year.
    */
  private[graft] val tpchQ7Sql: String =
    """SELECT supp_nation, cust_nation, l_year,
      | CAST(SUM(volume) AS DOUBLE) AS revenue, count(*) AS n_rows
      | FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |         EXTRACT(year FROM CAST(l_shipdate AS DATE)) AS l_year,
      |         CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS volume
      |       FROM supplier, lineitem, orders, customer, nation n1, nation n2
      |       WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |         AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      |         AND c_nationkey = n2.n_nationkey
      |         AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |         AND CAST(l_shipdate AS DATE)
      |           BETWEEN DATE '1995-01-01' AND DATE '1996-12-31') shipping
      | GROUP BY supp_nation, cust_nation, l_year
      | ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q14 (promotion effect): conditional aggregation over a
    * fact-dimension join — the CASE ratio with DECIMAL carriers on
    * both branches, one double division at the end.
    */
  private[graft] val tpchQ14Sql: String =
    """SELECT round(100.0 *
      |   CAST(SUM(CASE WHEN p_type = 'PROMO'
      |     THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
      |     ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) /
      |   CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE),
      |   4) AS promo_revenue_pct,
      | count(*) AS n_rows
      | FROM lineitem, part
      | WHERE p_partkey = l_partkey
      |   AND CAST(l_shipdate AS DATE) >= DATE '1996-09-01'
      |   AND CAST(l_shipdate AS DATE) < DATE '1996-10-01'""".stripMargin

  /** TPC-H Q19 (discounted revenue): the disjunctive-predicate join —
    * three brand/size/quantity OR-branches that must still plan as ONE
    * equi-hash-join on partkey with the disjunction as a residual
    * filter, never a cartesian product.
    */
  private[graft] val tpchQ19Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      | count(*) AS n_rows
      | FROM lineitem, part
      | WHERE p_partkey = l_partkey AND (
      |     (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity >= 1 AND l_quantity <= 11)
      |  OR (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 25
      |       AND l_quantity >= 10 AND l_quantity <= 20)
      |  OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 35
      |       AND l_quantity >= 20 AND l_quantity <= 30))""".stripMargin

  /** TPC-H Q4 (order priority checking): an EXISTS probe from orders
    * into lineitem aggregated per priority — the semi-join-then-agg
    * shape. l_returnflag = 'R' stands in for commit/receipt lateness
    * (the fixture carries no receipt dates — the Q21 adaptation).
    */
  private[graft] val tpchQ4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      | FROM orders
      | WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      |   AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
      |   AND EXISTS (SELECT 1 FROM lineitem
      |               WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      | GROUP BY o_orderpriority
      | ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q10 (returned-item reporting): lost revenue per customer
    * over a quarter, top 20 — fact-to-customer rollup with a
    * broadcast nation dim and the Q3 DECIMAL/ordering rules.
    */
  private[graft] val tpchQ10Sql: String =
    """SELECT c_custkey, c_name,
      | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      | c_acctbal, n_name, c_mktsegment
      | FROM customer, orders, lineitem, nation
      | WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |   AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      |   AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
      |   AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      | GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
      | ORDER BY SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) DESC,
      |   c_custkey
      | LIMIT 20""".stripMargin

  /** TPC-H Q17 (small-quantity-order revenue): the CORRELATED SCALAR
    * SUBQUERY shape — per outer row, `l_quantity < 0.2 * avg(l_quantity)
    * for THIS part` — the classic decorrelation trap: a naive engine
    * re-scans lineitem per row; a correct optimizer rewrites the
    * subquery to one per-partkey aggregate joined back (PlanShapeSpec
    * asserts exactly two lineitem scans and no nested-loop rescan).
    * Brand/size filters stand in for TPC-H's brand/container (the
    * fixture part table carries no container column). Determinism:
    * quantities are integral doubles (exact sums in any fold order →
    * bit-identical avg), the revenue sum rides the DECIMAL(18,6)
    * carrier, and 0.2·avg / the final ÷7.0 are IEEE ops on identical
    * operands.
    */
  private[graft] val tpchQ17Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
      |   AS avg_yearly
      | FROM lineitem, part
      | WHERE p_partkey = l_partkey
      |   AND p_brand = 'Brand#4' AND p_size < 15
      |   AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem
      |                     WHERE l_partkey = p_partkey)""".stripMargin

  /** TPC-H Q22 (global sales opportunity): rich-but-inactive
    * customers per nation — an UNCORRELATED scalar aggregate subquery
    * (the global average threshold) combined with a NOT EXISTS
    * anti-join against orders. Adaptations for the fixture: nationkey
    * stands in for the phone country code (no c_phone column), and
    * "inactive" = no order since 2000 (every customer has SOME order).
    * The average threshold is compared as
    * `bal · count > sum` on the DECIMAL(18,2) carrier — an EXACT,
    * fold-order-free comparison; a double `avg()` would rank engines'
    * last-ulp summation differences straight into the row set.
    */
  private[graft] val tpchQ22Sql: String =
    """SELECT c_nationkey, count(*) AS numcust,
      |   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      | FROM customer
      | WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
      |       (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
      |       > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer
      |          WHERE c_acctbal > 0.0)
      |   AND NOT EXISTS (SELECT 1 FROM orders
      |                   WHERE o_custkey = c_custkey
      |                     AND CAST(o_orderdate AS DATE) >= DATE '2000-01-01')
      | GROUP BY c_nationkey
      | ORDER BY c_nationkey""".stripMargin

  /** TPC-H Q13 (customer distribution): LEFT OUTER join with a
    * predicate INSIDE the join condition (not a post-filter — moving
    * it would drop customers with only urgent orders from the
    * zero-bucket) followed by two aggregation levels: per-customer
    * order count, then the count histogram. o_orderpriority <>
    * '1-URGENT' stands in for the comment NOT LIKE filter (the
    * fixture carries no comment column). Exact integer counts — no
    * numeric determinism concerns.
    */
  private[graft] val tpchQ13Sql: String =
    """SELECT c_count, count(*) AS custdist
      | FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |       FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |           AND o_orderpriority <> '1-URGENT'
      |       GROUP BY c_custkey) c_orders
      | GROUP BY c_count
      | ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q15 (top supplier): a revenue view referenced TWICE — once
    * as the join side, once inside the scalar max subquery — the
    * view-reuse shape; the max comparison runs on the exact DECIMAL
    * revenue so fold-order can't split engines on the winner.
    */
  private[graft] val tpchQ15Sql: String =
    """WITH revenue AS (SELECT l_suppkey AS supplier_no,
      |     SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS total_revenue
      |   FROM lineitem
      |   WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      |     AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
      |   GROUP BY l_suppkey)
      | SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
      | FROM supplier, revenue
      | WHERE s_suppkey = supplier_no
      |   AND total_revenue = (SELECT max(total_revenue) FROM revenue)
      | ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q20 (potential part promotion): the DEEPEST nesting rung on
    * the surface — a correlated IN whose subquery itself contains a
    * correlated scalar aggregate (quantity shipped in a window for
    * THIS (part, supplier)), plus a second nested IN on part. Two
    * decorrelation levels must both rewrite to aggregate joins or the
    * inner lineitem re-scans per (part, supplier). The fixture has no
    * partsupp table, so a lineitem-derived (partkey, suppkey) grouped
    * CTE stands in (availqty = total quantity ever shipped by the
    * pair — the Q2 `ps` precedent); quantities are integral doubles →
    * the DECIMAL sums and the 0.5× threshold compare exactly.
    */
  private[graft] val tpchQ20Sql: String =
    """WITH ps AS (SELECT l_partkey, l_suppkey,
      |     CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS availqty
      |   FROM lineitem GROUP BY l_partkey, l_suppkey)
      | SELECT s_suppkey, s_name FROM supplier, nation
      | WHERE s_suppkey IN (
      |     SELECT ps.l_suppkey FROM ps
      |     WHERE ps.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'large%')
      |       AND ps.availqty > (SELECT 0.5 * SUM(CAST(l_quantity AS DECIMAL(18,4)))
      |                          FROM lineitem
      |                          WHERE l_partkey = ps.l_partkey AND l_suppkey = ps.l_suppkey
      |                            AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      |                            AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'))
      |   AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
      | ORDER BY s_name, s_suppkey""".stripMargin

  /** TPC-H Q2 (minimum-cost supplier): a correlated MIN whose subquery
    * drags a whole dimension chain (supplier→nation→region) along with
    * the fact — the decorrelation must push the region filter into the
    * per-part aggregate, not re-run the 4-way join per outer row. The
    * CTE is referenced twice (join side + subquery side — the Q15
    * view-reuse shape). supplycost stand-in = MIN(l_extendedprice) per
    * (part, supplier) (no partsupp in the fixture); MIN of a stored
    * double is exact, so the equality join on it is engine-neutral.
    */
  private[graft] val tpchQ2Sql: String =
    """WITH ps AS (SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS ps_supplycost
      |   FROM lineitem GROUP BY l_partkey, l_suppkey)
      | SELECT s_acctbal, s_name, n_name, p_partkey, p_type, ps_supplycost
      | FROM part, supplier, ps, nation, region
      | WHERE p_partkey = ps.l_partkey AND s_suppkey = ps.l_suppkey
      |   AND p_size < 10 AND p_type = 'LARGE'
      |   AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |   AND r_name = 'EUROPE'
      |   AND ps_supplycost = (SELECT MIN(ps2.ps_supplycost)
      |                        FROM ps ps2, supplier s2, nation n2, region r2
      |                        WHERE p_partkey = ps2.l_partkey AND s2.s_suppkey = ps2.l_suppkey
      |                          AND s2.s_nationkey = n2.n_nationkey
      |                          AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
      | ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      | LIMIT 100""".stripMargin

  /** TPC-H Q8 (national market share): the DEEPEST join on the surface
    * — 8 relations (two nation copies) feeding a conditional-share
    * aggregate per year. Join order is the whole game: dims broadcast,
    * the fact chain lineitem→orders→customer keeps the big side
    * pipelined. DECIMAL volume carrier on both CASE branches; the one
    * double division is rounded at 4dp.
    */
  private[graft] val tpchQ8Sql: String =
    """SELECT o_year,
      |  round(CAST(SUM(CASE WHEN nation = 'NATION_2' THEN volume
      |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) /
      |    CAST(SUM(volume) AS DOUBLE), 4) AS mkt_share
      | FROM (SELECT EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS o_year,
      |         CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS volume,
      |         n2.n_name AS nation
      |       FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      |       WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |         AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |         AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
      |         AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
      |         AND CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
      |         AND p_type = 'ECONOMY') all_nations
      | GROUP BY o_year
      | ORDER BY o_year""".stripMargin

  /** TPC-H Q9 (product-type profit): the 5-way profit rollup by
    * (nation, year). p_retailprice stands in for ps_supplycost (no
    * partsupp in the fixture); the per-row profit expression runs on
    * identical double operands in both engines before the DECIMAL cast,
    * so the grouped sums fold exactly.
    */
  private[graft] val tpchQ9Sql: String =
    """SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
      | FROM (SELECT n_name AS nation,
      |         EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS o_year,
      |         CAST(l_extendedprice * (1.0 - l_discount) - p_retailprice * l_quantity
      |           AS DECIMAL(18,6)) AS amount
      |       FROM part, supplier, lineitem, orders, nation
      |       WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      |         AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      |         AND p_name LIKE '%widget%') profit
      | GROUP BY nation, o_year
      | ORDER BY nation, o_year DESC""".stripMargin

  /** TPC-H Q11 (important stock): per-part value share against a
    * global-total threshold — the grouped CTE referenced twice (rows +
    * uncorrelated scalar total). The threshold compare is
    * `value × 400 > total` on the DECIMAL carriers — exact integer
    * scaling, never a double fraction (the Q22 precedent: a double
    * `0.0025 × total` would let last-ulp summation differences decide
    * membership). partsupp stand-in: per-part lineitem value for one
    * nation's suppliers.
    */
  private[graft] val tpchQ11Sql: String =
    """WITH ps AS (SELECT l_partkey,
      |     CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS value
      |   FROM lineitem, supplier, nation
      |   WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_name = 'NATION_1'
      |   GROUP BY l_partkey)
      | SELECT l_partkey AS ps_partkey, CAST(value AS DOUBLE) AS value
      | FROM ps
      | WHERE value * 400 > (SELECT SUM(value) FROM ps)
      | ORDER BY value DESC, l_partkey""".stripMargin

  /** TPC-H Q12 (shipping-mode priority): the two-bucket conditional
    * count over a fact join. l_returnflag stands in for l_shipmode and
    * the shipdate window for the commit/receipt lateness chain (the
    * fixture carries neither — the Q4/Q21 adaptation); counts are
    * exact ints, CAST BIGINT pins the SUM(CASE) type both engines
    * return.
    */
  private[graft] val tpchQ12Sql: String =
    """SELECT l_returnflag AS l_shipmode,
      |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      | FROM orders, lineitem
      | WHERE o_orderkey = l_orderkey AND l_returnflag IN ('A', 'R')
      |   AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      |   AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      | GROUP BY l_returnflag
      | ORDER BY l_shipmode""".stripMargin

  /** TPC-H Q16 (parts/supplier relationship): COUNT(DISTINCT) per
    * (brand, type, size) with a NOT IN anti-join on the supplier dim —
    * the null-aware-anti-join shape (NOT IN, unlike NOT EXISTS, must
    * respect a possible NULL in the subquery column). Exclusion
    * stand-in: low account balance (no s_comment in the fixture);
    * incidence stand-in: DISTINCT (partkey, suppkey) off lineitem.
    */
  private[graft] val tpchQ16Sql: String =
    """SELECT p_brand, p_type, p_size, count(DISTINCT ps.l_suppkey) AS supplier_cnt
      | FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps, part
      | WHERE p_partkey = ps.l_partkey
      |   AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      |   AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      |   AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0)
      | GROUP BY p_brand, p_type, p_size
      | ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ---- relational (join / ranking / rollup)
    QuerySpec("join_revenue_by_region", (s, d) => Relational.revenueByRegion(s, d),
      """SELECT r_name, l_returnflag,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | count(DISTINCT o_orderkey) AS n_orders,
        | count(*) AS n_lineitems
        | FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | GROUP BY r_name, l_returnflag ORDER BY r_name, l_returnflag""".stripMargin),
    // FK-health pre-flight: orphans / childless / unknown-customer /
    // duplicate-event-id counts in one summary row
    QuerySpec("ri_audit", (s, d) => Relational.riAudit(s, d),
      """SELECT
        | (SELECT count(*) FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |   AS orphan_lineitems,
        | (SELECT count(*) FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
        |   AS childless_orders,
        | (SELECT count(*) FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |   AS orders_unknown_customer,
        | (SELECT count(*) FROM (SELECT event_id FROM events
        |   GROUP BY event_id HAVING count(*) > 1)) AS dup_event_ids""".stripMargin),
    QuerySpec("topk_orders_per_segment", (s, d) => Relational.topOrdersPerSegment(s, d, 3),
      """SELECT c_mktsegment, rnk, o_orderkey, o_totalprice, c_name FROM (
        |   SELECT c_mktsegment,
        |     row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
        |     o_orderkey, o_totalprice, c_name
        |   FROM orders JOIN customer ON o_custkey = c_custkey)
        | WHERE rnk <= 3 ORDER BY c_mktsegment, rnk""".stripMargin),
    QuerySpec("orders_rollup", (s, d) => Relational.ordersRollup(s, d),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        | FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        | ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),
    // CUBE + grouping_id (the other grouping-sets shape)
    QuerySpec("orders_cube", (s, d) => Relational.ordersCube(s, d),
      """SELECT o_orderstatus, o_orderpriority,
        | GROUPING(o_orderstatus, o_orderpriority) AS gid, count(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        | FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        | ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),
    // percent_rank / cume_dist / decile of customer revenue per nation
    QuerySpec("customer_revenue_rank", (s, d) => Relational.customerRevenueRank(s, d),
      """WITH rev AS (SELECT o_custkey AS custkey,
        |     SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS revd,
        |     count(*) AS n_orders
        |   FROM orders GROUP BY o_custkey),
        | j AS (SELECT c.c_nationkey AS nationkey, r.custkey, r.revd, r.n_orders
        |       FROM rev r JOIN customer c ON c.c_custkey = r.custkey)
        | SELECT nationkey, custkey, CAST(revd AS DOUBLE) AS revenue, n_orders,
        |   round(percent_rank() OVER wn, 6) AS pct_rank,
        |   round(cume_dist() OVER wn, 6) AS cume,
        |   ntile(10) OVER wn AS decile
        | FROM j
        | WINDOW wn AS (PARTITION BY nationkey ORDER BY revd DESC, custkey)
        | ORDER BY nationkey, custkey""".stripMargin),
    // market-basket co-occurrence: part pairs shipping together, with
    // support and lift over the distinct (order, part) incidence
    QuerySpec("market_basket", (s, d) => Basket.pairCounts(Tables.lineitem(s, d), 20),
      """WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
        | t AS (SELECT count(DISTINCT okey) AS total FROM items),
        | np AS (SELECT part, count(*) AS n_part FROM items GROUP BY part),
        | p AS (SELECT a.part AS part1, b.part AS part2, count(*) AS n_both
        |       FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
        |       GROUP BY a.part, b.part)
        | SELECT part1, part2, n_both, np1.n_part AS n1, np2.n_part AS n2,
        |   round(n_both / (total * 1.0), 6) AS support,
        |   round(n_both * (total * 1.0) / (np1.n_part * np2.n_part), 4) AS lift
        | FROM p
        | JOIN np np1 ON p.part1 = np1.part
        | JOIN np np2 ON p.part2 = np2.part
        | CROSS JOIN t
        | ORDER BY n_both DESC, part1, part2 LIMIT 20""".stripMargin),
    // RFM customer scoring (recency/frequency/monetary quintiles)
    QuerySpec("customer_rfm", (s, d) => Relational.customerRfm(s, d),
      """WITH a AS (
        |   SELECT o_custkey AS custkey, max(CAST(o_orderdate AS DATE)) AS last_order,
        |     count(*) AS frequency,
        |     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS monetary
        |   FROM orders GROUP BY o_custkey)
        | SELECT custkey, last_order, frequency, monetary,
        |   ntile(5) OVER (ORDER BY last_order DESC, custkey) AS r_score,
        |   ntile(5) OVER (ORDER BY frequency DESC, custkey) AS f_score,
        |   ntile(5) OVER (ORDER BY monetary DESC, custkey) AS m_score,
        |   CAST(ntile(5) OVER (ORDER BY last_order DESC, custkey) AS VARCHAR)
        |     || CAST(ntile(5) OVER (ORDER BY frequency DESC, custkey) AS VARCHAR)
        |     || CAST(ntile(5) OVER (ORDER BY monetary DESC, custkey) AS VARCHAR) AS segment
        | FROM a ORDER BY custkey""".stripMargin),
    // sweep-line interval aggregate: daily open-order backlog
    QuerySpec("orders_backlog", (s, d) => Relational.openOrdersOverTime(s, d),
      """WITH closes AS (SELECT l_orderkey AS okey, max(CAST(l_shipdate AS DATE)) AS close_date
        |               FROM lineitem GROUP BY l_orderkey),
        | opens AS (SELECT o_orderkey AS okey, CAST(o_orderdate AS DATE) AS open_date FROM orders),
        | j AS (SELECT open_date, close_date FROM opens JOIN closes USING (okey)),
        | deltas AS (SELECT date, CAST(sum(delta) AS BIGINT) AS net FROM (
        |     SELECT open_date AS date, 1 AS delta FROM j
        |     UNION ALL SELECT close_date, -1 FROM j) GROUP BY date)
        | SELECT date, net,
        |   CAST(sum(net) OVER (ORDER BY date ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open_orders
        | FROM deltas ORDER BY date""".stripMargin),
    // the spark.sql TEXT surface: TPC-H Q1 as one engine-neutral SQL
    // string — Spark executes the IDENTICAL text the DuckDB oracle
    // runs, proving the SQL API end of the library, not just the
    // DataFrame end
    QuerySpec("sql_tpch_q1", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(tpchQ1Sql)
    },
      tpchQ1Sql),
    // Q6/Q3/Q5 through the same engine-neutral TEXT surface: Spark and
    // DuckDB execute the identical string (Catalyst broadcasts the dim
    // sides and pushes the date/segment filters to the scans)
    QuerySpec("sql_tpch_q6", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(tpchQ6Sql)
    },
      tpchQ6Sql),
    QuerySpec("sql_tpch_q3", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.table(s, d, "customer").createOrReplaceTempView("customer")
      s.sql(tpchQ3Sql)
    },
      tpchQ3Sql),
    QuerySpec("sql_tpch_q5", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Seq("customer", "supplier", "nation", "region").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ5Sql)
    },
      tpchQ5Sql),
    // Q18/Q21 through the same engine-neutral TEXT surface — the two
    // classic plan-shape traps (semi-join on a re-aggregated fact;
    // EXISTS + NOT EXISTS against the same fact) the Q1/Q3/Q5/Q6 set
    // doesn't exercise
    QuerySpec("sql_tpch_q18", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.table(s, d, "customer").createOrReplaceTempView("customer")
      s.sql(tpchQ18Sql)
    },
      tpchQ18Sql),
    QuerySpec("sql_tpch_q21", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Seq("supplier", "nation").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ21Sql)
    },
      tpchQ21Sql),
    // Q7 (two-nation disjunction over twin dim copies), Q14 (CASE
    // ratio), Q19 (disjunctive-predicate join) — same verbatim-text
    // contract
    QuerySpec("sql_tpch_q7", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Seq("customer", "supplier", "nation").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ7Sql)
    },
      tpchQ7Sql),
    QuerySpec("sql_tpch_q14", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.table(s, d, "part").createOrReplaceTempView("part")
      s.sql(tpchQ14Sql)
    },
      tpchQ14Sql),
    // Q4 (EXISTS probe aggregated per priority), Q10 (returned-item
    // lost-revenue top-20) — same verbatim-text contract
    QuerySpec("sql_tpch_q4", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(tpchQ4Sql)
    },
      tpchQ4Sql),
    QuerySpec("sql_tpch_q10", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Seq("customer", "nation").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ10Sql)
    },
      tpchQ10Sql),
    QuerySpec("sql_tpch_q19", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.table(s, d, "part").createOrReplaceTempView("part")
      s.sql(tpchQ19Sql)
    },
      tpchQ19Sql),
    // Q17 (correlated scalar subquery) — the decorrelation trap, same
    // verbatim-text contract
    QuerySpec("sql_tpch_q17", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.table(s, d, "part").createOrReplaceTempView("part")
      s.sql(tpchQ17Sql)
    },
      tpchQ17Sql),
    // Q22 (uncorrelated scalar-aggregate threshold + NOT EXISTS
    // anti-join) — same verbatim-text contract
    QuerySpec("sql_tpch_q22", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.table(s, d, "customer").createOrReplaceTempView("customer")
      s.sql(tpchQ22Sql)
    },
      tpchQ22Sql),
    // Q13 (outer join with in-join predicate + double aggregation) and
    // Q15 (twice-referenced revenue view + scalar max) — same contract
    QuerySpec("sql_tpch_q13", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.table(s, d, "customer").createOrReplaceTempView("customer")
      s.sql(tpchQ13Sql)
    },
      tpchQ13Sql),
    QuerySpec("sql_tpch_q15", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.table(s, d, "supplier").createOrReplaceTempView("supplier")
      s.sql(tpchQ15Sql)
    },
      tpchQ15Sql),
    // Q20 (nested correlated IN over a correlated scalar aggregate)
    // and Q2 (correlated MIN over a joined dimension chain) — the two
    // deepest decorrelation rungs, same verbatim-text contract
    QuerySpec("sql_tpch_q20", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Seq("part", "supplier", "nation").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ20Sql)
    },
      tpchQ20Sql),
    QuerySpec("sql_tpch_q2", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Seq("part", "supplier", "nation", "region").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ2Sql)
    },
      tpchQ2Sql),
    // Q8/Q9 (the two deep join-order shapes), Q11 (grouped share vs
    // global threshold), Q12 (two-bucket conditional count), Q16
    // (COUNT DISTINCT + null-aware NOT IN) — same contract
    QuerySpec("sql_tpch_q8", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Seq("part", "supplier", "customer", "nation", "region").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ8Sql)
    },
      tpchQ8Sql),
    QuerySpec("sql_tpch_q9", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Seq("part", "supplier", "nation").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ9Sql)
    },
      tpchQ9Sql),
    QuerySpec("sql_tpch_q11", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Seq("supplier", "nation").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ11Sql)
    },
      tpchQ11Sql),
    QuerySpec("sql_tpch_q12", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(tpchQ12Sql)
    },
      tpchQ12Sql),
    QuerySpec("sql_tpch_q16", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Seq("part", "supplier").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ16Sql)
    },
      tpchQ16Sql),
    // z-order layout audit: Morton-interleave (custkey, order-day),
    // tile into 32 fixed-width z-ranges, report each tile's bounding box
    // in BOTH dimensions — the min/max file-stats pruning story made
    // checkable. Bucket membership is a pure function of z and the
    // broadcast global (min,max) — the scale-safe analogue of
    // repartitionByRange boundaries (see Layout.clusterByZ). The earlier
    // ntile() formulation ranked the whole table through ONE partition
    // (a driver-throughput bottleneck at scale); this shape is one cheap
    // global agg + a map-side bucket expression + the grouped agg.
    QuerySpec("zorder_layout", (s, d) => {
      val o = Tables.orders(s, d)
      val x = col("o_custkey").bitwiseAND(lit(65535L))
      val y = datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
        .cast("long").bitwiseAND(lit(65535L))
      val base = o.select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("odate"),
        Layout.zValue(x, y, 16).as("z"))
      val bounds = base.agg(min("z").as("zmin"), max("z").as("zmax"))
      // exact integer arithmetic: z < 2^32, ×32 < 2^37 — no overflow;
      // both engines floor-divide non-negative longs identically
      base.crossJoin(broadcast(bounds))
        .withColumn("bucket",
          (expr("((z - zmin) * 32) div (zmax - zmin + 1)") + lit(1)).cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("o_custkey").as("cust_min"), max("o_custkey").as("cust_max"),
          min("odate").as("date_min"), max("odate").as("date_max"))
        .orderBy("bucket")
    },
      {
        // NB: DuckDB gives |, & and << equal precedence (left-to-right),
        // so every shift is fully parenthesized
        val zExpr = (0 until 16).map { i =>
          s"((((o_custkey & 65535) >> $i) & 1) << ${2 * i}) | " +
            s"((((date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) & 65535) >> $i) & 1) << ${2 * i + 1})"
        }.mkString("(", ") | (", ")")
        s"""WITH b AS (
           |   SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS odate,
           |     ($zExpr) AS z
           |   FROM orders),
           | bounds AS (SELECT min(z) AS zmin, max(z) AS zmax FROM b),
           | nt AS (SELECT b.*,
           |     CAST(((z - zmin) * 32) // (zmax - zmin + 1) + 1 AS INT) AS bucket
           |   FROM b CROSS JOIN bounds)
           | SELECT bucket, count(*) AS n,
           |   min(o_custkey) AS cust_min, max(o_custkey) AS cust_max,
           |   min(odate) AS date_min, max(odate) AS date_max
           | FROM nt GROUP BY bucket ORDER BY bucket""".stripMargin
      }),
    // shipping-delay distribution per ship mode (exact percentiles)
    QuerySpec("ship_delay_stats", (s, d) => Relational.shipDelayStats(s, d),
      """WITH d AS (SELECT o.o_orderpriority AS priority,
        |     date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS delay
        |   FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        | SELECT priority, count(*) AS n_items,
        |   round(CAST(sum(delay) AS BIGINT) / count(*), 6) AS mean_days,
        |   round(quantile_cont(delay, 0.5), 6) AS p50,
        |   round(quantile_cont(delay, 0.9), 6) AS p90,
        |   round(quantile_cont(delay, 0.99), 6) AS p99
        | FROM d GROUP BY priority ORDER BY priority""".stripMargin),
    // TPC-H Q14 shape: promo revenue share per ship month
    QuerySpec("promo_revenue", (s, d) => Relational.promoRevenueShare(s, d),
      """SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
        | CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        |   THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE) AS promo_revenue,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue,
        | round(100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        |     THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE) /
        |   CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS promo_share_pct
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | GROUP BY strftime(CAST(l_shipdate AS DATE), '%Y-%m')
        | ORDER BY ship_month""".stripMargin),
    // TPC-H Q13 shape: order-count histogram including the zero bucket
    QuerySpec("tpch_q13_custdist", (s, d) => Relational.customerOrderDistribution(s, d),
      """WITH oc AS (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey),
        | j AS (SELECT coalesce(cnt, 0) AS c_count
        |       FROM customer LEFT JOIN oc ON c_custkey = o_custkey)
        | SELECT c_count, count(*) AS custdist FROM j
        | GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),
    // TPC-H Q22 shape: above-average-balance customers with no orders
    QuerySpec("tpch_q22_idle_rich", (s, d) => Relational.idleRichCustomers(s, d),
      // the mean accumulates in DECIMAL and divides once, so the
      // threshold double is bit-identical in both engines
      """WITH a AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
        |           FROM customer WHERE c_acctbal > 0),
        | m AS (SELECT max(CAST(o_orderdate AS DATE)) AS max_day FROM orders),
        | rec AS (SELECT DISTINCT o_custkey FROM orders, m
        |         WHERE CAST(o_orderdate AS DATE) > max_day - INTERVAL 365 DAY),
        | b AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer, a
        |       WHERE c_acctbal > avg_bal),
        | i AS (SELECT * FROM b WHERE NOT EXISTS
        |       (SELECT 1 FROM rec WHERE o_custkey = c_custkey))
        | SELECT n_name, count(*) AS numcust,
        |   CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
        | FROM i JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY n_name ORDER BY n_name""".stripMargin),
    // TPC-H Q18 shape: orders whose total quantity exceeds 300
    QuerySpec("tpch_q18_big_orders", (s, d) => Relational.largeVolumeOrders(s, d),
      // the quantity threshold compares on the exact DECIMAL sum
      """WITH q AS (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |           FROM lineitem GROUP BY l_orderkey
        |           HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
        | SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |   o_totalprice, CAST(qty AS DOUBLE) AS sum_qty
        | FROM orders JOIN q ON o_orderkey = l_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | ORDER BY o_totalprice DESC, o_orderkey""".stripMargin))
}
