package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Extension surface beyond the reference (driver north star,
  * SURVEY.md §7.4): relational joins/ranking/rollup over the TPC-H
  * tables, dedup family, similarity search, text analysis, multimodal
  * plumbing, and events analytics. Same determinism rules as
  * [[SparkEntry]] (exact ints/strings, decimal sums → double, single
  * divisions rounded to 4, discrete ORDER BY).
  */
object ExtQueries {

  /** One replay-drop directory per JVM (the stream_ema_replay side
    * effect), registered for exit cleanup.
    */
  private lazy val streamReplayDir: String = TempDirs.create("graft_stream_replay")

  /** Replay-drop directory for the streaming near-dup query. */
  private lazy val neardupReplayDir: String = TempDirs.create("graft_neardup_replay")

  /** Replay-drop directory for the streaming sessionization query. */
  private lazy val sessionsReplayDir: String = TempDirs.create("graft_sessions_replay")

  /** Replay-drop directory for the append-mode hourly query. */
  private lazy val hourlyReplayDir: String = TempDirs.create("graft_hourly_replay")

  /** Replay-drop directory for the streaming histogram query. */
  private lazy val histReplayDir: String = TempDirs.create("graft_hist_replay")

  private lazy val histByTypeReplayDir: String =
    TempDirs.create("graft_hist_by_type_replay")

  private lazy val ivfAppendDir: String = TempDirs.create("graft_ivf_append")

  private lazy val ivfDriftDir: String = TempDirs.create("graft_ivf_drift")

  private lazy val ivfDeleteDir: String = TempDirs.create("graft_ivf_delete")

  private lazy val ivfCdcDir: String = TempDirs.create("graft_ivf_cdc")

  private lazy val ivfPqDeleteDir: String = TempDirs.create("graft_ivfpq_delete")

  private lazy val ivfStreamDir: String = TempDirs.create("graft_ivf_stream")

  private lazy val ivfPqDir: String = TempDirs.create("graft_ivfpq")

  private lazy val ivfPqAppendDir: String = TempDirs.create("graft_ivfpq_append")

  private lazy val ivfPqStreamDir: String = TempDirs.create("graft_ivfpq_stream")

  private lazy val ivfPqDriftDir: String = TempDirs.create("graft_ivfpq_drift")

  private lazy val ivfSq8Dir: String = TempDirs.create("graft_ivfsq8")
  private lazy val ivfSq8SizedDir: String = TempDirs.create("graft_ivfsq8_sized")

  private lazy val ivfCurveDir: String = TempDirs.create("graft_ivf_curve")

  private lazy val dedupIndexDir: String = TempDirs.create("graft_dedup_index")

  private lazy val dedupIndexAppendDir: String =
    TempDirs.create("graft_dedup_index_append")

  private lazy val dedupStreamDir: String =
    TempDirs.create("graft_dedup_index_stream")

  private lazy val dedupIndexDeleteDir: String =
    TempDirs.create("graft_dedup_index_del")

  private lazy val dedupCdcStreamDir: String =
    TempDirs.create("graft_dedup_index_cdc")

  private lazy val dedupIngestLoopDir: String =
    TempDirs.create("graft_dedup_ingest_loop")

  private lazy val dedupIngestStreamDir: String =
    TempDirs.create("graft_dedup_ingest_stream")

  private lazy val dedupIndexDeleteCompactDir: String =
    TempDirs.create("graft_dedup_index_delc")

  private lazy val bpeTokDir: String = TempDirs.create("graft_bpe_tok")

  private lazy val bpeTokExtendDir: String =
    TempDirs.create("graft_bpe_tok_extend")

  private lazy val bpeTokExtendEncodeDir: String =
    TempDirs.create("graft_bpe_tok_extenc")

  private lazy val bpeTokStreamDir: String =
    TempDirs.create("graft_bpe_tok_stream")

  private lazy val bpeTokPackDir: String =
    TempDirs.create("graft_bpe_tok_pack")

  /** Takedown set for the dedup-index delete queries: the docs the
    * planted batch copies point AT (verbatim sources 0-4, near sources
    * 10-14) — deleting them flips the planted verdicts, so the queries
    * exercise the mask on BOTH the fingerprint min-fold and the
    * pre-cap band path, not just on bystander rows.
    */
  private val dedupTakedownIds: Seq[Long] =
    (0L until 5L) ++ (10L until 15L)

  private lazy val ivfMaintainAppendDir: String =
    TempDirs.create("graft_ivf_maintain_a") + "/index"

  private lazy val ivfMaintainRetrainDir: String =
    TempDirs.create("graft_ivf_maintain_r") + "/index"

  private lazy val ivfMaintainStreamDir: String =
    TempDirs.create("graft_ivf_maintain_stream")

  private lazy val ivfPqMaintainStreamDir: String =
    TempDirs.create("graft_ivfpq_maintain_stream")

  private lazy val ivfSq8MaintainStreamDir: String =
    TempDirs.create("graft_ivfsq8_maintain_stream")

  private lazy val ivfSq8MaintainSizedDir: String =
    TempDirs.create("graft_ivfsq8_maintain_sz") + "/index"

  private lazy val ivfMaintainSizedDir: String =
    TempDirs.create("graft_ivf_maintain_sz") + "/index"

  private lazy val ivfPqMaintainSizedDir: String =
    TempDirs.create("graft_ivfpq_maintain_sz") + "/index"

  private lazy val ivfSq8MaintainSizedStreamDir: String =
    TempDirs.create("graft_ivfsq8_maintain_sz_stream")

  private lazy val ivfPqMaintainAppendDir: String =
    TempDirs.create("graft_ivfpq_maintain_a") + "/index"

  private lazy val ivfPqMaintainRetrainDir: String =
    TempDirs.create("graft_ivfpq_maintain_r") + "/index"

  private lazy val ivfRrfDir: String = TempDirs.create("graft_ivf_rrf")

  /** Replay-drop directory for the streaming CUSUM query. */
  private lazy val cusumReplayDir: String = TempDirs.create("graft_cusum_replay")

  /** One JSONL export directory per JVM (the jsonl_export_roundtrip
    * side effect), registered for exit cleanup.
    */
  private lazy val jsonlExportDir: String =
    TempDirs.create("graft_jsonl_export") + "/documents"

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)
  private def ev(s: SparkSession, d: String) = Tables.events(s, d)

  /** The planted incremental-dedup batch (shared by the cached and the
    * two stored-index queries, which must classify the SAME batch to
    * share one oracle): docs ≥ 400, plus 10 verbatim copies and 10
    * near-copies of existing docs under re-keyed ids.
    */
  /** Sequential ingest-loop batches: batch 1 is a plain slice; batch 2
    * plants verbatim copies of batch-1 docs (+30000) and near copies
    * (+40000) — content that is a dup of the PREVIOUS batch, not of
    * the base corpus, so its verdicts prove the index grew between
    * the two maintain calls.
    */
  private def ingestBatch1(all: DataFrame): DataFrame =
    all.filter(col("doc_id") >= 400 && col("doc_id") < 450)
      .select("doc_id", "text")

  private def ingestBatch2(all: DataFrame): DataFrame =
    all.filter(col("doc_id") >= 450 && col("doc_id") < 500)
      .select("doc_id", "text")
      .unionByName(all.filter(col("doc_id") >= 400 && col("doc_id") < 405)
        .select((col("doc_id") + 30000).as("doc_id"), col("text")))
      .unionByName(all.filter(col("doc_id") >= 405 && col("doc_id") < 410)
        .select((col("doc_id") + 40000).as("doc_id"),
          concat(col("text"), lit(" zq1 zq2 zq3")).as("text")))

  /** Land a replay drop as one parquet file with a PINNED modification
    * time (base + k minutes): the file stream source orders files by
    * mtime, and a sequential-semantics replay (the ingest loop) needs
    * drop k processed strictly before drop k+1 — unlike the
    * order-invariant append/CDC replays, where ties are harmless.
    */
  private def writeOrderedDrop(df: DataFrame, path: String, k: Int): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(path)
    new java.io.File(path).listFiles().foreach { f =>
      // mtime IS the file source's ordering key — a filesystem that
      // rejects the update would reorder the replay silently; fail
      // loudly instead
      require(f.setLastModified(1700000000000L + k * 60000L),
        s"writeOrderedDrop: setLastModified failed for $f")
    }
  }

  private def incDedupBatch(all: DataFrame): DataFrame =
    all.filter(col("doc_id") >= 400).select("doc_id", "text")
      .unionByName(all.filter(col("doc_id") < 10)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .unionByName(all.filter(col("doc_id") >= 10 && col("doc_id") < 20)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" zq1 zq2 zq3")).as("text")))

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

  /** The shared decontamination fixture: train = doc_id < 400, eval =
    * the rest plus 10 planted verbatim train copies (doc_id 10000+).
    */
  private def trainEvalSplit(s: SparkSession, d: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val all = docs(s, d)
    val train = all.filter(col("doc_id") < 400).select("doc_id", "text")
    val eval = all.filter(col("doc_id") >= 400).select("doc_id", "text")
      .unionByName(all.filter(col("doc_id") < 10)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    (train, eval)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational (join / ranking / rollup)
    "join_revenue_by_region" -> ((s, d) => Relational.revenueByRegion(s, d)),
    // FK-health pre-flight: orphans / childless / unknown-customer /
    // duplicate-event-id counts in one summary row
    "ri_audit" -> ((s, d) => Relational.riAudit(s, d)),
    "topk_orders_per_segment" -> ((s, d) => Relational.topOrdersPerSegment(s, d, 3)),
    "orders_rollup" -> ((s, d) => Relational.ordersRollup(s, d)),
    // CUBE + grouping_id (the other grouping-sets shape)
    "orders_cube" -> ((s, d) => Relational.ordersCube(s, d)),
    // percent_rank / cume_dist / decile of customer revenue per nation
    "customer_revenue_rank" -> ((s, d) => Relational.customerRevenueRank(s, d)),
    // market-basket co-occurrence: part pairs shipping together, with
    // support and lift over the distinct (order, part) incidence
    "market_basket" -> ((s, d) => Basket.pairCounts(Tables.lineitem(s, d), 20)),
    // RFM customer scoring (recency/frequency/monetary quintiles)
    "customer_rfm" -> ((s, d) => Relational.customerRfm(s, d)),
    // sweep-line interval aggregate: daily open-order backlog
    "orders_backlog" -> ((s, d) => Relational.openOrdersOverTime(s, d)),
    // the spark.sql TEXT surface: TPC-H Q1 as one engine-neutral SQL
    // string — Spark executes the IDENTICAL text the DuckDB oracle
    // runs, proving the SQL API end of the library, not just the
    // DataFrame end
    "sql_tpch_q1" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(tpchQ1Sql)
    }),
    // Q6/Q3/Q5 through the same engine-neutral TEXT surface: Spark and
    // DuckDB execute the identical string (Catalyst broadcasts the dim
    // sides and pushes the date/segment filters to the scans)
    "sql_tpch_q6" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(tpchQ6Sql)
    }),
    "sql_tpch_q3" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.table(s, d, "customer").createOrReplaceTempView("customer")
      s.sql(tpchQ3Sql)
    }),
    "sql_tpch_q5" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Seq("customer", "supplier", "nation", "region").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ5Sql)
    }),
    // Q18/Q21 through the same engine-neutral TEXT surface — the two
    // classic plan-shape traps (semi-join on a re-aggregated fact;
    // EXISTS + NOT EXISTS against the same fact) the Q1/Q3/Q5/Q6 set
    // doesn't exercise
    "sql_tpch_q18" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.table(s, d, "customer").createOrReplaceTempView("customer")
      s.sql(tpchQ18Sql)
    }),
    "sql_tpch_q21" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Seq("supplier", "nation").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ21Sql)
    }),
    // Q7 (two-nation disjunction over twin dim copies), Q14 (CASE
    // ratio), Q19 (disjunctive-predicate join) — same verbatim-text
    // contract
    "sql_tpch_q7" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Seq("customer", "supplier", "nation").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ7Sql)
    }),
    "sql_tpch_q14" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.table(s, d, "part").createOrReplaceTempView("part")
      s.sql(tpchQ14Sql)
    }),
    // Q4 (EXISTS probe aggregated per priority), Q10 (returned-item
    // lost-revenue top-20) — same verbatim-text contract
    "sql_tpch_q4" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(tpchQ4Sql)
    }),
    "sql_tpch_q10" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Seq("customer", "nation").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ10Sql)
    }),
    "sql_tpch_q19" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.table(s, d, "part").createOrReplaceTempView("part")
      s.sql(tpchQ19Sql)
    }),
    // Q17 (correlated scalar subquery) — the decorrelation trap, same
    // verbatim-text contract
    "sql_tpch_q17" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.table(s, d, "part").createOrReplaceTempView("part")
      s.sql(tpchQ17Sql)
    }),
    // Q22 (uncorrelated scalar-aggregate threshold + NOT EXISTS
    // anti-join) — same verbatim-text contract
    "sql_tpch_q22" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.table(s, d, "customer").createOrReplaceTempView("customer")
      s.sql(tpchQ22Sql)
    }),
    // Q13 (outer join with in-join predicate + double aggregation) and
    // Q15 (twice-referenced revenue view + scalar max) — same contract
    "sql_tpch_q13" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.table(s, d, "customer").createOrReplaceTempView("customer")
      s.sql(tpchQ13Sql)
    }),
    "sql_tpch_q15" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.table(s, d, "supplier").createOrReplaceTempView("supplier")
      s.sql(tpchQ15Sql)
    }),
    // Q20 (nested correlated IN over a correlated scalar aggregate)
    // and Q2 (correlated MIN over a joined dimension chain) — the two
    // deepest decorrelation rungs, same verbatim-text contract
    "sql_tpch_q20" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Seq("part", "supplier", "nation").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ20Sql)
    }),
    "sql_tpch_q2" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Seq("part", "supplier", "nation", "region").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ2Sql)
    }),
    // Q8/Q9 (the two deep join-order shapes), Q11 (grouped share vs
    // global threshold), Q12 (two-bucket conditional count), Q16
    // (COUNT DISTINCT + null-aware NOT IN) — same contract
    "sql_tpch_q8" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Seq("part", "supplier", "customer", "nation", "region").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ8Sql)
    }),
    "sql_tpch_q9" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Seq("part", "supplier", "nation").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ9Sql)
    }),
    "sql_tpch_q11" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Seq("supplier", "nation").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ11Sql)
    }),
    "sql_tpch_q12" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(tpchQ12Sql)
    }),
    "sql_tpch_q16" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Seq("part", "supplier").foreach(t =>
        Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(tpchQ16Sql)
    }),
    // unpivot/melt: OHLC wide → long via stack()
    "stocks_melt" -> ((s, d) =>
      Tables.stocks(s, d)
        .selectExpr("symbol", "date",
          "stack(4, 'open', open, 'high', high, 'low', low, 'close', close) AS (field, value)")
        .orderBy("symbol", "date", "field")),
    // z-order layout audit: Morton-interleave (custkey, order-day),
    // tile into 32 fixed-width z-ranges, report each tile's bounding box
    // in BOTH dimensions — the min/max file-stats pruning story made
    // checkable. Bucket membership is a pure function of z and the
    // broadcast global (min,max) — the scale-safe analogue of
    // repartitionByRange boundaries (see Layout.clusterByZ). The earlier
    // ntile() formulation ranked the whole table through ONE partition
    // (a driver-throughput bottleneck at scale); this shape is one cheap
    // global agg + a map-side bucket expression + the grouped agg.
    "zorder_layout" -> ((s, d) => {
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
    }),

    // ---- dedup family
    "dedup_exact" -> ((s, d) => Dedup.exact(docs(s, d))),
    // fuzzy-exact dedup: case/punct/whitespace variants (15 planted
    // mangled twins, doc_id 30000+) collapse to their originals'
    // fingerprint under text normalization
    "dedup_normalized" -> ((s, d) => {
      val all = docs(s, d)
      val noisy = all.select("doc_id", "text")
        .unionByName(all.filter(col("doc_id") < 15).select(
          (col("doc_id") + 30000).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit(" !!! ")).as("text")))
      Dedup.exactNormalized(noisy)
    }),
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardPairs(docs(s, d), 0.5)),
    // the pair list, the estimator gate, and PageRank consume the
    // identical verified-pair chain → session pair cache (compute once)
    "dedup_minhash_lsh" -> ((s, d) => Dedup.minhashLshPairsCached(docs(s, d), d, 0.5)),
    // MinHash estimator gate: signature-agreement Jaccard estimate vs
    // exact, per confirmed pair
    "dedup_minhash_estimate" -> ((s, d) =>
      Dedup.minhashJaccardEstimate(docs(s, d), 0.5, corpusKey = Some(d))),
    // PageRank over the undirected MinHash similarity graph — 10 fixed
    // iterations, exact-decimal contribution sums
    "graph_pagerank" -> ((s, d) =>
      Graph.pageRank(Dedup.minhashLshPairsCached(docs(s, d), d, 0.5))),
    // triangle counts + local clustering over the same similarity graph
    "graph_triangles" -> ((s, d) =>
      Graph.triangleStats(Dedup.minhashLshPairsCached(docs(s, d), d, 0.5))),
    // edit-distance near-dups: prefix/suffix blocking + levenshtein verify
    "dedup_levenshtein" -> ((s, d) => Dedup.levenshteinPairs(docs(s, d))),
    // Benford first-digit forensics over trade volumes
    "volume_benford" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
      Tables.stocks(s, d)
        .filter(col("volume") > 0)
        .withColumn("digit", substring(col("volume").cast("string"), 1, 1).cast("int"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .withColumn("obs_freq", round(col("n") / sum(col("n")).over(w), 6))
        .withColumn("benford_freq", round(log10(lit(1.0) + lit(1.0) / col("digit")), 6))
        .withColumn("diff", round(col("obs_freq") - col("benford_freq"), 6))
        .orderBy("digit")
    }),
    "dedup_simhash" -> ((s, d) => Dedup.simhash(docs(s, d))),
    // MOSS-style winnowing: ≥2 shared window-min fingerprints → pair
    "dedup_winnow_pairs" -> ((s, d) => Dedup.winnowPairs(docs(s, d), 5, 4, 2)),
    "dedup_simhash_pairs" -> ((s, d) => Dedup.simhashNearDupsCached(docs(s, d), d, 3)),
    // the recall-preserving over-cap mode: sub-split on the other three
    // chunks instead of star-linking, so template clusters emit their
    // complete pair list (Dedup.subSplitBandCandidates)
    "dedup_simhash_pairs_full" ->
      ((s, d) => Dedup.simhashNearDups(docs(s, d), 3, fullRecall = true)),
    // exact repeated-substring spans (Lee et al. 2022 granularity):
    // maximal word runs whose every 8-gram appears in ≥2 distinct docs
    "dedup_substring_spans" -> ((s, d) => Dedup.substringSpans(docs(s, d), 8, 2)),
    // suffix-array longest-repeated-substring (bucketed suffix sort +
    // adjacent LCP): per doc, the longest word-span occurring ≥2 times
    // anywhere in the corpus — catches long verbatim repeats below the
    // shingle-Jaccard radar
    "dedup_suffix_repeats" -> ((s, d) => Dedup.suffixRepeats(docs(s, d), 5, 20, Some(d))),
    // the removal step: duplicated spans scrubbed from every doc, the
    // cleaned corpus emitted (suffix-array dedup end to end)
    "dedup_suffix_scrub" -> ((s, d) => Dedup.suffixScrub(docs(s, d), 5, 20, Some(d))),
    // per-source boilerplate burden: tokens removed / docs touched /
    // docs emptied by the span scrub — the data-mix owner's view
    "dedup_span_by_source" -> ((s, d) => Dedup.suffixScrubStats(docs(s, d), 5, 20, Some(d))),
    // pairs → connected components → keeper per cluster (the step that
    // turns pair lists into an actually-deduplicated corpus)
    "dedup_clusters" -> ((s, d) => {
      // the pair list is the cached artifact dedup_simhash_pairs built —
      // cluster resolution consumes it, it doesn't re-mine it
      val pairs = Dedup.simhashNearDupsCached(docs(s, d), d, 3)
        .select("doc_a", "doc_b")
      Dedup.dedupVerdicts(docs(s, d), pairs)
    }),

    // quality-aware representative: each near-dup cluster keeps its
    // best-quality member instead of the min-doc_id keeper; consumes
    // the same cached pair list as dedup_clusters
    "dedup_keep_best" -> ((s, d) => {
      val pairs = Dedup.simhashNearDupsCached(docs(s, d), d, 3)
        .select("doc_a", "doc_b")
      Dedup.keepBestPerCluster(docs(s, d), pairs)
    }),

    // the end-to-end cleaning verdict: exact-dup keeper + length gate +
    // repetition filter in one pass; the repetition injection (every 7th
    // doc) makes the 'repetitive' reason fire deterministically
    "corpus_clean" -> ((s, d) => {
      val injected = docs(s, d).withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), expr("repeat(' buy now click here', 12)")))
          .otherwise(col("text")))
      Corpus.cleanVerdicts(injected, minWords = 30)
    }),

    // deterministic 5-fold CV assignment + per-(fold, lang) balance
    "cv_folds" -> ((s, d) => Sampling.cvFolds(docs(s, d), 5)),
    // which sources copy from each other: verified near-dup pairs
    // rolled up per unordered source pair (cached pair list)
    "dedup_source_matrix" -> ((s, d) => {
      val pairs = Dedup.minhashLshPairsCached(docs(s, d), d, 0.5)
        .select("doc_a", "doc_b")
      val src = docs(s, d).select("doc_id", "source")
      pairs
        .join(src.select(col("doc_id").as("doc_a"),
          col("source").as("src_x")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"),
          col("source").as("src_y")), "doc_b")
        .select(least(col("src_x"), col("src_y")).as("src_a"),
          greatest(col("src_x"), col("src_y")).as("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
        .orderBy("src_a", "src_b")
    }),

    // the dedup evaluation harness ON the oracle surface: 25 planted
    // mangled twins (every 17th word replaced) → run the production
    // MinHash-LSH path → report its own recall + cross-match count.
    // Partial recall is the honest, deterministic output: banding
    // probability at the twins' ~0.7 Jaccard is below 1 by design.
    "dedup_eval_planted" -> ((s, d) => {
      val all = docs(s, d)
      val mangled = all.filter(col("doc_id") < 25).select(
        (col("doc_id") + 70000).as("doc_id"),
        expr("""concat_ws(' ', transform(split(text, ' '), (w, i) ->
          |  CASE WHEN (i + 1) % 17 = 0
          |       THEN concat('zz', CAST(doc_id AS STRING)) ELSE w END))""".stripMargin)
          .as("text"))
      val aug = all.select("doc_id", "text").unionByName(mangled)
      val found = Dedup.minhashLshPairs(aug, 0.5).select("doc_a", "doc_b")
      val truth = all.filter(col("doc_id") < 25)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 70000).as("doc_b"))
      val hit = truth.join(found, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("n_recalled"))
      val cross = found
        .filter(col("doc_b") >= 70000 && col("doc_b") =!= col("doc_a") + 70000)
        .agg(count(lit(1)).as("n_cross"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(hit)).crossJoin(broadcast(cross))
        .withColumn("recall", round(col("n_recalled") / col("n_truth"), 4))
        .select("n_truth", "n_recalled", "recall", "n_cross")
    }),

    // embedding-quality probe: nearest-centroid label accuracy
    "embed_centroid_accuracy" -> ((s, d) =>
      Similarity.centroidClassify(emb(s, d))),
    // the ANN tuning artifact: recall@3 vs brute force at nprobe
    // 1/2/4 — the curve an operator reads before picking probe count
    "embed_probe_recall_curve" -> ((s, d) => {
      val e = emb(s, d)
      val bf = Similarity.bruteForceTopK(e, 10, 3)
        .select(col("qid"), col("vec_id")).withColumn("hit", lit(1L))
      val runs = Seq(1, 2, 4).map { np =>
        // cached quantizer: ONE training serves all three curve points
        Similarity.ivfMultiProbeTopK(e, 10, 3, 8, 2, np, corpusKey = Some(d))
          .select(lit(np).as("nprobe"), col("qid"), col("vec_id"))
      }.reduce(_ unionByName _)
      runs.join(bf, Seq("qid", "vec_id"), "left")
        .groupBy("nprobe")
        .agg(count(lit(1)).as("n_returned"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .withColumn("recall_at_3", round(col("n_hits") / lit(30.0), 4))
        .orderBy("nprobe")
    }),

    // the SAME recall curve read off the PERSISTED index: build once,
    // serve searchIvfIndex at nprobe 1/2/4 (the serving-time recall
    // knob), score each against brute-force top-3. Shares
    // embed_probe_recall_curve's oracle verbatim — hash-green proves
    // the stored serving path loses nothing vs the in-memory
    // multiprobe at every nprobe. SIDE EFFECT: rewrites the temp
    // index dir per evaluation (idempotent overwrite).
    "embed_stored_recall_curve" -> ((s, d) => {
      val e = emb(s, d)
      val dir = ivfCurveDir
      Sink.writeIvfIndex(e, dir, Sink.Flat, Sink.Cells(8), 2, corpusKey = Some(d))
      val bf = Similarity.bruteForceTopK(e, 10, 3)
        .select(col("qid"), col("vec_id")).withColumn("hit", lit(1L))
      val runs = Seq(1, 2, 4).map { np =>
        Sink.searchIvfIndex(s, e, dir, 10, 3, np)
          .select(lit(np).as("nprobe"), col("qid"), col("vec_id"))
      }.reduce(_ unionByName _)
      runs.join(bf, Seq("qid", "vec_id"), "left")
        .groupBy("nprobe")
        .agg(count(lit(1)).as("n_returned"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .withColumn("recall_at_3", round(col("n_hits") / lit(30.0), 4))
        .orderBy("nprobe")
    }),
    // ANN index observability: IVF cell population balance (imbalance
    // = cell size / mean cell size) off the cached quantizer
    "embed_ivf_cell_stats" -> ((s, d) => {
      val a = Similarity.kmeansAssignCached(emb(s, d), 8, 2, d)
        .select("vec_id", "cell")
      val sizes = a.groupBy("cell").agg(count(lit(1)).as("n_vectors"))
      val tot = sizes.agg(sum("n_vectors").as("n_total"),
        count(lit(1)).as("n_cells"))
      sizes.crossJoin(broadcast(tot))
        .withColumn("share", round(col("n_vectors") / col("n_total"), 4))
        .withColumn("imbalance",
          round(col("n_vectors") * col("n_cells") / col("n_total"), 4))
        .select("cell", "n_vectors", "share", "imbalance")
        .orderBy("cell")
    }),

    // quote detection: 8 planted excerpts (40-word prefix of a corpus
    // doc + novel tail) must surface on CONTAINMENT while their
    // Jaccard stays far below near-dup thresholds
    "dedup_containment" -> ((s, d) => {
      val all = docs(s, d)
      val quotes = all.filter(col("doc_id") < 8).select(
        (col("doc_id") + 60000).as("doc_id"),
        concat(expr("concat_ws(' ', slice(split(text, ' '), 1, 40))"),
          lit(" quoted commentary chunk "), col("doc_id")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      // corpusKey includes the fixture tag: the augmented corpus
      // (docs + planted quotes) is its own cache tenant
      Dedup.containmentPairs(all.unionByName(quotes), 8, 0.5,
        corpusKey = Some(d + "#quotes"))
    }),

    // the end-to-end training manifest: cleaning verdicts + near-dup
    // keeper decisions folded into one per-doc include/exclude row —
    // the materialized artifact a training run actually consumes
    "corpus_manifest" -> ((s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.simhashNearDupsCached(dd, d, 3)
        .select("doc_a", "doc_b")
      Corpus.manifest(dd, pairs, minWords = 30)
    }),
    // the manifest with the suffix-span scrub chained in: one row per
    // doc with include/exclude + merged reasons (span_scrubbed when
    // the scrub touched it) + the cleaned text — the complete
    // artifact a training run ships; shares the cached simhash pairs
    // AND the cached mined suffix hits
    "corpus_manifest_scrubbed" -> ((s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.simhashNearDupsCached(dd, d, 3)
        .select("doc_a", "doc_b")
      Corpus.manifestScrubbed(dd, pairs, minWords = 30, corpusKey = Some(d))
    }),
    // the staged funnel over the same chains: first-drop attribution
    // per stage (too_short → repetitive → exact_dup → near_dup →
    // low_quality), quality threshold calibrated on the survivors
    "corpus_funnel" -> ((s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.simhashNearDupsCached(dd, d, 3)
        .select("doc_a", "doc_b")
      Corpus.funnel(dd, pairs, minWords = 30, p = 0.7)
    }),
    // the funnel with the embedding-space stage spliced in: the text
    // survivors' embeddings run semantic near-dup (semdedup at FIXED
    // cell size 64 — cells = ceil(N_survivors/64), the linear-at-scale
    // layout; cos >= 0.4 on this corpus — testdata has no planted
    // twins, so the stage bites on natural within-cell similarity),
    // and only the semantic keepers feed the quality calibration
    "corpus_funnel_embed" -> ((s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.simhashNearDupsCached(dd, d, 3)
        .select("doc_a", "doc_b")
      // flat rung pinned — the survivor-semdedup oracle models only the
      // flat geometry (two-level routing starts at >4096 survivors; see
      // embed_semdedup_sized's comment)
      Corpus.funnelEmbed(dd, pairs, emb(s, d), minWords = 30, p = 0.7,
        tau = 0.4, corpusKey = Some(d), maxFlatCells = Int.MaxValue)
    }),
    // the curated corpus LABELED: funnelEmbed's semantic keepers get
    // c-TF-IDF topic labels per cell — the two round-14 pieces
    // composed (funnel semantic cells × cluster_topics), sharing the
    // pooled survivor frame and cached quantizer with
    // corpus_funnel_embed
    "corpus_funnel_topics" -> ((s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.simhashNearDupsCached(dd, d, 3)
        .select("doc_a", "doc_b")
      // flat rung pinned to match funnelEmbed's shared cached quantizer
      Corpus.funnelTopics(dd, pairs, emb(s, d), minWords = 30, tau = 0.4,
        corpusKey = Some(d), maxFlatCells = Int.MaxValue)
    }),
    // the one-row health report over the same chains (cached — one
    // extra aggregate): include rate, per-reason counts, scrub burden
    "corpus_report" -> ((s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.simhashNearDupsCached(dd, d, 3)
        .select("doc_a", "doc_b")
      Corpus.report(dd, pairs, minWords = 30, corpusKey = Some(d))
    }),

    // n-gram decontamination: train = doc_id < 400, eval = the rest
    // plus 10 planted copies of train docs (vec 10000+) that must flag
    // at ratio 1.0
    "contamination_check" -> ((s, d) => {
      val (train, eval) = trainEvalSplit(s, d)
      Dedup.contamination(train, eval, 8)
    }),
    // the 100 TB shape of the same check: eval grams build a driver-side
    // bloom filter, the train side is probed inside its narrow scan, the
    // exact semi-join removes false positives — output row-identical to
    // contamination_check, proven by sharing its oracle SQL
    "contamination_bloom" -> ((s, d) => {
      val (train, eval) = trainEvalSplit(s, d)
      Dedup.contaminationBloom(train, eval, 8)
    }),

    // GPT-style sequence packing: concatenate docs in doc_id order, cut
    // fixed 2048-token packs; chunked two-phase prefix sum (chunk = 100
    // ids) so the total-order cumsum never runs on one partition
    "pack_sequences" -> ((s, d) =>
      Packing.packSequences(docs(s, d),
        size(split(col("text"), " ")).cast("long"), 2048L, chunkSize = 100L)),

    // ---- deterministic sampling / splits (content-hash keyed)
    "sample_split" -> ((s, d) =>
      Sampling.withSplit(docs(s, d).select("doc_id", "text"), col("text"), 90, 5)
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id")),
    // deterministic global shuffle into 16 trainer shards: content-hash
    // shard + hash-order position — a reproducible global permutation
    // with no RNG (the "shuffle the corpus once" training stage)
    "shuffle_shards" -> ((s, d) =>
      Sampling.shuffleShards(docs(s, d).select("doc_id", "text"),
          col("text"), col("doc_id"), 16)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")),
    "lang_quota" -> ((s, d) => {
      val scored = TextOps.qualityScore(docs(s, d)).select("doc_id", "quality_score")
      val j = docs(s, d).select("doc_id", "lang").join(scored, "doc_id")
      Sampling.quotaPerGroup(j, col("lang"), col("quality_score"), col("doc_id"), 20)
        .select("doc_id", "lang", "quality_score", "rn")
        .orderBy("lang", "rn")
    }),
    // data-mixing: per language, best-quality docs first until a 5k
    // token budget — the budget-crossing doc is kept (loader truncates)
    "lang_token_budget" -> ((s, d) => {
      val scored = TextOps.qualityScore(docs(s, d)).select("doc_id", "quality_score")
      val base = docs(s, d).select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("tokens"))
        .join(scored, "doc_id")
      Sampling.tokenBudgetPerGroup(base, col("lang"), col("quality_score"),
          col("doc_id"), col("tokens"), 5000L)
        .select("doc_id", "lang", "quality_score", "tokens", "cum_tokens")
        .orderBy("lang", "doc_id")
    }),

    // ---- similarity search
    "embed_cosine_topk" -> ((s, d) => Similarity.bruteForceTopK(emb(s, d), 10, 5)),
    // hard-negative mining: top-5 most-similar DIFFERENT-label vectors
    // per query — the contrastive-training data op
    "embed_hard_negatives" -> ((s, d) => Similarity.hardNegatives(emb(s, d), 10, 5)),
    // principal direction by two in-plan power-iteration steps over the
    // centered scatter matrix (one outer-product hash aggregate)
    "embed_pca_power" -> ((s, d) => Similarity.pcaPowerTop(emb(s, d))),
    // all-but-the-top post-processing: center + remove the dominant
    // direction per vector; pre/post norms + removed energy fraction
    "embed_abtt" -> ((s, d) => Similarity.abttPostProcess(emb(s, d))),
    "embed_topk_bucketed" -> ((s, d) => Similarity.bucketedTopK(emb(s, d), 10, 3)),
    // real IVF: deterministic Lloyd's k-means coarse quantizer (fixed
    // init from the first k vec_ids, 2 rounds, rounded distances) and
    // cell-restricted search. Both go through the per-session trained-
    // quantizer cache keyed by the table dir — train once, search many.
    "embed_kmeans_cells" -> ((s, d) =>
      Similarity.kmeansAssignCached(emb(s, d), 8, 2, d).orderBy("vec_id")),
    "embed_ivf_topk" -> ((s, d) =>
      Similarity.ivfTopK(emb(s, d), 10, 3, 8, 2, corpusKey = Some(d))),
    // multi-probe IVF: each query searches its 2 nearest cells — the
    // recall knob; `pn` attributes each hit to its probe
    "embed_ivf_multiprobe" -> ((s, d) =>
      Similarity.ivfMultiProbeTopK(emb(s, d), 10, 3, 8, 2, 2, corpusKey = Some(d))),
    // the SAMPLED-trainer regime, verified at a cap that BITES (64 of
    // the 500 verify-scale vectors): Lloyd's trains on the
    // content-hash sample, the full corpus assigns ONCE against the
    // trained centroids — the production path every index build runs
    // above the 65536-row default cap (training cost stops scaling
    // with the corpus; the ×100 probe: 167 s full → sampled is flat).
    // The oracle mirrors the hash filter, the lowest-k-of-sample init,
    // and both unrolled rounds. The two queries share one cached
    // training (same corpusKey, same sampleRows key component).
    "embed_kmeans_sampled" -> ((s, d) =>
      Similarity.kmeansAssignCached(emb(s, d), 8, 2, d, sampleRows = 64)
        .orderBy("vec_id")),
    "embed_ivf_sampled_topk" -> ((s, d) =>
      Similarity.ivfTopK(emb(s, d), 10, 3, 8, 2, corpusKey = Some(d),
        sampleRows = 64)),
    // the sampled trainer's acceptance gate: recall@3 of the
    // sampled-trained IVF against the brute-force ground truth — the
    // number that says how much recall the capped training gave up
    "embed_sampled_recall" -> ((s, d) => {
      val bf = Similarity.bruteForceTopK(emb(s, d), 10, 3)
        .select(col("qid"), col("vec_id"))
      val iv = Similarity.ivfTopK(emb(s, d), 10, 3, 8, 2,
          corpusKey = Some(d), sampleRows = 64)
        .select(col("qid"), col("vec_id")).withColumn("__hit", lit(1))
      bf.join(iv, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("hits"))
        .withColumn("recall_at_3", round(col("hits") / lit(3.0), 4))
        .orderBy("qid")
    }),
    // incremental index maintenance: train+store on the first 400
    // vectors, fold the rest in with the STORED centroids (no
    // retrain), then serve the union from disk — the production
    // append path, end-to-end through the persisted layout.
    // SIDE EFFECT: rewrites the temp index dir per evaluation
    // (overwrite-then-append, so re-runs are idempotent).
    "embed_ivf_append_search" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfAppendDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Flat, Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      Sink.appendToIvfIndex(all.filter(col("vec_id") >= 400), dir)
      Sink.searchIvfIndex(s, all, dir, 10, 3)
    }),
    // the DELETE stage of the index lifecycle: tombstoned ids vanish
    // from serving immediately (broadcast anti-join over the id-only
    // tombstone table — a delete never touches the corpus-sized
    // assignment) and the next whole-index rewrite purges them
    // physically. Deleted ids STILL QUERY (the query side is the
    // caller's frame, not the index): qid 3 is tombstoned here and
    // keeps its result rows while never appearing as a neighbor.
    // SIDE EFFECT: rewrites the temp index dir per evaluation.
    "embed_ivf_delete_search" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfDeleteDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Flat, Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      Sink.appendToIvfIndex(all.filter(col("vec_id") >= 400), dir)
      Sink.deleteFromIvfIndex(s, dir,
        all.filter(pmod(col("vec_id"), lit(17L)) === 3).select("vec_id"))
      Sink.searchIvfIndex(s, all, dir, 10, 3)
    }),
    // the FAISS-style stored IVF-PQ index: coarse cells partition the
    // layout, PQ codes + raw vectors co-locate in the cell files, and
    // the two serving tiers are two COLUMN PROJECTIONS of the probed
    // partitions — ADC candidates read only the codes ints, the exact
    // rerank decodes embeddings for candidates alone. SIDE EFFECT:
    // rewrites the temp index dir per evaluation (idempotent).
    "embed_ivfpq_stored_search" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfPqDir
      Sink.writeIvfIndex(all, dir, Sink.Pq(4, 16, 8), Sink.Cells(8), 2, corpusKey = Some(d))
      Sink.searchIvfPqIndex(s, all, dir, 10, 3, 10)
    }),
    // incremental maintenance of the compressed tier: train+store the
    // IVF-PQ index on the first 400 vectors, fold the rest in against
    // the STORED centroids AND codebooks (no retrain anywhere), serve
    // the union — the appendToIvfIndex contract extended to PQ codes.
    // SIDE EFFECT: rewrites the temp index dir per evaluation.
    "embed_ivfpq_append_search" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfPqAppendDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Pq(4, 16, 8), Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      Sink.appendToIvfIndex(all.filter(col("vec_id") >= 400), dir)
      Sink.searchIvfPqIndex(s, all, dir, 10, 3, 10)
    }),
    // the delete stage on the COMPRESSED tier: tombstoned ids are
    // masked before ADC candidate ranking (the anti-join sits on the
    // shared assignment scan both serving stages project from), so a
    // dead id can neither serve nor displace a live candidate from the
    // top-`cand` rerank set. SIDE EFFECT: rewrites the temp index dir
    // per evaluation (idempotent — a fresh write clears tombstones).
    "embed_ivfpq_delete_search" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfPqDeleteDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Pq(4, 16, 8), Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      Sink.appendToIvfIndex(all.filter(col("vec_id") >= 400), dir)
      Sink.deleteFromIvfIndex(s, dir,
        all.filter(pmod(col("vec_id"), lit(17L)) === 3).select("vec_id"))
      Sink.searchIvfPqIndex(s, all, dir, 10, 3, 10)
    }),
    // code-level drift pre-flight for the compressed tier: per
    // (subspace, code), stored vs incoming populations (incoming
    // encoded with the STORED codebooks), smoothed per-subspace PSI,
    // retrain verdict — catches subvector shift the coarse-cell PSI
    // can't see
    "embed_ivfpq_code_drift" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfPqDriftDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Pq(4, 16, 8), Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      Sink.ivfPqCodeDrift(s, all.filter(col("vec_id") >= 400), dir, 4, 16)
    }),
    // drop-at-a-time ingestion into the COMPRESSED tier: three
    // micro-batches fold through appendToIvfIndex (frozen centroids
    // + codebooks). Shares embed_ivfpq_append_search's oracle
    // verbatim — hash-green proves streamed ingestion ≡ one-shot
    // append (codes, like cells, are order-invariant against frozen
    // artifacts). SIDE EFFECT: temp dirs.
    "stream_ivfpq_append_replay" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfPqStreamDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400),
        s"$dir/index", Sink.Pq(4, 16, 8), Sink.Cells(8), 2, corpusKey = Some(d + "#pqbase400"))
      val batch = all.filter(col("vec_id") >= 400)
      Seq(("a", 0), ("b", 1), ("c", 2)).foreach { case (tag, r) =>
        batch.filter(pmod(col("vec_id"), lit(3)) === r)
          .select("vec_id", "embedding").coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/drops/drop=$tag")
      }
      graft.streaming.IvfStream.runAppendReplay(
        s, s"$dir/drops/drop=*", s"$dir/index", s"$dir/ckpt")
      Sink.searchIvfPqIndex(s, all, s"$dir/index", 10, 3, 10)
    }),
    // drift-AWARE maintained PQ ingestion — the compressed tier's
    // control loop: per drop, manifest-geometry maintain decision
    // (coarse + code PSI tripwires), logged; undrifted drops ≡
    // one-shot PQ append (oracle shared verbatim), including across
    // the mid-stream cadence compaction. SIDE EFFECT: temp dirs.
    "stream_ivfpq_maintain_replay" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfPqMaintainStreamDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400),
        s"$dir/index", Sink.Pq(4, 16, 8), Sink.Cells(8), 2, corpusKey = Some(d + "#pqbase400"))
      val batch = all.filter(col("vec_id") >= 400)
      Seq(("a", 0), ("b", 1), ("c", 2)).foreach { case (tag, r) =>
        batch.filter(pmod(col("vec_id"), lit(3)) === r)
          .select("vec_id", "embedding").coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/drops/drop=$tag")
      }
      graft.streaming.IvfStream.deleteRecursively(s"$dir/log")
      // default threshold holds on ~33-vector drops BECAUSE the
      // verdict is null-calibrated: the +1-smoothed per-subspace PSI
      // reads ≈ (k−1)(1/t_new + 1/t_stored) ≈ 0.23 on an undrifted
      // drop this size, which the raw 0.25 rule mistook for drift
      // (this query originally needed a hand-raised threshold — the
      // calibration removed the hack). Retrain path: IvfAppendSpec.
      graft.streaming.IvfStream.runMaintainReplay(
        s, s"$dir/drops/drop=*", s"$dir/index", s"$dir/ckpt", s"$dir/log")
      Sink.searchIvfPqIndex(s, all, s"$dir/index", 10, 3, 10)
    }),
    // the int8 tier's maintained ingestion end-to-end: three balanced
    // drops stream through runMaintainReplay — each micro-batch
    // takes the full maintain decision (coarse PSI pre-flight → append;
    // compaction on the file cadence; no code-PSI term because the
    // per-vector max-abs scheme has no codebook to drift) — then the
    // index serves. Oracle = the SQ8 search tree over base-400-trained
    // centroids: undrifted maintained ingestion ≡ one-shot SQ8 append.
    // SIDE EFFECT: temp dirs.
    "stream_ivfsq8_maintain_replay" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfSq8MaintainStreamDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), s"$dir/index",
        Sink.Sq8, Sink.Cells(8), 2, corpusKey = Some(d + "#pqbase400"))
      val batch = all.filter(col("vec_id") >= 400)
      Seq(("a", 0), ("b", 1), ("c", 2)).foreach { case (tag, r) =>
        batch.filter(pmod(col("vec_id"), lit(3)) === r)
          .select("vec_id", "embedding").coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/drops/drop=$tag")
      }
      graft.streaming.IvfStream.deleteRecursively(s"$dir/log")
      graft.streaming.IvfStream.runMaintainReplay(
        s, s"$dir/drops/drop=*", s"$dir/index", s"$dir/ckpt", s"$dir/log")
      Sink.searchIvfSq8Index(s, all, s"$dir/index", 10, 3, nprobe = 2)
    }),
    // the sized-layout twin of the replay above — the PRODUCTION
    // geometry (cells = ceil(400/64) = 7, target_cell_size in the
    // manifest) under the PRODUCTION control loop (Structured
    // Streaming maintain decisions per drop). No drop drifts, so the
    // served set equals a one-shot append against the frozen sized
    // centroids; a drop that DID drift would retrain re-sized
    // (spec-driven, SinkSpec). The oracle derives k from the base
    // count. SIDE EFFECT: temp dirs.
    "stream_ivfsq8_maintain_sized_replay" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfSq8MaintainSizedStreamDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400),
        s"$dir/index", Sink.Sq8, Sink.CellSize(64), iters = 2,
        corpusKey = Some(d + "#sq8sized400"))
      val batch = all.filter(col("vec_id") >= 400)
      Seq(("a", 0), ("b", 1), ("c", 2)).foreach { case (tag, r) =>
        batch.filter(pmod(col("vec_id"), lit(3)) === r)
          .select("vec_id", "embedding").coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/drops/drop=$tag")
      }
      graft.streaming.IvfStream.deleteRecursively(s"$dir/log")
      graft.streaming.IvfStream.runMaintainReplay(
        s, s"$dir/drops/drop=*", s"$dir/index", s"$dir/ckpt", s"$dir/log")
      Sink.searchIvfSq8Index(s, all, s"$dir/index", 10, 3, nprobe = 2)
    }),
    // the pre-flight for the append: per-cell stored vs incoming
    // populations (incoming assigned with the stored centroids), the
    // smoothed PSI between the two share distributions, and the
    // retrain_due verdict
    "embed_ivf_append_drift" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfDriftDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Flat, Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      Sink.ivfAppendDrift(s, all.filter(col("vec_id") >= 400), dir)
    }),
    // the COMPOSED maintenance operator, append branch: the natural
    // >=400 batch drifts only mildly (PSI ≈ 0.065 < 0.25), so
    // maintainIvfIndex appends against the frozen centroids and logs
    // the decision. The file-count columns stay out of the oracle
    // surface (not SQL-derivable); SinkSpec covers them plus the
    // compaction cadence. SIDE EFFECT: temp index dir.
    "ivf_maintain_append" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfMaintainAppendDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Flat, Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      Sink.maintainIvfIndex(s, all.filter(col("vec_id") >= 400), dir)
        .select("action", "psi", "retrain_due", "n_stored_before",
          "n_batch", "n_after", "compacted")
    }),
    // retrain branch: the batch is a deterministic SKEWED subset — only
    // vectors whose stored-centroid assignment lands in cells 0-3 (the
    // oracle mirrors the same subset off its a2) — PSI ≈ 1.10 crosses
    // the threshold, so maintainIvfIndex retrains on stored ∪ batch via
    // the sibling-tree swap and logs 'retrain'. SIDE EFFECT: temp dirs.
    "ivf_maintain_retrain" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfMaintainRetrainDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Flat, Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      val cent = Sink.loadIvfCentroids(s, dir)
      val batch = Similarity.assignWithCentroids(
          all.filter(col("vec_id") >= 400), cent)
        .filter(col("cell") < 4).select("vec_id")
        .join(all, "vec_id").select("vec_id", "embedding")
      Sink.maintainIvfIndex(s, batch, dir)
        .select("action", "psi", "retrain_due", "n_stored_before",
          "n_batch", "n_after", "compacted")
    }),
    // the maintain lifecycle on the PRODUCTION (fixed-cell-SIZE)
    // layout: the int8 base index is built by writeIvfIndex(Sq8, CellSize(64)) at
    // target size 64 — cells = ceil(400/64) = 7, and the manifest
    // carries cells AND target_cell_size — then the natural >=400
    // batch takes the full maintain decision against the sized
    // geometry (PSI under the null-calibrated threshold → append).
    // The sized-retrain branch (cells re-derived from the union, the
    // fixed-size invariant surviving growth) is spec-driven
    // (SinkSpec). SIDE EFFECT: temp index dir.
    "ivfsq8_maintain_append_sized" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfSq8MaintainSizedDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir,
        Sink.Sq8, Sink.CellSize(64), iters = 2,
        corpusKey = Some(d + "#sq8sized400"))
      Sink.maintainIvfIndex(s, all.filter(col("vec_id") >= 400), dir)
        .select("action", "psi", "retrain_due", "n_stored_before",
          "n_batch", "n_after", "compacted")
    }),
    // the sized maintain contract on the FLOAT tier — the same
    // resize-on-retrain branch lives in all three maintain paths
    // (round 16 oracle-checked only SQ8); the decision arithmetic is
    // tier-independent (the payload encoding never enters it), so the
    // oracle is the SQ8 sized one's chain verbatim: k derived from the
    // base count as ceil(N_base/64). SIDE EFFECT: temp index dir.
    "ivf_maintain_append_sized" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfMaintainSizedDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir,
        Sink.Flat, Sink.CellSize(64), iters = 2,
        corpusKey = Some(d + "#ivfsized400"))
      Sink.maintainIvfIndex(s, all.filter(col("vec_id") >= 400), dir)
        .select("action", "psi", "retrain_due", "n_stored_before",
          "n_batch", "n_after", "compacted")
    }),
    // and on the COMPRESSED tier: the sized geometry applies to the
    // coarse quantizer only (the PQ codebook is subspace-shaped, not
    // corpus-shaped — the Pq codec contract), so the oracle
    // is maintainPqLogOracle with the coarse k derived from the base
    // count while the per-subspace code chains keep their fixture
    // geometry. SIDE EFFECT: temp index dir.
    "ivfpq_maintain_append_sized" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfPqMaintainSizedDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir,
        Sink.Pq(4, 16, 8), Sink.CellSize(64), iters = 2,
        corpusKey = Some(d + "#pqsized400"))
      Sink.maintainIvfIndex(s, all.filter(col("vec_id") >= 400), dir)
        .select("action", "psi_coarse", "psi_code_max", "retrain_due",
          "n_stored_before", "n_batch", "n_after", "compacted")
    }),
    // the production control loop end-to-end: three balanced drops
    // stream through runMaintainReplay — each micro-batch takes the
    // FULL maintain decision (PSI pre-flight → append; compaction when
    // the file cadence hits) and logs it — then the index serves.
    // Shares embed_ivf_append_search's oracle VERBATIM: when no drop
    // drifts, drift-aware maintained ingestion ≡ one-shot append (and
    // the mid-stream compaction provably changed nothing). The
    // retrain-mid-stream path is spec-driven (IvfAppendSpec).
    // SIDE EFFECT: temp dirs.
    "stream_ivf_maintain_replay" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfMaintainStreamDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), s"$dir/index",
        Sink.Flat, Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      val batch = all.filter(col("vec_id") >= 400)
      Seq(("a", 0), ("b", 1), ("c", 2)).foreach { case (tag, r) =>
        batch.filter(pmod(col("vec_id"), lit(3)) === r)
          .select("vec_id", "embedding").coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/drops/drop=$tag")
      }
      // fresh decision log per evaluation (append-only during a replay)
      graft.streaming.IvfStream.deleteRecursively(s"$dir/log")
      graft.streaming.IvfStream.runMaintainReplay(
        s, s"$dir/drops/drop=*", s"$dir/index", s"$dir/ckpt", s"$dir/log")
      Sink.searchIvfIndex(s, all, s"$dir/index", 10, 3)
    }),
    // the compressed tier's composed maintenance: geometry comes wholly
    // from the index manifest, and BOTH tripwires gate the branch —
    // coarse cell PSI and per-subspace code PSI (either crossing
    // retrains). Natural batch: coarse 0.065 / code-max 0.126, both
    // under threshold → append. SIDE EFFECT: temp index dir.
    "ivfpq_maintain_append" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfPqMaintainAppendDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Pq(4, 16, 8), Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      Sink.maintainIvfIndex(s, all.filter(col("vec_id") >= 400), dir)
        .select("action", "psi_coarse", "psi_code_max", "retrain_due",
          "n_stored_before", "n_batch", "n_after", "compacted")
    }),
    // retrain branch: the coarse-skewed cells 0-3 subset crosses BOTH
    // tripwires (coarse 1.104, code-max 0.253) → retrain of both tiers
    // on stored ∪ batch via the sibling-tree swap. SIDE EFFECT: temp
    // dirs.
    "ivfpq_maintain_retrain" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfPqMaintainRetrainDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Pq(4, 16, 8), Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      val cent = Sink.loadIvfCentroids(s, dir)
      val batch = Similarity.assignWithCentroids(
          all.filter(col("vec_id") >= 400), cent)
        .filter(col("cell") < 4).select("vec_id")
        .join(all, "vec_id").select("vec_id", "embedding")
      Sink.maintainIvfIndex(s, batch, dir)
        .select("action", "psi_coarse", "psi_code_max", "retrain_due",
          "n_stored_before", "n_batch", "n_after", "compacted")
    }),
    // streaming index maintenance: the batch arrives as three drops;
    // each micro-batch folds into the stored index through the SAME
    // append path (foreachBatch → appendToIvfIndex, stored centroids,
    // no retrain). Shares embed_ivf_append_search's oracle verbatim —
    // hash-green proves drop-at-a-time ingestion ≡ one-shot append
    // (assignment depends only on the frozen centroids, so appends
    // are an order-invariant set union). SIDE EFFECT: temp dirs.
    "stream_ivf_append_replay" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfStreamDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), s"$dir/index",
        Sink.Flat, Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      val batch = all.filter(col("vec_id") >= 400)
      Seq(("a", 0), ("b", 1), ("c", 2)).foreach { case (tag, r) =>
        batch.filter(pmod(col("vec_id"), lit(3)) === r)
          .select("vec_id", "embedding").coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/drops/drop=$tag")
      }
      graft.streaming.IvfStream.runAppendReplay(
        s, s"$dir/drops/drop=*", s"$dir/index", s"$dir/ckpt")
      Sink.searchIvfIndex(s, all, s"$dir/index", 10, 3)
    }),
    // CDC-shaped streaming ingestion: adds AND deletes arrive through
    // ONE drop stream, each micro-batch appending its adds against the
    // frozen centroids and tombstoning its delete ids. No id is
    // re-added after its delete here, so the replay is order-invariant
    // and the final served set equals the one-shot path — shares
    // embed_ivf_delete_search's oracle VERBATIM. SIDE EFFECT: rewrites
    // the temp index dir per evaluation (idempotent — a fresh index
    // write clears the previous evaluation's tombstones).
    "stream_ivf_delete_replay" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfCdcDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), s"$dir/index",
        Sink.Flat, Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      val adds = all.filter(col("vec_id") >= 400)
        .select(col("vec_id"), col("embedding"), lit("add").as("op"))
      Seq(("a", 0), ("b", 1)).foreach { case (tag, r) =>
        adds.filter(pmod(col("vec_id"), lit(2)) === r).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/drops/drop=$tag")
      }
      all.filter(pmod(col("vec_id"), lit(17L)) === 3)
        .select(col("vec_id"),
          lit(null).cast("array<float>").as("embedding"),
          lit("delete").as("op"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/drops/drop=del")
      graft.streaming.IvfStream.runCdcReplay(
        s, s"$dir/drops/drop=*", s"$dir/index", s"$dir/ckpt")
      Sink.searchIvfIndex(s, all, s"$dir/index", 10, 3)
    }),
    "embed_quantize" -> ((s, d) => Similarity.quantizeInt8(emb(s, d))),
    // SQ8 serving tier: quantized-cosine top-k over int8 codes (exact
    // integer inner sums, one IEEE division), and its recall gate vs
    // the exact-cosine ground truth
    "embed_sq8_topk" -> ((s, d) => Similarity.sq8TopK(emb(s, d))),
    "embed_sq8_recall" -> ((s, d) => Similarity.sq8Recall(emb(s, d))),
    // SQ8 shortlist + exact float rerank: int8 proposes, full precision
    // answers — the two-stage shape every compressed tier ends in
    "embed_sq8_rerank" -> ((s, d) => Similarity.sq8RerankTopK(emb(s, d))),
    // the composed tier: IVF coarse pruning x SQ8 int8 scoring
    // (nprobe buys recall, SQ8 cuts scanned bytes) — cached training
    "embed_ivf_sq8_topk" -> ((s, d) =>
      Similarity.ivfSq8TopK(emb(s, d), 10, 3, 8, 2, 2, corpusKey = Some(d))),
    // the SQ8 tier PERSISTED: write the int8 layout (codes + norms +
    // co-located embeddings, one file per cell) and serve the probed
    // cells' (vec_id, q, n2) projection — result-identical to the
    // in-memory composed tier at the same nprobe, so it shares
    // embed_ivf_sq8_topk's oracle VERBATIM. SIDE EFFECT: rewrites the
    // temp index dir per evaluation (idempotent).
    "embed_ivf_sq8_stored_search" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfSq8Dir
      Sink.writeIvfIndex(all, dir, Sink.Sq8, Sink.Cells(8), 2, corpusKey = Some(d))
      Sink.searchIvfSq8Index(s, all, dir, 10, 3, nprobe = 2)
    }),
    // the SQ8 layout at a FIXED CELL SIZE (cells = ceil(N/64) — the
    // production geometry rule: per-cell population pinned by the knob,
    // cells grow with the corpus): the sized build + probed-subdir
    // serving. The oracle derives the cell count from the corpus count
    // exactly as Sink.sizedCells does, then runs the shared Lloyd's +
    // int8 scoring tree.
    "embed_ivfsq8_sized_search" -> ((s, d) => {
      val all = emb(s, d)
      val dir = ivfSq8SizedDir
      Sink.writeIvfIndex(all, dir, Sink.Sq8, Sink.CellSize(64), iters = 2,
        corpusKey = Some(d))
      Sink.searchIvfSq8Index(s, all, dir, 10, 3, nprobe = 2)
    }),
    // diversity-preserving downsampling: cap every k-means cell at 10
    // vectors picked by content-keyed md5 order (trained quantizer
    // shared through the session cache)
    "sample_cluster_balanced" -> ((s, d) =>
      Similarity.clusterBalancedSample(emb(s, d), 8, 2, 10, corpusKey = Some(d))),
    // the trainer-free composition: the same diversity-capped sampling
    // over FEATURE-HASHED doc vectors (densified hashing-trick
    // histograms) — cluster-balanced capping for a corpus with no
    // trained encoder at all
    "sample_cluster_hashed" -> ((s, d) =>
      Similarity.clusterBalancedSample(
        TextOps.hashedDenseVectors(docs(s, d)), 8, 2, 10,
        corpusKey = Some(d + "#hashed-dense"))),
    // c-TF-IDF topic labels per embedding cluster (BERTopic's
    // class-based tf-idf): what each k-means cell is ABOUT — the
    // readable readout over every cluster-shaped operator (semdedup
    // cells, balanced sampling, IVF cells); trained quantizer shared
    // through the session cache
    "cluster_topics" -> ((s, d) =>
      Corpus.clusterTopics(docs(s, d), emb(s, d), 8, 2, 5,
        corpusKey = Some(d))),
    // embedding QA before indexing: NaN/Inf counts, zero vectors,
    // MAD-rule magnitude outliers (median-based — robust to a batch of
    // broken near-zero vectors)
    "embed_norm_quality" -> ((s, d) => Similarity.normQuality(emb(s, d))),
    // 1-bit sign signatures + Hamming top-k (codegen'd HammingDistance)
    "embed_binary_topk" -> ((s, d) => Similarity.binaryTopK(emb(s, d))),
    // per-label mean-pooled centroids, long format (label, dim, mean)
    "embed_label_centroids" -> ((s, d) => Similarity.groupCentroids(emb(s, d))),
    // the ANN quality gate: recall@3 of the IVF search against the
    // brute-force ground truth, per query — the measurement that
    // decides whether a cell count / nprobe setting is shippable
    "embed_ivf_recall" -> ((s, d) => {
      val bf = Similarity.bruteForceTopK(emb(s, d), 10, 3)
        .select(col("qid"), col("vec_id"))
      val iv = Similarity.ivfTopK(emb(s, d), 10, 3, 8, 2, corpusKey = Some(d))
        .select(col("qid"), col("vec_id")).withColumn("__hit", lit(1))
      bf.join(iv, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("hits"))
        .withColumn("recall_at_3", round(col("hits") / lit(3.0), 4))
        .orderBy("qid")
    }),
    // product quantization (Jégou et al. 2011): 4 subspaces × 16 dims,
    // 8 codes each via the same deterministic Lloyd's as the IVF
    // quantizer; the ADC search joins int codes against a broadcast
    // per-query lookup table — embeddings never shuffle
    "embed_pq_codes" -> ((s, d) =>
      Similarity.pqCodes(emb(s, d), 4, 16, 8, 2, corpusKey = Some(d + "#pq"))),
    "embed_pq_topk" -> ((s, d) =>
      Similarity.pqAdcTopK(emb(s, d), 10, 3, 4, 16, 8, 2, corpusKey = Some(d + "#pq"))),
    // the PQ quality gate: recall@3 of the ADC search against the
    // exact squared-L2 ground truth. The synthetic gaussian corpus is
    // PQ's worst case (no cluster structure, so quantization error
    // swamps the tiny neighbor gaps): ~0.2 here across m/k settings —
    // the gate exists to MEASURE that honestly, as with embed_ivf_recall
    "embed_pq_recall" -> ((s, d) => {
      val bf = Similarity.l2TopK(emb(s, d), 10, 3).select(col("qid"), col("vec_id"))
      val pq = Similarity.pqAdcTopK(emb(s, d), 10, 3, 4, 16, 8, 2,
          corpusKey = Some(d + "#pq"))
        .select(col("qid"), col("vec_id")).withColumn("__hit", lit(1))
      bf.join(pq, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("hits"))
        .withColumn("recall_at_3", round(col("hits") / lit(3.0), 4))
        .orderBy("qid")
    }),
    // two-stage retrieval: PQ candidates re-ranked by exact cosine
    "embed_pq_rerank" -> ((s, d) =>
      Similarity.pqRerankTopK(emb(s, d), 10, 3, 10, 4, 16, 8, 2,
        corpusKey = Some(d + "#pq"))),
    // Matryoshka truncated-prefix retrieval (first 16 of 64 dims) and
    // its recall gate against the full-dimension ground truth
    "embed_mrl_topk" -> ((s, d) => Similarity.prefixTopK(emb(s, d), 10, 3, 16)),
    "embed_mrl_recall" -> ((s, d) => {
      val full = Similarity.bruteForceTopK(emb(s, d), 10, 3)
        .select(col("qid"), col("vec_id"))
      val pre = Similarity.prefixTopK(emb(s, d), 10, 3, 16)
        .select(col("qid"), col("vec_id")).withColumn("__hit", lit(1))
      full.join(pre, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("hits"))
        .withColumn("recall_at_3", round(col("hits") / lit(3.0), 4))
        .orderBy("qid")
    }),
    // near-dup pairs via sign-bit LSH banding. The testdata corpus has
    // no natural near-dups (max pairwise cosine 0.51 at sf0.01), so the
    // corpus unions deterministic perturbed twins (x·1.05 + 0.001,
    // vec_id+1000) of the first 50 vectors — the banding must recover
    // exactly those 50 pairs at cos ≥ 0.99.
    "embed_neardup_pairs" -> ((s, d) =>
      Similarity.nearDupPairs(perturbedCorpus(emb(s, d)), 0.99)),
    // SemDeDup over the same planted-twin corpus: k-means cells, then
    // intra-cell pruning — each twin must be dropped against its
    // (closer-to-centroid, lower-id) original at cos ≥ 0.95
    "embed_semdedup" -> ((s, d) =>
      Similarity.semDedup(perturbedCorpus(emb(s, d)), 0.95, 8, 2,
        corpusKey = Some(d + "#semdedup"))),

    // the scale rung past flat IVF: coarse Lloyd's, independent fine
    // Lloyd's inside each coarse cell, same intra-cell pruning on the
    // composite cell. Hash-checked like everything else: the oracle
    // unrolls BOTH Lloyd's passes in DuckDB (the flat kmeansBody chain
    // at k=4, then the same two rounds per coarse cell) — the
    // recursive-CTE-style precedent set by ema_macd.
    "embed_semdedup_2level" -> ((s, d) =>
      Similarity.semDedupTwoLevel(perturbedCorpus(emb(s, d)), 0.95, 4, 4, 2)),

    // the DEFAULT semantic-dedup entry point: quantizer sized from the
    // corpus (cells = ceil(sqrt(N)), flat at this scale), rung selected
    // by Similarity.semDedupRung. The oracle computes k with the same
    // ceil(sqrt(count(*))) so it tracks testdata row-count changes.
    "embed_semdedup_auto" -> ((s, d) =>
      Similarity.semDedupAuto(perturbedCorpus(emb(s, d)), 0.95, 2,
        corpusKey = Some(d + "#semdedup-auto"))),

    // the PRODUCTION layout (round 15): fixed cell SIZE — cells =
    // ceil(N/64), so per-cell population (and the intra-cell pair
    // term) stays constant as the corpus grows; hiRankCap 256 bounds
    // quantizer skew (mirrored as a.rk <= 256 in the oracle). The
    // oracle derives k from count(*)/64 so it tracks row-count changes.
    // maxFlatCells is pinned to MaxValue because the ORACLE models only
    // the flat rung: semDedupSized's default routing flips to the
    // two-level side×side layout once ceil(N/64) > 64, i.e. N > 4096
    // rows — modest corpus growth would silently change the geometry
    // under a fixed oracle. Production callers keep the default (auto)
    // routing; the VERIFIED query pins the geometry the oracle models.
    "embed_semdedup_sized" -> ((s, d) =>
      Similarity.semDedupSized(perturbedCorpus(emb(s, d)), 0.95,
        targetCellSize = 64, iters = 2, maxFlatCells = Int.MaxValue,
        corpusKey = Some(d + "#semdedup-sized"))),

    // the sized layout's TWO-LEVEL rung — the geometry semDedupSized
    // auto-routes to once ceil(N/64) > maxFlatCells (N > 4096 rows at
    // the default 64), which until round 17 was spec-covered only.
    // maxFlatCells = 4 forces the rung at verify scale: cells =
    // ceil(N/64) (9 at sf0.01's 550-row perturbed corpus) > 4 → side =
    // max(2, ceil(sqrt(cells))) and the stage runs side×side two-level
    // (coarse Lloyd's, independent per-parent fine Lloyd's, pruning on
    // the composite cell pcell·side + fine) with the sized layout's
    // hiRankCap = 4·64 = 256 skew bound. The oracle derives BOTH knobs
    // from count(*) (cells, then side) and unrolls both Lloyd's passes
    // — the embed_semdedup_2level precedent with dynamic geometry — so
    // it tracks testdata row-count changes exactly as the engine does.
    "embed_semdedup_sized_twolevel" -> ((s, d) =>
      Similarity.semDedupSized(perturbedCorpus(emb(s, d)), 0.95,
        targetCellSize = 64, iters = 2, maxFlatCells = 4,
        // corpusKey caches the geometry-deriving corpus count across
        // repeat invocations (results are corpusKey-independent)
        corpusKey = Some(d + "#semdedup-sized-2l"))),

    // cross-source leakage matrix: distinct shared 8-grams + gram-set
    // Jaccard per source pair — the corpus-level mixture/provenance view
    "source_overlap" -> ((s, d) => Dedup.sourceOverlap(docs(s, d), 8)),

    // incremental ingest dedup: classify a NEW batch (docs ≥ 400, plus
    // 10 planted verbatim copies and 10 planted near-copies of existing
    // docs) against the EXISTING corpus (docs < 400) — exact/near/new
    // without ever re-deduping the corpus itself
    "dedup_incremental" -> ((s, d) => {
      val all = docs(s, d)
      val existing = all.filter(col("doc_id") < 400).select("doc_id", "text")
      // keyed: the existing-corpus index (fingerprints + shingles +
      // capped bands) is session-cached, built once; the stored-index
      // twins below are the restart-safe form of the same index
      Dedup.incrementalDedup(existing, incDedupBatch(all), 0.5,
        existingKey = Some(d + "#inc-existing"))
    }),

    // dedup_incremental against the ON-DISK index: write the
    // existing-corpus index to parquet (manifest + fingerprints +
    // shingles + bands, the IVF lifecycle), classify the same planted
    // batch through the stored path — restart-safe (no session cache
    // anywhere on this path), same oracle as dedup_incremental because
    // stored ≡ cached by construction. SIDE EFFECT: rewrites the temp
    // index dir per evaluation (idempotent).
    "dedup_incremental_stored" -> ((s, d) => {
      val all = docs(s, d)
      Sink.writeDedupIndex(
        all.filter(col("doc_id") < 400).select("doc_id", "text"),
        dedupIndexDir)
      Sink.classifyWithDedupIndex(s, incDedupBatch(all), dedupIndexDir, 0.5)
    }),

    // the APPEND leg of the stored-index lifecycle, oracle-checked with
    // zero new SQL: build on docs < 300, append docs 300-399 (their
    // ids/text unchanged), classify the same batch — after the append
    // the index is equal-by-construction to one built on docs < 400,
    // so the dedup_incremental oracle applies verbatim. SIDE EFFECT:
    // rewrites the temp index dir per evaluation (idempotent).
    "dedup_incremental_stored_append" -> ((s, d) => {
      val all = docs(s, d)
      Sink.writeDedupIndex(
        all.filter(col("doc_id") < 300).select("doc_id", "text"),
        dedupIndexAppendDir)
      Sink.appendToDedupIndex(
        all.filter(col("doc_id") >= 300 && col("doc_id") < 400)
          .select("doc_id", "text"),
        dedupIndexAppendDir)
      Sink.classifyWithDedupIndex(s, incDedupBatch(all),
        dedupIndexAppendDir, 0.5)
    }),

    // the TAKEDOWN leg of the stored-index lifecycle: build on
    // docs < 400, tombstone-delete the docs the planted batch copies
    // point at (licensing/PII removal shape: O(ids) write, no corpus
    // rewrite), classify — the masked index must classify exactly as
    // one REBUILT on the filtered corpus, which is what the oracle
    // computes (planted exacts of docs 0-4 fall through the masked
    // fingerprint fold; planted nears of docs 10-14 lose their
    // pre-cap band partners). SIDE EFFECT: rewrites the temp index
    // dir per evaluation (idempotent).
    "dedup_index_delete_classify" -> ((s, d) => {
      val all = docs(s, d)
      Sink.writeDedupIndex(
        all.filter(col("doc_id") < 400).select("doc_id", "text"),
        dedupIndexDeleteDir)
      Sink.deleteFromDedupIndex(s,
        dedupIndexDeleteDir,
        all.filter(col("doc_id").isin(dedupTakedownIds: _*))
          .select("doc_id"))
      Sink.classifyWithDedupIndex(s, incDedupBatch(all),
        dedupIndexDeleteDir, 0.5)
    }),

    // the PURGE leg: same delete, then compactDedupIndex physically
    // removes the tombstoned docs' rows from all three tables and
    // consumes the tombstones — classify must serve identically to
    // the masked path (same oracle), now with zero masking joins.
    // SIDE EFFECT: rewrites the temp index dir per evaluation
    // (idempotent).
    "dedup_index_delete_compact" -> ((s, d) => {
      val all = docs(s, d)
      Sink.writeDedupIndex(
        all.filter(col("doc_id") < 400).select("doc_id", "text"),
        dedupIndexDeleteCompactDir)
      Sink.deleteFromDedupIndex(s,
        dedupIndexDeleteCompactDir,
        all.filter(col("doc_id").isin(dedupTakedownIds: _*))
          .select("doc_id"))
      Sink.compactDedupIndex(s, dedupIndexDeleteCompactDir)
      Sink.classifyWithDedupIndex(s, incDedupBatch(all),
        dedupIndexDeleteCompactDir, 0.5)
    }),

    // the production ingest LOOP, batch form: classify batch 1
    // against the stored index, append its accepted ('new') docs,
    // then classify batch 2 against the GROWN index — batch 2's
    // planted copies of batch-1 docs classify exact/near against
    // them, which only happens if the index actually grew between
    // calls. The oracle unrolls the chain sequentially (verdict1 →
    // accepted1 → corpus ∪ accepted1 → verdict2). SIDE EFFECT:
    // rewrites the temp index dir per evaluation (idempotent).
    "dedup_ingest_loop" -> ((s, d) => {
      val all = docs(s, d)
      Sink.writeDedupIndex(
        all.filter(col("doc_id") < 400).select("doc_id", "text"),
        dedupIngestLoopDir)
      val v1 = Sink.maintainDedupIndex(s, ingestBatch1(all),
        dedupIngestLoopDir, 0.5)
      val v2 = Sink.maintainDedupIndex(s, ingestBatch2(all),
        dedupIngestLoopDir, 0.5)
      v1.unionByName(v2).orderBy("doc_id")
    }),

    // the STREAMING form of the ingest loop: the two batches land as
    // mtime-ordered file drops and each micro-batch runs the same
    // classify-append-accepted step inside foreachBatch — the index
    // grows BETWEEN triggers, so the replayed verdicts equal the
    // sequential batch form (same oracle). SIDE EFFECT: rewrites the
    // temp index/drop/output dirs per evaluation (idempotent).
    "stream_dedup_ingest_replay" -> ((s, d) => {
      val all = docs(s, d)
      val dir = dedupIngestStreamDir
      Sink.writeDedupIndex(
        all.filter(col("doc_id") < 400).select("doc_id", "text"),
        s"$dir/index")
      writeOrderedDrop(ingestBatch1(all), s"$dir/drops/drop=a", 0)
      writeOrderedDrop(ingestBatch2(all), s"$dir/drops/drop=b", 1)
      graft.streaming.DedupStream.runIngestReplay(
        s, s"$dir/drops/drop=*", s"$dir/index", s"$dir/ckpt", s"$dir/out")
      s.read.parquet(s"$dir/out")
        .select("doc_id", "verdict", "dup_of", "jaccard")
        .orderBy("doc_id")
    }),

    // CDC-shaped streaming maintenance of the stored dedup index:
    // accepted docs AND takedowns arrive through one stream (drop a
    // adds docs 300-399, drop b deletes the takedown set), each
    // micro-batch folding into the on-disk index inside foreachBatch.
    // The final index equals a build on docs < 400 minus the deleted
    // docs in any drop order (append-only rows folded at read;
    // tombstone-wins) — so the takedown oracle applies verbatim to
    // the post-replay classify. SIDE EFFECT: rewrites the temp
    // index/drop dirs per evaluation (idempotent).
    "stream_dedup_cdc_replay" -> ((s, d) => {
      val all = docs(s, d)
      val dir = dedupCdcStreamDir
      Sink.writeDedupIndex(
        all.filter(col("doc_id") < 300).select("doc_id", "text"),
        s"$dir/index")
      all.filter(col("doc_id") >= 300 && col("doc_id") < 400)
        .select(col("doc_id"), col("text"), lit("add").as("op"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/drops/drop=a")
      all.filter(col("doc_id").isin(dedupTakedownIds: _*))
        .select(col("doc_id"), lit(null).cast("string").as("text"),
          lit("delete").as("op"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/drops/drop=b")
      graft.streaming.DedupStream.runCdcReplay(
        s, s"$dir/drops/drop=*", s"$dir/index", s"$dir/ckpt")
      Sink.classifyWithDedupIndex(s, incDedupBatch(all), s"$dir/index", 0.5)
    }),

    // the STREAMING twin of dedup_incremental_stored: the planted batch
    // lands as two parquet drops, each micro-batch classifies against
    // the frozen on-disk index inside foreachBatch, verdicts append to
    // an output dir — verdicts are per-doc independent given the index,
    // so the replayed union shares dedup_incremental's oracle VERBATIM.
    // SIDE EFFECT: rewrites the temp index/drop/output dirs per
    // evaluation (idempotent).
    "stream_dedup_incremental_replay" -> ((s, d) => {
      val all = docs(s, d)
      val dir = dedupStreamDir
      Sink.writeDedupIndex(
        all.filter(col("doc_id") < 400).select("doc_id", "text"),
        s"$dir/index")
      val batch = incDedupBatch(all)
      Seq(("a", 0), ("b", 1)).foreach { case (tag, r) =>
        batch.filter(pmod(col("doc_id"), lit(2)) === r).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/drops/drop=$tag")
      }
      graft.streaming.DedupStream.runStoredClassifyReplay(
        s, s"$dir/drops/drop=*", s"$dir/index", s"$dir/ckpt", s"$dir/out")
      s.read.parquet(s"$dir/out")
        .select("doc_id", "verdict", "dup_of", "jaccard")
        .orderBy("doc_id")
    }),

    // ---- text analysis
    "text_langid" -> ((s, d) => TextOps.langId(docs(s, d))),
    // declared-vs-detected language confusion matrix
    "lang_confusion" -> ((s, d) => TextOps.langConfusion(docs(s, d))),
    // learned language ID: multinomial NB trained by aggregation on the
    // corpus' own labels, applied corpus-wide with a decision margin
    "text_nb_langid" -> ((s, d) => Classify.nbLangScores(docs(s, d))),
    // confusion + mean margin over the learned classifier
    "text_nb_confusion" -> ((s, d) => Classify.nbConfusion(docs(s, d))),
    // trending: top event types per hour
    "events_hourly_top" -> ((s, d) => EventsOps.hourlyTopTypes(ev(s, d))),
    // CUSUM burst monitor: exact integer recursion via the custom
    // running-window aggregate; alarms on sustained rate shifts
    "events_cusum" -> ((s, d) => EventsOps.cusumBursts(ev(s, d))),
    // DAU decomposition: new / returning / resurrected per day
    "events_growth" -> ((s, d) => EventsOps.growthAccounting(ev(s, d))),
    // L28 power-user curve: users histogrammed by trailing-28d active days
    "events_l28" -> ((s, d) => EventsOps.activityHistogram(ev(s, d), 28)),
    // temperature-scaled (τ=1/2) source sampling weights for data mixing
    "source_mix_weights" -> ((s, d) => Corpus.sourceMixWeights(docs(s, d))),
    // the step after the weights: integer per-source token quotas that
    // sum EXACTLY to the budget — largest-remainder apportionment on
    // exact integer weights (6dp sqrt-token carrier x 10^6), remainder
    // ranking on exact integer numerators, never a double near the
    // plus-minus-one boundary
    "mix_allocation" -> ((s, d) =>
      Corpus.mixAllocation(docs(s, d), 1000000L)),
    // the quotas EMITTED: full epochs replicate every doc, the partial
    // epoch takes an md5-ordered prefix with the boundary doc truncated
    // so the grand total is exactly the budget; the prefix sum runs as
    // a two-pass distributed scan over 256 md5 buckets, never a
    // per-source corpus window
    "mix_materialize" -> ((s, d) =>
      Corpus.mixMaterialize(docs(s, d), 1000000L)),
    // the mix pipeline END TO END: the budget-exact instance stream
    // shuffled into 8 content-hash trainer shards and packed into
    // 2048-token sequences per shard — materialize → shard → pack, the
    // training-data path composed from the three green pieces; Σ
    // toks_out = budget survives both stages (spec-pinned)
    "mix_pack_shard" -> ((s, d) =>
      Corpus.mixPackShard(docs(s, d), 1000000L, 2048L, 8)),
    // token-level packing: instances split at every 2048-token pack
    // boundary, so each pack is exactly `capacity` tokens except the
    // shard's final partial pack — the fixed-length trainer layout
    "mix_pack_split" -> ((s, d) =>
      Corpus.mixPackShard(docs(s, d), 1000000L, 2048L, 8,
        splitAtBoundary = true)),
    // bottom-k (KMV) distinct-3-gram estimate per source + exact twin
    "sketch_kmv_ngrams" -> ((s, d) => Sketch.kmvDistinctNgrams(docs(s, d), 3, 128)),
    // DSIR importance weights toward the src0 "target domain"
    "dsir_weights" -> ((s, d) => Sampling.dsirWeights(docs(s, d), "src0")),
    // the DSIR→sampler composition: importance log-weights feed the ES
    // sampler in LOG space (Gumbel identity — no exp, no overflow, no
    // cross-engine exp ulp risk); the 50 docs most src0-like under
    // importance sampling, reproducibly
    "sample_dsir_weighted" -> ((s, d) => {
      val dw = Sampling.dsirWeights(docs(s, d), "src0")
        .select("doc_id", "dsir_logw")
      val dd = docs(s, d).select("doc_id", "text").join(dw, "doc_id")
      Sampling.weightedSampleLogW(dd, col("dsir_logw"), 50)
    }),
    // Efraimidis-Spirakis weighted sampling without replacement, token
    // count as the weight (sampling proportional to size) — the step
    // that turns importance weights into an actual sampled corpus;
    // content-hash uniforms, so the draw is reproducible
    "sample_weighted_tokens" -> ((s, d) =>
      Sampling.weightedSample(docs(s, d), size(split(col("text"), " ")), 50)),
    // KMV sketch set algebra: union/Jaccard/intersection per source pair
    "sketch_kmv_overlap" -> ((s, d) => Sketch.kmvSourceOverlap(docs(s, d), 3, 128)),
    // HLL (m=512) distinct-3-gram estimate per source + exact twin;
    // both the raw and the linear-counting branch fire across sources
    "sketch_hll_distinct" -> ((s, d) => Sketch.hllDistinctNgrams(docs(s, d), 3, 9)),
    // corpus-wide distinct via element-wise-max MERGE of the per-source
    // HLL register files — the no-reshuffle union property, hash-proven
    "sketch_hll_union" -> ((s, d) => Sketch.hllUnion(docs(s, d), 3, 9)),
    // Count-Min (4×4096) point-query check for the exact top-20 grams:
    // est ≥ exact one-sided error, exact-integer cells
    "sketch_cms_heavy" -> ((s, d) => Sketch.cmsHeavyHitters(docs(s, d), 3, 4, 4096, 20)),
    // HDR-style log-bucketed quantile histogram over lineitem prices:
    // per-returnflag partial sketches sum-merged, exact-integer ranks;
    // oracle histograms the table directly → hash proves the merge
    "sketch_hist_quantiles" -> ((s, d) =>
      Sketch.logHistQuantiles(Tables.lineitem(s, d))),
    // rel_err diagnostic twin: the same register walk PLUS the exact
    // quantile_cont pass — validation only, kept out of the benched
    // production query (the exact pass would dominate at 100×)
    "sketch_hist_rel_err" -> ((s, d) =>
      Sketch.logHistQuantilesRelErr(Tables.lineitem(s, d))),
    // CMS inner-product estimate of the events user_id self-join size
    // (the sessionization pair-explosion pre-flight); est ≥ exact
    "sketch_cms_join_size" -> ((s, d) => Sketch.cmsSelfJoinSize(ev(s, d))),
    // per-event-type quantile sketch (grouped register files) with the
    // quantile_cont twin per group
    "sketch_hist_by_type" -> ((s, d) =>
      Sketch.logHistQuantilesByGroup(ev(s, d))),
    // key-skew pre-flight: heavy keys + log-bucket p50/p99 of the
    // per-key count distribution + suggested salt factors
    "skew_key_stats" -> ((s, d) => Skew.keySkewStats(ev(s, d))),
    // weekly cohort LTV curves over events
    "events_cohort_ltv" -> ((s, d) => EventsOps.cohortLtv(ev(s, d))),
    // top-10 session-opening paths (first 3 event types per session)
    "events_top_paths" -> ((s, d) => EventsOps.topSessionPaths(ev(s, d))),
    // top-3 TF-IDF terms per doc; both factors rounded to 6 before the
    // product so ranking never touches a raw float
    "text_tfidf" -> ((s, d) => TextOps.tfidfTopTerms(docs(s, d), 3)),
    "text_quality_score" -> ((s, d) => TextOps.qualityScore(docs(s, d))),
    // calibrated per-language quality threshold: lowest score whose
    // keep-set fits the floor(p·n) budget, ranked over the (lang,
    // score) histogram — never the corpus
    "text_quality_calibrate" -> ((s, d) =>
      TextOps.calibrateQualityThreshold(docs(s, d), p = 0.7)),
    // bigram-LM mean log-prob per doc (the perplexity-filter shape,
    // corpus-trained add-one model so the oracle replays it exactly)
    "text_lm_score" -> ((s, d) => TextOps.lmScoreCached(docs(s, d), d)),
    // corpus heavy hitters: global top-20 5-grams (boilerplate view)
    "corpus_top_ngrams" -> ((s, d) => TextOps.topNgrams(docs(s, d), 5, 20)),
    // positional-index phrase search for the top-5 trigrams; each row
    // certifies position-join hits == shingle counts (`agree`)
    "text_phrase_search" -> ((s, d) => TextOps.phraseSearch(docs(s, d), 5)),
    // PMI collocation mining: adjacent pairs co-occurring far above
    // chance, exact-integer ratio under one ln, TakeOrdered top-k
    "text_pmi_collocations" -> ((s, d) =>
      TextOps.pmiCollocations(docs(s, d), minCount = 5, k = 20)),
    // hashing-trick doc vectors + sparse-algebra cosine neighbors —
    // the model-free similarity surface when no encoder exists
    "text_hash_vectors" -> ((s, d) => TextOps.hashedDocVectors(docs(s, d))),
    "text_hash_neighbors" -> ((s, d) => TextOps.hashedNeighbors(docs(s, d))),
    // RAKE keyphrases: stopword-delimited candidate runs, deg/freq
    // word scores, decimal-summed phrase scores, corpus top-20
    "text_rake_keyphrases" -> ((s, d) =>
      TextOps.rakeKeyphrases(docs(s, d), k = 20, minWords = 2)),
    "token_count" -> ((s, d) => TextOps.tokenCounts(docs(s, d))),
    "word_entropy" -> ((s, d) => TextOps.wordEntropy(docs(s, d))),
    // BPE training, first merge iteration: char-pair frequencies
    "bpe_pair_counts" -> ((s, d) => TextOps.bpePairCounts(docs(s, d), 20)),
    // full BPE training loop: 5 count→argmax→merge rounds over the
    // vocabulary frame; output is the ordered merge table
    "bpe_train_merges" -> ((s, d) => TextOps.bpeTrainMerges(docs(s, d), 5)),
    // BATCHED BPE training — the scale path: 3 count rounds, a top-3
    // candidate window per round, symbol-disjoint candidates applied
    // together (one bounded collect per ROUND instead of per merge —
    // the serial loop's 32k-merge serialization bound removed)
    "bpe_train_merges_batched" -> ((s, d) =>
      TextOps.bpeTrainMergesBatched(docs(s, d), rounds = 3, batchSize = 3)),
    // apply the learned merges corpus-wide: per-doc BPE token counts
    // vs the char baseline (train→apply tokenizer pair)
    "bpe_encode" -> ((s, d) => TextOps.bpeEncode(docs(s, d), 5)),
    // the same train→apply pair on the BATCHED trainer's merges —
    // end-to-end coverage of the scale path, not just its merge table
    // train ONCE, thread the merges frame through the encode overload —
    // the production train→apply wiring (the inline-training overload
    // exists for convenience but pays training twice in a pipeline)
    "bpe_encode_batched" -> ((s, d) =>
      TextOps.bpeEncodeBatched(docs(s, d),
        TextOps.bpeTrainMergesBatched(docs(s, d), rounds = 3, batchSize = 3))),
    // the STORED tokenizer's train-once/apply-everywhere path: persist
    // the merge table as a versioned artifact, encode from the stored
    // artifact — ≡ the inline train→encode by construction, so the
    // bpe_encode_batched oracle applies verbatim. SIDE EFFECT: rewrites
    // the temp tokenizer dir per evaluation (idempotent).
    "bpe_store_encode" -> ((s, d) => {
      val all = docs(s, d)
      Sink.writeBpeTokenizer(all, bpeTokDir, rounds = 3, batchSize = 3)
      Sink.encodeWithBpeTokenizer(s, all, bpeTokDir)
    }),
    // the EXTEND leg: train on the original corpus (doc_id < 400),
    // continue training on the new-domain docs with the stored merges
    // applied first — output is the appended merge table itself, so
    // the continued numbering (iter from n_merges, round from the
    // stored round budget) is oracle-checked directly. SIDE EFFECT:
    // rewrites the temp tokenizer dir per evaluation (idempotent).
    "bpe_store_extend" -> ((s, d) => {
      val all = docs(s, d)
      Sink.writeBpeTokenizer(all.filter(col("doc_id") < 400),
        bpeTokExtendDir, rounds = 2, batchSize = 3)
      Sink.extendBpeTokenizer(all.filter(col("doc_id") >= 400),
        bpeTokExtendDir, rounds = 2, batchSize = 3)
      Sink.loadBpeMerges(s, bpeTokExtendDir).orderBy("iter")
    }),
    // extend, then encode the FULL corpus with the extended tokenizer —
    // the end-to-end domain-shift pipeline (train → extend → apply).
    // SIDE EFFECT: rewrites the temp tokenizer dir per evaluation
    // (idempotent).
    "bpe_store_extend_encode" -> ((s, d) => {
      val all = docs(s, d)
      Sink.writeBpeTokenizer(all.filter(col("doc_id") < 400),
        bpeTokExtendEncodeDir, rounds = 2, batchSize = 3)
      Sink.extendBpeTokenizer(all.filter(col("doc_id") >= 400),
        bpeTokExtendEncodeDir, rounds = 2, batchSize = 3)
      Sink.encodeWithBpeTokenizer(s, all, bpeTokExtendEncodeDir)
    }),
    // tokenize with the production artifact, then PACK for training:
    // the stored tokenizer's per-doc BPE token counts feed the
    // GPT-style concat-then-chunk pack layout — the counts a loader
    // actually packs by, instead of pack_sequences' whitespace proxy.
    // SIDE EFFECT: rewrites the temp tokenizer dir per evaluation
    // (idempotent).
    "pack_bpe_stored" -> ((s, d) => {
      val all = docs(s, d)
      Sink.writeBpeTokenizer(all, bpeTokPackDir, rounds = 3, batchSize = 3)
      val enc = Sink.encodeWithBpeTokenizer(s, all, bpeTokPackDir)
      Packing.packSequences(enc.select("doc_id", "n_bpe_tokens"),
        col("n_bpe_tokens"), 2048L, chunkSize = 100L)
    }),
    // the STREAMING twin of the extend leg: the new-domain docs land
    // as two mtime-ordered drops, each micro-batch continuing training
    // inside foreachBatch — the merge table grows BETWEEN triggers, so
    // the replay equals sequential batch extends in drop order (the
    // three-phase oracle). SIDE EFFECT: rewrites the temp
    // tokenizer/drop dirs per evaluation (idempotent).
    "stream_bpe_extend_replay" -> ((s, d) => {
      val all = docs(s, d)
      val dir = bpeTokStreamDir
      Sink.writeBpeTokenizer(all.filter(col("doc_id") < 400),
        s"$dir/tok", rounds = 2, batchSize = 3)
      writeOrderedDrop(
        all.filter(col("doc_id") >= 400 && pmod(col("doc_id"), lit(2)) === 0)
          .select("doc_id", "text"),
        s"$dir/drops/drop=a", 0)
      writeOrderedDrop(
        all.filter(col("doc_id") >= 400 && pmod(col("doc_id"), lit(2)) === 1)
          .select("doc_id", "text"),
        s"$dir/drops/drop=b", 1)
      graft.streaming.BpeStream.runExtendReplay(
        s, s"$dir/drops/drop=*", s"$dir/tok", s"$dir/ckpt",
        rounds = 1, batchSize = 3)
      Sink.loadBpeMerges(s, s"$dir/tok").orderBy("iter")
    }),
    // tokens/word per language under the learned merges — the
    // multilingual tokenizer-bias diagnostic
    "bpe_fertility_by_lang" -> ((s, d) => TextOps.bpeFertilityByLang(docs(s, d), 5)),
    // per-source PSI drift of the token-length distribution
    "source_drift_psi" -> ((s, d) => Corpus.sourceDrift(docs(s, d))),
    // data-mix inequality: Gini over per-source token totals
    "source_gini" -> ((s, d) => Corpus.sourceGini(docs(s, d))),
    // CCNet-style head/middle/tail perplexity binning over the LM score.
    // The tertile is an exact chunked ntile (GlobalRank): coarse bucket
    // = negated 1/16-wide avg_logp band (nulls to the +inf band so they
    // land last, matching desc_nulls_last), never a single-partition
    // sort over the doc-cardinality frame.
    "ccnet_buckets" -> ((s, d) => {
      val scored = TextOps.lmScoreCached(docs(s, d), d)
      val total = scored.agg(count(lit(1)).as("__grtotal"))
      graft.operators.GlobalRank.chunkedNtile(
          scored.crossJoin(broadcast(total)),
          when(col("avg_logp").isNull, lit(Long.MaxValue))
            .otherwise(-floor(col("avg_logp") * lit(16)).cast("long")),
          Seq(col("avg_logp").desc_nulls_last, col("doc_id")),
          "__grtotal", 3, "bucket")
        .withColumn("ccnet_bin",
          when(col("bucket") === 1, "head")
            .when(col("bucket") === 2, "middle").otherwise("tail"))
        .select("doc_id", "avg_logp", "bucket", "ccnet_bin")
        .orderBy("doc_id")
    }),
    // packing-quality gate over the 2048-token stream packs
    "packing_efficiency" -> ((s, d) =>
      Packing.packSequences(docs(s, d),
          size(split(col("text"), " ")).cast("long"), 2048L, chunkSize = 100L)
        .agg(
          count(lit(1)).as("n_docs"),
          sum("tokens").as("total_tokens"),
          (max("pack_id") + 1).as("n_packs"),
          sum(when(col("straddles"), 1L).otherwise(0L)).as("n_straddles"))
        .withColumn("straddle_frac", round(col("n_straddles") / col("n_docs"), 6))
        .withColumn("tail_waste",
          col("n_packs") * lit(2048L) - col("total_tokens"))),
    // Okapi BM25 lexical retrieval against a fixed query-term bag
    "text_bm25_topk" -> ((s, d) =>
      TextOps.bm25TopK(docs(s, d), Seq("hash", "merge", "scan"))),
    // hybrid retrieval: BM25 lexical ranking ⊕ single-query cosine
    // ranking via reciprocal-rank fusion (no score calibration needed)
    "retrieval_rrf_hybrid" -> ((s, d) => {
      val lex = TextOps.bm25TopK(docs(s, d), Seq("hash", "merge", "scan"), 20)
        .select(col("doc_id").as("id"), col("rnk"))
      val sem = Retrieval.cosineRankForQuery(emb(s, d), 0L, 20)
        .select("id", "rnk")
      Retrieval.rrfFuse(lex, sem, 10)
    }),
    // the same fusion with the semantic side served from the IVF
    // index (nprobe=2, cached trained quantizer) instead of the exact
    // corpus scan — the 100 TB serving shape; RetrievalSpec gates its
    // fused overlap against the exact-side fusion
    "retrieval_rrf_ivf" -> ((s, d) => {
      val lex = TextOps.bm25TopK(docs(s, d), Seq("hash", "merge", "scan"), 20)
        .select(col("doc_id").as("id"), col("rnk"))
      val sem = Retrieval.cosineRankForQueryIvf(emb(s, d), 20, 8, 2, 2,
          corpusKey = Some(d))
        .select("id", "rnk")
      Retrieval.rrfFuse(lex, sem, 10)
    }),
    // the end-to-end "retrieval stack reads the artifact" shape: the
    // SAME fusion, but the semantic side is served from the PERSISTED
    // IVF index (searchIvfIndex, nprobe=2) — build once, then the
    // serving query never trains and never scans the corpus embedding
    // table beyond the one query row. Shares retrieval_rrf_ivf's
    // oracle verbatim (stored nprobe=2 ≡ in-memory multiprobe
    // nprobe=2, SinkSpec). SIDE EFFECT: rewrites the temp index dir
    // per evaluation (idempotent overwrite).
    "retrieval_rrf_stored" -> ((s, d) => {
      val lex = TextOps.bm25TopK(docs(s, d), Seq("hash", "merge", "scan"), 20)
        .select(col("doc_id").as("id"), col("rnk"))
      val e = emb(s, d)
      val dir = ivfRrfDir
      Sink.writeIvfIndex(e, dir, Sink.Flat, Sink.Cells(8), 2, corpusKey = Some(d))
      val sem = Sink.searchIvfIndex(s, e, dir, nQueries = 1, k = 20, nprobe = 2)
        .select(col("vec_id").as("id"), col("rnk"))
      Retrieval.rrfFuse(lex, sem, 10)
    }),
    // sklearn-style min_df/max_df vocabulary pruning. The synthetic
    // vocab is 31 near-uniform words (df ≈ 75-80% of docs), so the
    // standard max_df = 0.5 would keep almost nothing — 0.78 lands the
    // cut inside the observed df range and exercises both bounds.
    "vocab_prune" -> ((s, d) =>
      TextOps.vocabPrune(docs(s, d), minDf = 5, maxDfFrac = 0.78)),
    // per-source lexical-diversity profile (types / hapax / TTR)
    "source_vocab_stats" -> ((s, d) => Corpus.sourceVocabStats(docs(s, d))),
    "gopher_quality" -> ((s, d) => TextOps.gopherQuality(docs(s, d))),
    "doc_length_histogram" -> ((s, d) => TextOps.lengthHistogram(docs(s, d))),
    // template-prefix grouping on a planted-template corpus: 12 docs
    // get a twin sharing their first 8 words but a different tail;
    // each pair must group, the word-salad rest must not
    "template_prefix_groups" -> ((s, d) => {
      val all = docs(s, d)
      val planted = all.filter(col("doc_id") < 12).select(
        (col("doc_id") + 40000).as("doc_id"),
        concat(
          array_join(slice(split(col("text"), " "), 1, 8), " "),
          lit(" planted tail variant "),
          col("doc_id").cast("string")).as("text"))
      TextOps.templatePrefixGroups(
        all.select("doc_id", "text").unionByName(planted), 8)
        .orderBy("prefix")
    }),
    "token_stats_by_lang" -> ((s, d) => TextOps.tokenStatsByLang(docs(s, d))),
    "doc_fingerprint" -> ((s, d) => TextOps.fingerprints(docs(s, d))),
    // Gopher-style repetition filter on a repetition-injected corpus:
    // every 7th doc gets a spammy repeated phrase appended and must
    // flag; the word-salad rest must not
    "text_repetition" -> ((s, d) => {
      val injected = docs(s, d).withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), expr("repeat(' buy now click here', 12)")))
          .otherwise(col("text")))
      TextOps.repetitionStats(injected)
    }),
    // RAG/embedding chunking: 64-word windows every 48 words — each doc
    // becomes the overlapping chunk rows an embedding pass would consume
    "chunk_documents" -> ((s, d) => TextOps.chunkWords(docs(s, d), 64, 48)),
    // JSONL round-trip (the training-data interchange format): write the
    // documents table as JSON lines, read it back with the pinned
    // schema — oracle equality proves the round-trip lossless.
    // SIDE EFFECT: writes the export under one per-JVM temp dir
    // (overwrite mode handles re-runs).
    "jsonl_export_roundtrip" -> ((s, d) => {
      val out = jsonlExportDir
      val slice = docs(s, d)
      Sink.exportJsonl(slice, out)
      Sink.readJsonl(s, out, slice.schema).orderBy("doc_id")
    }),
    // PII scrub on a PII-injected corpus: every 5th doc gains an email
    // + phone; counts and the redacted content hash are oracle-checked
    "pii_redact" -> ((s, d) => {
      val injected = docs(s, d).withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" reach me at user"), col("doc_id"),
            lit("@example.com or 555-0142")))
          .otherwise(col("text")))
      TextOps.redactPii(injected)
    }),
    // checksum-aware card PII: planted valid (…366, Luhn-green) and
    // invalid (…367) 16-digit numbers; only the valid one may flag
    "pii_luhn_cards" -> ((s, d) => {
      val injected = docs(s, d).withColumn("text",
        when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" card 4532015112830366 on file")))
          .otherwise(col("text")))
        .withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" ref 4532015112830367 tracking")))
            .otherwise(col("text")))
      TextOps.luhnCards(injected)
    }),
    // Zipf rank-frequency OLS over the top-100 vocabulary
    "corpus_zipf_fit" -> ((s, d) => TextOps.zipfFit(docs(s, d), 100)),
    // Heaps' law vocabulary-growth fit over ten corpus prefixes —
    // the zipfFit companion (beta near 1 = token-minting pathology)
    "corpus_heaps_fit" -> ((s, d) => TextOps.heapsFit(docs(s, d))),
    // dedup observability: near-dup cluster size distribution off the
    // cached simhash pair list
    "dedup_cluster_sizes" -> ((s, d) => {
      val pairs = Dedup.simhashNearDupsCached(docs(s, d), d, 3)
        .select("doc_a", "doc_b")
      Dedup.clusterSizeHistogram(docs(s, d), pairs)
    }),

    // ---- multimodal: REAL javax.imageio decode for image rows (the
    // oracle mirrors the synthetic-PNG generation functions, so a hash
    // match proves the encode→decode round trip recovered exact
    // dimensions and pixels); audio/video dims remain the documented
    // stub. PNG byte-level fields (n_bytes/checksum/preview) are not
    // SQL-predictable and live on the Dataset API, spec-covered.
    "multimodal_features" -> ((s, d) =>
      Multimodal.features(docs(s, d))
        .select("doc_id", "kind", "width", "height", "px_r", "px_g", "px_b")),
    // real WAV round trip: audio rows get honest PCM RIFF/WAVE payloads,
    // the header parser recovers rate/channels/bits/frames from the
    // BYTES, and the oracle recomputes the expected values from the
    // generation functions — a hash match proves the parse real.
    // duration_us and n_bytes are exact integer arithmetic on both sides.
    "multimodal_audio" -> ((s, d) => Multimodal.audioFeatures(docs(s, d))),
    // real GIF round trip: video rows get honest animated-GIF payloads,
    // the container parser recovers dimensions/frames/duration from the
    // BYTES, and the oracle recomputes the expected values from the
    // generation functions — the video twin of multimodal_audio.
    "multimodal_video" -> ((s, d) => Multimodal.videoFeatures(docs(s, d))),
    // resize → frame-sample → join frames back to their source docs;
    // every stage narrow until the final small join.
    "multimodal_frames" -> ((s, d) => {
      val resized = Multimodal.resizeAll(Multimodal.mediaTable(docs(s, d)), 320, 240)
      val frames = Multimodal.sampleFrames(resized, 4)
        .toDF("doc_id", "frame_id", "frame_bytes")
      frames.join(docs(s, d).select("doc_id", "lang"), "doc_id")
        .withColumn("frame", col("frame_bytes").cast("string"))
        .select("doc_id", "frame_id", "lang", "frame")
        .orderBy("doc_id", "frame_id")
    }),

    // ---- events analytics (batch twins of the streaming pipeline)
    "events_hourly" -> ((s, d) => EventsOps.hourly(ev(s, d))),
    "events_prop_stats" -> ((s, d) => EventsOps.propStats(ev(s, d))),
    "events_sessionize" -> ((s, d) => EventsOps.sessionize(ev(s, d), 30)),
    // hourly-volume z-score anomalies per type (rounded z vs 3.0)
    "events_anomaly" -> ((s, d) => EventsOps.hourlyAnomaly(ev(s, d), 3.0)),
    // interval (range) join via time-binning: every 50th event opens a
    // 2-hour window; count/sum the same-type events inside each window
    // through a (key, bucket) EQUI-join + exact BETWEEN filter — never
    // a per-key cross product
    "events_interval_join" -> ((s, d) => {
      val events = ev(s, d)
      val iv = events.filter(col("event_id") % 50 === 0)
        .select(col("event_id").as("interval_id"), col("event_type"),
          col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
      val inside = IntervalJoin.joinBinned(
          events.select("event_id", "event_type", "ts", "value"), iv,
          Seq("event_type"), "ts", "start_ts", "end_ts", binWidthSec = 7200L)
        .groupBy("interval_id", "event_type")
        .agg(count(lit(1)).as("n_inside"),
          Relational.moneySum(col("value")).as("value_sum"))
      iv.select("interval_id", "event_type")
        .join(inside, Seq("interval_id", "event_type"), "left")
        .withColumn("n_inside", coalesce(col("n_inside"), lit(0L)))
        .orderBy("interval_id")
    }),
    "events_percentiles" -> ((s, d) => EventsOps.valuePercentiles(ev(s, d))),
    "events_sliding" -> ((s, d) => EventsOps.slidingValue(ev(s, d))),
    // ordered first-touch funnel + cohort retention — the two classic
    // product-analytics aggregates over the events stream
    "events_funnel" -> ((s, d) => EventsOps.funnel(ev(s, d))),
    "events_retention" -> ((s, d) => EventsOps.retention(ev(s, d))),
    // first-order Markov transition matrix of user journeys
    "events_transitions" -> ((s, d) => EventsOps.transitionMatrix(ev(s, d))),
    // DAU / trailing-7d WAU / stickiness (exact, explode-contribution)
    "events_dau_wau" -> ((s, d) => EventsOps.activeUsers(ev(s, d))),
    // skewness / excess kurtosis of returns via exact power sums
    "return_moments" -> ((s, d) => IndicatorsExt.returnMoments(Tables.stocks(s, d))),
    // pandas-resample surface over the derived bars: weekly OHLCV and
    // calendar reindex + forward-fill
    "stocks_weekly" -> ((s, d) => Resample.weekly(Tables.stocks(s, d))),
    "stocks_monthly" -> ((s, d) => Resample.monthly(Tables.stocks(s, d))),
    "stocks_ffill_calendar" -> ((s, d) => Resample.ffillCalendar(Tables.stocks(s, d))),
    // robust outlier days: median/MAD modified z-score on daily returns
    "return_outliers_mad" -> ((s, d) => IndicatorsExt.madOutliers(Tables.stocks(s, d))),
    // historical 95% VaR + expected shortfall per symbol
    "risk_var_cvar" -> ((s, d) => Risk.varCvar(Tables.stocks(s, d))),
    // trailing 20d annualized Sharpe / Sortino
    "rolling_sharpe" -> ((s, d) => Risk.rollingSharpe(Tables.stocks(s, d))),
    // per-symbol OLS close-vs-day trend with R²
    "trend_ols" -> ((s, d) => Risk.trendOls(Tables.stocks(s, d))),
    // all-pairs return correlation matrix (upper triangle)
    "corr_matrix" -> ((s, d) => Risk.corrMatrix(Tables.stocks(s, d))),
    // day-of-week return seasonality
    "seasonality_dow" -> ((s, d) => Risk.dowSeasonality(Tables.stocks(s, d))),
    // SMA-signal momentum backtest vs buy-and-hold (no lookahead)
    "backtest_sma" -> ((s, d) => Risk.smaBacktest(Tables.stocks(s, d), 50)),
    // lead-lag cross-correlation: corr(x_t, y_{t+lag}), lag ∈ [-3, 3]
    "leadlag_corr" -> ((s, d) => Risk.leadLagCorr(Tables.stocks(s, d), "AF", "NO")),
    // CDC snapshot diff: the merge_upsert fixture classified per PK
    "snapshot_diff" -> ((s, d) => {
      val t = Tables.stocks(s, d)
      val old = t.filter(col("date") < to_date(lit("1999-01-01")))
      val updates = t.filter(col("date") >= to_date(lit("1998-07-01")))
        .withColumn("open", col("open") * 1.02)
        .withColumn("close", col("close") * 1.02)
      Merge.snapshotDiff(old, Merge.upsert(t, updates))
    }),
    // volume-at-price distribution per symbol
    "volume_profile" -> ((s, d) => Risk.volumeProfile(Tables.stocks(s, d))),
    // cumulative wealth index via exact log-growth running sums
    "wealth_index" -> ((s, d) => Risk.wealthIndex(Tables.stocks(s, d))),

    // ---- as-of join (union + ordered-window carry; oracle is DuckDB's
    // native ASOF JOIN, a cross-implementation equivalence check)
    "asof_anchor_ratio" -> ((s, d) => {
      val stocks = Tables.stocks(s, d)
      val anchors = stocks.filter(dayofmonth(col("date")) === 1)
        .select(col("symbol"), col("date"), col("close").as("anchor_close"))
      AsOf.joinAsOf(stocks, anchors, Seq("symbol"), "date", Seq("anchor_close"))
        .withColumn("ratio", round(col("close") / col("anchor_close"), 4))
        .select("symbol", "date", "close", "anchor_close", "ratio")
        .orderBy("symbol", "date")
    }),

    // FORWARD as-of — next month-start anchor at or after each row —
    // against DuckDB's native forward ASOF (probe.ts <= ref.ts)
    "asof_forward_ratio" -> ((s, d) => {
      val stocks = Tables.stocks(s, d)
      val anchors = stocks.filter(dayofmonth(col("date")) === 1)
        .select(col("symbol"), col("date"), col("close").as("anchor_close"))
      AsOf.joinAsOfForward(stocks, anchors, Seq("symbol"), "date", Seq("anchor_close"))
        .withColumn("ratio", round(col("close") / col("anchor_close"), 4))
        .select("symbol", "date", "close", "anchor_close", "ratio")
        .orderBy("symbol", "date")
    }),

    // the hot-key salted as-of (year-bucket partitions + replicated
    // boundary anchors) against the SAME DuckDB ASOF oracle — the hash
    // match proves the salted plan result-identical to the plain one
    "asof_salted_ratio" -> ((s, d) => {
      val stocks = Tables.stocks(s, d)
      val anchors = stocks.filter(dayofmonth(col("date")) === 1)
        .select(col("symbol"), col("date"), col("close").as("anchor_close"))
      AsOf.joinAsOfSalted(stocks, anchors, Seq("symbol"), "date", Seq("anchor_close"))
        .withColumn("ratio", round(col("close") / col("anchor_close"), 4))
        .select("symbol", "date", "close", "anchor_close", "ratio")
        .orderBy("symbol", "date")
    }),

    // ---- extended indicators (IndicatorsExt): the next tier of
    // technical analysis a reference user asks for — all per-symbol
    // windows over the one existing symbol shuffle, plus two exact-sum
    // cross-sectional stats (pair correlation, market beta)
    "atr" -> ((s, d) =>
      IndicatorsExt.withAtr(Tables.stocks(s, d), 14)
        .select(col("symbol"), col("date"),
          round(col("tr"), 6).as("tr"), round(col("atr"), 6).as("atr_14"))
        .orderBy("symbol", "date")),
    // Keltner channels: exact-EWM midline, ATR(10) bands
    "keltner_channels" -> ((s, d) =>
      IndicatorsExt.withKeltner(Tables.stocks(s, d), 20, 10)),
    // open-vs-prev-close gap screen beyond ±2%
    "overnight_gaps" -> ((s, d) => IndicatorsExt.overnightGaps(Tables.stocks(s, d))),
    // Holt linear-trend one-step forecast (second custom EWM aggregate)
    "holt_forecast" -> ((s, d) =>
      IndicatorsExt.holtForecast(Tables.stocks(s, d), 0.2, 0.1)),
    // shipping-delay distribution per ship mode (exact percentiles)
    "ship_delay_stats" -> ((s, d) => Relational.shipDelayStats(s, d)),
    // per-type inter-arrival gap distribution over each user's stream
    "events_interarrival" -> ((s, d) => EventsOps.interArrival(ev(s, d))),
    "stochastic_osc" -> ((s, d) =>
      IndicatorsExt.withStochastic(Tables.stocks(s, d), 14, 3)
        .select("symbol", "date", "stoch_k", "stoch_d")
        .orderBy("symbol", "date")),
    "obv" -> ((s, d) =>
      IndicatorsExt.withObv(Tables.stocks(s, d))
        .select("symbol", "date", "volume", "obv")
        .orderBy("symbol", "date")),
    "vwap_20" -> ((s, d) =>
      IndicatorsExt.withVwap(Tables.stocks(s, d), 20)
        .select("symbol", "date", "close", "vwap")
        .orderBy("symbol", "date")),
    "drawdown" -> ((s, d) =>
      IndicatorsExt.withDrawdown(Tables.stocks(s, d))
        .select("symbol", "date", "close", "peak", "drawdown_pct")
        .orderBy("symbol", "date")),
    "max_drawdown" -> ((s, d) =>
      IndicatorsExt.maxDrawdown(Tables.stocks(s, d)).orderBy("symbol")),
    "ma_crossover" -> ((s, d) =>
      IndicatorsExt.crossovers(Tables.stocks(s, d), 20, 50)
        .orderBy("symbol", "date")),
    "pair_corr" -> ((s, d) =>
      IndicatorsExt.pairReturnCorr(Tables.stocks(s, d), "AF", "NO", 20)
        .orderBy("date")),
    "beta_market" -> ((s, d) =>
      IndicatorsExt.betaVsMarket(Tables.stocks(s, d)).orderBy("symbol")),
    // trailing-60d rolling beta vs the equal-weight market
    "rolling_beta" -> ((s, d) =>
      IndicatorsExt.rollingBeta(Tables.stocks(s, d), 60)),
    // Donchian channels + prior-band breakout flag
    "donchian" -> ((s, d) =>
      IndicatorsExt.withDonchian(Tables.stocks(s, d), 20)
        .select("symbol", "date", "dc_upper", "dc_lower", "dc_mid", "breakout")
        .orderBy("symbol", "date")),
    // Parkinson / Garman-Klass range volatility (21d, annualized)
    "range_vol" -> ((s, d) =>
      IndicatorsExt.rangeVol(Tables.stocks(s, d), 21).orderBy("symbol", "date")),
    // return autocorrelation at lags 1..5 per symbol
    "return_acf" -> ((s, d) => IndicatorsExt.returnAcf(Tables.stocks(s, d), 5)),
    // Amihud illiquidity per symbol-month
    "amihud_illiq" -> ((s, d) => Risk.amihudIlliq(Tables.stocks(s, d))),
    // Roll implied effective spread per symbol-month
    "roll_spread" -> ((s, d) => Risk.rollSpread(Tables.stocks(s, d))),
    // candlestick pattern screen (engulfing/hammer/star/doji)
    "candlesticks" -> ((s, d) =>
      IndicatorsExt.candlestickPatterns(Tables.stocks(s, d))),
    // TPC-H Q14 shape: promo revenue share per ship month
    "promo_revenue" -> ((s, d) => Relational.promoRevenueShare(s, d)),
    // TPC-H Q13 shape: order-count histogram including the zero bucket
    "tpch_q13_custdist" -> ((s, d) => Relational.customerOrderDistribution(s, d)),
    // TPC-H Q22 shape: above-average-balance customers with no orders
    "tpch_q22_idle_rich" -> ((s, d) => Relational.idleRichCustomers(s, d)),
    // TPC-H Q18 shape: orders whose total quantity exceeds 300
    "tpch_q18_big_orders" -> ((s, d) => Relational.largeVolumeOrders(s, d)),

    // streaming EMA replay on the oracle surface: three chronological
    // file drops → three micro-batches; the (num, den) keyed state
    // carries the pandas adjust=True recursion across batch boundaries,
    // so the replay reproduces the batch EWM bit-for-bit (the oracle is
    // the same truncated-convolution SQL as ema_macd_checked).
    // SIDE EFFECT: writes the replay drops under one per-JVM temp dir.
    "stream_ema_replay" -> ((s, d) => {
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
    }),

    // streaming near-dup replay on the oracle surface: the corpus lands
    // in three file drops → several micro-batches; per-(band, bv) bucket
    // state pairs docs ACROSS batches and the collected candidates
    // exact-verify against the static corpus — the result equals the
    // batch MinHash LSH path wherever no bucket crosses the cap during
    // replay (max sf0.01 bucket = 3), so it shares dedup_minhash_lsh's
    // oracle SQL verbatim. Intra-bucket all-pairs is arrival-order
    // INVARIANT under the cap, so no drop-order stamping is needed.
    // SIDE EFFECT: writes the replay drops under one per-JVM temp dir.
    "stream_neardup_replay" -> ((s, d) => {
      val dir = neardupReplayDir
      val all = docs(s, d).select("doc_id", "text", "lang", "source", "n_chars")
      Seq(("a", 0), ("b", 1), ("c", 2)).foreach { case (tag, r) =>
        all.filter(pmod(col("doc_id"), lit(3)) === r).coalesce(1)
          .write.mode("overwrite").parquet(dir + s"/drop=$tag")
      }
      graft.streaming.DedupStream.runBoundedNearDups(
        s, dir + "/drop=*", 0.5, "stream_neardup_tbl",
        staticDocs = Some(all.select("doc_id", "text")))
    }),

    // streaming CUSUM replay: k calibrated batch-side (the production
    // shape), per-type recursion state carried across three day-cut
    // micro-batches; shares events_cusum's recursive-CTE oracle
    // verbatim. SIDE EFFECT: temp-dir drops.
    "stream_cusum_replay" -> ((s, d) => {
      val dir = cusumReplayDir
      val ev3 = ev(s, d)
      val cut1 = lit("2024-01-11").cast("timestamp")
      val cut2 = lit("2024-01-21").cast("timestamp")
      ev3.filter(col("ts") < cut1).coalesce(1)
        .write.mode("overwrite").parquet(dir + "/batch=a")
      ev3.filter(col("ts") >= cut1 && col("ts") < cut2).coalesce(1)
        .write.mode("overwrite").parquet(dir + "/batch=b")
      ev3.filter(col("ts") >= cut2).coalesce(1)
        .write.mode("overwrite").parquet(dir + "/batch=c")
      graft.streaming.IndicatorStream.stampDropOrder(dir, Seq("a", "b", "c"))
      graft.streaming.CusumStream.runReplay(s, dir + "/batch=*",
        graft.streaming.CusumStream.calibrateK(ev3), "stream_cusum_tbl")
    }),

    // streaming histogram replay: three lineitem drops → micro-batched
    // register accumulation; the final state is fed through the SAME
    // quantile walk as the batch sketch and shares its oracle SQL —
    // hash-green means the streamed register file equals the batch
    // histogram (mergeability live). Drop split is order-invariant
    // (registers sum), so no stamping. SIDE EFFECT: temp-dir drops.
    "stream_hist_replay" -> ((s, d) => {
      val dir = histReplayDir
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_extendedprice", "l_returnflag")
      Seq(("a", 0), ("b", 1), ("c", 2)).foreach { case (tag, r) =>
        li.filter(pmod(col("l_orderkey"), lit(3)) === r)
          .select("l_extendedprice", "l_returnflag").coalesce(1)
          .write.mode("overwrite").parquet(dir + s"/drop=$tag")
      }
      val name = graft.streaming.SketchStream.runBounded(
        s, dir + "/drop=*", "stream_hist_tbl")
      Sketch.quantilesFromRegisters(s.table(name))
    }),

    // per-group streaming replay: three event drops → one register
    // file PER event_type accumulated across micro-batches, fed into
    // the SAME per-group quantile walk as the batch sketch — shares
    // sketch_hist_by_type's oracle verbatim, so hash-green proves the
    // per-tenant dashboard shape streams. Drop split is order-invariant
    // (registers sum per group). SIDE EFFECT: temp-dir drops.
    "stream_hist_by_type_replay" -> ((s, d) => {
      val dir = histByTypeReplayDir
      val evs = ev(s, d).select("event_id", "event_type", "value")
      Seq(("a", 0), ("b", 1), ("c", 2)).foreach { case (tag, r) =>
        evs.filter(pmod(col("event_id"), lit(3)) === r)
          .select("event_type", "value").coalesce(1)
          .write.mode("overwrite").parquet(dir + s"/drop=$tag")
      }
      val name = graft.streaming.SketchStream.runBoundedByType(
        s, dir + "/drop=*", "stream_hist_by_type_tbl")
      // localCheckpoint: the walk joins the register file against its
      // own aggregate on event_type, and the memory-sink MemoryPlan
      // leaf can't deduplicate conflicting attribute ids the way file
      // scans do — snapshot the (groups × ≤1024)-row state first
      Sketch.groupQuantilesFromRegisters(s.table(name).localCheckpoint(),
        Sketch.groupCentsBase(evs.select("event_type", "value")))
    }),

    // APPEND-mode streaming hourly replay: every window emits exactly
    // once when the watermark closes it (production sink semantics);
    // sentinel drops close the tail windows, so the replay equals the
    // batch hourly aggregate. SIDE EFFECT: writes drops to a temp dir.
    "stream_hourly_replay" -> ((s, d) => {
      val dir = hourlyReplayDir
      val ev3 = ev(s, d).select("ts", "event_type", "value")
      val cut1 = lit("2024-01-11").cast("timestamp")
      val cut2 = lit("2024-01-21").cast("timestamp")
      def sentinel(at: String) = s.range(1).select(
        lit(at).cast("timestamp").as("ts"),
        lit("__sentinel").as("event_type"), lit(0.0).as("value"))
      Seq(
        ("a", ev3.filter(col("ts") < cut1)),
        ("b", ev3.filter(col("ts") >= cut1 && col("ts") < cut2)),
        ("c", ev3.filter(col("ts") >= cut2)),
        ("d", sentinel("2024-03-01 00:00:00")),
        ("e", sentinel("2024-04-01 00:00:00"))).foreach { case (tag, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(dir + s"/batch=$tag")
      }
      graft.streaming.IndicatorStream.stampDropOrder(dir, Seq("a", "b", "c", "d", "e"))
      val name = graft.streaming.EventStream.runReplayAppend(s, dir, "stream_hourly_tbl")
      s.table(name)
        .filter(col("event_type") =!= "__sentinel")
        .orderBy("hour", "event_type")
    }),

    // gaps-and-islands: contiguous runs of the RSI threshold state per
    // symbol — the SCD-2 validity-interval build expressed as the
    // row_number-difference island id (one window pass, no self-join)
    "signal_islands" -> ((s, d) => {
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
    }),

    // NEAREST as-of: closer of the backward and forward month-start
    // anchors, ties to backward — composed from the two existing as-of
    // joins, each carrying its anchor date for the distance compare
    "asof_nearest_ratio" -> ((s, d) => {
      val st = Tables.stocks(s, d)
      val anchors = st.filter(dayofmonth(col("date")) === 1)
        .select(col("symbol"), col("date"), col("close").as("anchor_close"))
      val back = AsOf.joinAsOf(st.select("symbol", "date", "close"),
          anchors.withColumn("bdate", col("date")),
          Seq("symbol"), "date", Seq("anchor_close", "bdate"))
        .withColumnRenamed("anchor_close", "b_close")
      val fwd = AsOf.joinAsOfForward(st.select("symbol", "date", "close"),
          anchors.withColumn("fdate", col("date")),
          Seq("symbol"), "date", Seq("anchor_close", "fdate"))
        .select(col("symbol"), col("date"),
          col("anchor_close").as("f_close"), col("fdate"))
      val nearest = when(col("f_close").isNull, col("b_close"))
        .when(col("b_close").isNull, col("f_close"))
        .when(datediff(col("date"), col("bdate")) <= datediff(col("fdate"), col("date")),
          col("b_close"))
        .otherwise(col("f_close"))
      val dir = when(col("f_close").isNull, lit("backward"))
        .when(col("b_close").isNull, lit("forward"))
        .when(datediff(col("date"), col("bdate")) <= datediff(col("fdate"), col("date")),
          lit("backward"))
        .otherwise(lit("forward"))
      back.join(fwd, Seq("symbol", "date"))
        .withColumn("anchor_close", nearest)
        .withColumn("direction", dir)
        .withColumn("ratio", round(col("close") / col("anchor_close"), 4))
        .select("symbol", "date", "close", "anchor_close", "direction", "ratio")
        .orderBy("symbol", "date")
    }),

    // streaming sessionization replay on the oracle surface: three
    // chronological event drops exercise cross-batch session state,
    // then two far-future sentinel drops (user -1) push the watermark
    // past every gap horizon so the EventTimeTimeout path flushes every
    // real session — the replay must reproduce the batch sessionizer
    // (same oracle SQL as events_sessionize) exactly, open sessions
    // included. SIDE EFFECT: writes the replay drops under a per-JVM
    // temp dir.
    "stream_sessions_replay" -> ((s, d) => {
      val dir = sessionsReplayDir
      val ev3 = ev(s, d).select("user_id", "ts", "value")
      val cut1 = lit("2024-01-11").cast("timestamp")
      val cut2 = lit("2024-01-21").cast("timestamp")
      def sentinel(at: String) = ev3.sparkSession.range(1).select(
        lit(-1L).as("user_id"), lit(at).cast("timestamp").as("ts"),
        lit(0.0).as("value"))
      Seq(
        ("a", ev3.filter(col("ts") < cut1)),
        ("b", ev3.filter(col("ts") >= cut1 && col("ts") < cut2)),
        ("c", ev3.filter(col("ts") >= cut2)),
        ("d", sentinel("2024-03-01 00:00:00")),
        ("e", sentinel("2024-04-01 00:00:00"))).foreach { case (tag, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(dir + s"/batch=$tag")
      }
      graft.streaming.IndicatorStream.stampDropOrder(dir, Seq("a", "b", "c", "d", "e"))
      val name = graft.streaming.SessionStream.runReplay(s, dir, "stream_sessions_tbl", 30)
      val seqW = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("session_start")
      s.table(name)
        .filter(col("user_id") >= 0)
        .withColumn("session_seq", row_number().over(seqW).cast("long"))
        .select("user_id", "session_seq", "session_start", "session_end",
          "n_events", "value_sum")
        .orderBy("user_id", "session_seq")
    }),

    // ---- skew-salted join (result ≡ plain equi-join; the salt only
    // changes task distribution, which the oracle proves)
    "skew_salted_join" -> ((s, d) => {
      val st = Tables.stocks(s, d)
      val dim = st.groupBy("symbol").agg(max("volume").as("peak_volume"))
      Skew.saltedJoin(st, dim, "symbol", pmod(hash(col("date")), lit(8)), 8)
        .groupBy("symbol")
        .agg(count(lit(1)).as("n"), max("peak_volume").as("peak_volume"))
        .orderBy("symbol")
    }),

    // ---- ingest normalization (P9-P11 + §2.9 scalar functions:
    // upper/trim, to_date, date_format, null-coalesce, casts)
    "ingest_normalize" -> ((s, d) =>
      ev(s, d)
        .withColumn("symbol", upper(trim(col("event_type"))))
        .withColumn("date", to_date(col("ts")))
        .withColumn("month", date_format(col("ts"), "yyyy-MM"))
        .withColumn("close",
          coalesce(when(col("value") < 1.0, lit(null)).otherwise(col("value")), lit(0.0)))
        .withColumn("volume", coalesce(col("user_id"), lit(0L)))
        .select("event_id", "symbol", "date", "month", "close", "volume")
        .orderBy("event_id")))

  /** Shared shingle CTE (3-gram, distinct, 1-indexed — mirrors
    * Dedup.shingles).
    */
  /** 3-gram shingle chain body (no leading WITH) over any (doc_id,
    * text) source CTE/table — lets the planted-twin eval run the SAME
    * chain over an augmented corpus.
    */
  private def sh3Body(src: String): String =
    s"""words AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
       | sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |        FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)),
       | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  private val SH3 = "WITH " + sh3Body("documents")

  private val jaccardExpr = "round(n_common * 1.0 / (sa.n + sb.n - n_common), 4)"

  /** SimHash signature CTE chain ending in sig(doc_id, simhash) —
    * mirrors Dedup.simhash.
    */
  /** Shared BPE CTE chain (train + encode oracles): `iters` unrolled
    * (pair-count p{i} → argmax b{i} → merged state s{i}) rounds over
    * wrapped-symbol states ('the' → '·t··h··e·' — the doubled
    * delimiter makes each merge an exact left-to-right non-overlapping
    * replace on both engines). States carry `word` so the encode
    * oracle can join the final state back to the corpus. s{i} are
    * MATERIALIZED: each is referenced twice (next round's pairs + next
    * state) and DuckDB would otherwise inline them exponentially.
    */
  private def bpeChainSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s""" p$i AS (SELECT ws[j] AS pair_left, ws[j + 1] AS pair_right, cnt
         |       FROM (SELECT string_split(substr(state, 2, length(state) - 2), '··') AS ws, cnt
         |             FROM s${i - 1}), UNNEST(range(1, len(ws))) t(j)
         |       WHERE len(ws) >= 2),
         | c$i AS (SELECT pair_left, pair_right, CAST(sum(cnt) AS BIGINT) AS n
         |       FROM p$i GROUP BY pair_left, pair_right),
         | b$i AS (SELECT pair_left, pair_right, n FROM c$i
         |       ORDER BY n DESC, pair_left, pair_right LIMIT 1),
         | s$i AS MATERIALIZED (SELECT word,
         |       replace(state, '·' || pair_left || '··' || pair_right || '·',
         |               '·' || pair_left || pair_right || '·') AS state, cnt
         |       FROM s${i - 1} CROSS JOIN b$i)""".stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       | wc AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
       | s0 AS MATERIALIZED (SELECT word, regexp_replace(word, '(.)', '·\\1·', 'g') AS state, cnt FROM wc),
       |$rounds""".stripMargin
  }

  /** The BATCHED BPE chain ([[graft.operators.TextOps.bpeTrainMergesBatched]]
    * mirror): per round, the pair-count CTE feeds a `batch`-row ranked
    * window (rk by n DESC, left, right); selection mirrors the Scala
    * side's SEQUENTIAL-GREEDY fold
    * ([[graft.operators.TextOps.selectBatchWindow]]) as an unrolled
    * kept-set chain: k{i}1 seeds with rank 1, k{i}j adds rank j iff it
    * conflicts with NO candidate already KEPT — where conflict is
    * shared-symbol OR merged-equals-symbol in either direction (the
    * two exclusions that make the kept replaces commute: no shared
    * symbol instances, no pattern creation). The pivot folds the
    * ≤`batch` kept patterns into nested replaces (a NULL slot
    * degenerates to the identity replace(state, '·', '·')); since the
    * kept set commutes, nesting order ≡ the Scala fold order.
    */
  private def bpeBatchChainSql(rounds: Int, batch: Int): String =
    bpePhaseChainSql(Seq(("documents", rounds)), batch)

  /** MULTI-PHASE batched-BPE chain — the oracle mirror of the stored
    * tokenizer's extend lifecycle
    * ([[graft.operators.Sink.extendBpeTokenizer]]): each phase trains
    * `rounds` batched rounds over its own corpus (`src`, any FROM-able
    * source), seeded by ALL previous phases' selected merges applied
    * to its vocabulary round by round (the i-chain — sequential CROSS
    * JOINs against the previous phases' pivots, in (phase, round)
    * order; within a round the kept set commutes, so the nested pivot
    * apply ≡ the engine's iter-order fold). A 0-round phase emits only
    * its seeded state (`f{p}_s0`) — the apply-only leg the
    * extended-encode oracle reads. Phase 1 keeps the legacy unprefixed
    * CTE names (sel1, s3, …) so the single-phase train/encode oracles
    * read unchanged.
    */
  private def bpePhaseChainSql(phases: Seq[(String, Int)],
      batch: Int): String = {
    def pfx(p: Int) = if (p == 1) "" else s"f${p}_"
    val pivCols = (1 to batch).map { k =>
      s"""max(CASE WHEN rk = $k THEN '·' || pair_left || '··' || pair_right || '·' END) AS pat$k,
         |       max(CASE WHEN rk = $k THEN '·' || pair_left || pair_right || '·' END) AS rep$k""".stripMargin
    }.mkString(",\n       ")
    val applied = (1 to batch).foldLeft("state") { (acc, k) =>
      s"replace($acc, coalesce(pat$k, '·'), coalesce(rep$k, '·'))"
    }
    phases.zipWithIndex.map { case ((src, rounds), pi) =>
      val f = pfx(pi + 1)
      // every previous phase's per-round pivot, in (phase, round)
      // order — the engine's stored-merge iter order
      val prevPivs = phases.take(pi).zipWithIndex.flatMap {
        case ((_, r0), qi) => (1 to r0).map(r => s"${pfx(qi + 1)}piv$r")
      }
      val seed =
        s"""${f}w AS (SELECT unnest(string_split(text, ' ')) AS word FROM $src),
           | ${f}wc AS (SELECT word, count(*) AS cnt FROM ${f}w GROUP BY word),
           | ${f}i0 AS (SELECT word, regexp_replace(word, '(.)', '·\\1·', 'g') AS state, cnt FROM ${f}wc)""".stripMargin
      val inherit = prevPivs.zipWithIndex.map { case (piv, m) =>
        s""" ${f}i${m + 1} AS (SELECT word, $applied AS state, cnt
           |       FROM ${f}i$m CROSS JOIN $piv)""".stripMargin
      }
      val s0 =
        s" ${f}s0 AS MATERIALIZED (SELECT word, state, cnt FROM ${f}i${prevPivs.length})"
      val roundCtes = (1 to rounds).map { i =>
        // greedy kept-set unroll: k$i$j = kept set after considering
        // rank j (each CTE referenced twice — union + NOT EXISTS — so
        // they stay tiny ≤batch-row frames; t$i is MATERIALIZED because
        // the chain references it `batch` times and DuckDB inlines
        // multi-referenced CTEs)
        // seed + greedy steps joined as ONE list so batch == 1 (no
        // steps) emits no dangling comma
        val keptCtes =
          (s""" ${f}k${i}_1 AS (SELECT pair_left, pair_right, n, rk FROM ${f}t$i WHERE rk = 1)""" +:
            (2 to batch).map { j =>
              s""" ${f}k${i}_$j AS (SELECT * FROM ${f}k${i}_${j - 1}
                 |       UNION ALL
                 |       SELECT a.* FROM ${f}t$i a WHERE a.rk = $j
                 |         AND NOT EXISTS (SELECT 1 FROM ${f}k${i}_${j - 1} b
                 |           WHERE b.pair_left IN (a.pair_left, a.pair_right)
                 |             OR b.pair_right IN (a.pair_left, a.pair_right)
                 |             OR (b.pair_left || b.pair_right) IN (a.pair_left, a.pair_right)
                 |             OR (a.pair_left || a.pair_right) IN (b.pair_left, b.pair_right)))""".stripMargin
            }).mkString(",\n")
        s""" ${f}p$i AS (SELECT ws[j] AS pair_left, ws[j + 1] AS pair_right, cnt
           |       FROM (SELECT string_split(substr(state, 2, length(state) - 2), '··') AS ws, cnt
           |             FROM ${f}s${i - 1}), UNNEST(range(1, len(ws))) t(j)
           |       WHERE len(ws) >= 2),
           | ${f}c$i AS (SELECT pair_left, pair_right, CAST(sum(cnt) AS BIGINT) AS n
           |       FROM ${f}p$i GROUP BY pair_left, pair_right),
           | ${f}t$i AS MATERIALIZED (SELECT pair_left, pair_right, n, rk FROM (
           |       SELECT pair_left, pair_right, n,
           |         row_number() OVER (ORDER BY n DESC, pair_left, pair_right) AS rk
           |       FROM ${f}c$i) WHERE rk <= $batch),
           |$keptCtes,
           | ${f}sel$i AS (SELECT pair_left, pair_right, n, rk FROM ${f}k${i}_$batch),
           | ${f}piv$i AS (SELECT
           |       $pivCols
           |       FROM ${f}sel$i),
           | ${f}s$i AS MATERIALIZED (SELECT word, $applied AS state, cnt
           |       FROM ${f}s${i - 1} CROSS JOIN ${f}piv$i)""".stripMargin
      }
      (Seq(seed) ++ inherit ++ Seq(s0) ++ roundCtes).mkString(",\n")
    }.mkString(",\n")
  }

  /** The stored merge table over a phase chain: every phase's selected
    * merges in (phase, round, rank) order, `iter` re-numbered globally
    * and `round` continuing across phases from each phase's ROUND
    * BUDGET — exactly how [[graft.operators.Sink.extendBpeTokenizer]]
    * numbers its appends (iter from the manifest's n_merges, round
    * from its recorded round budget).
    */
  private def bpePhaseMergesSql(phases: Seq[(String, Int)]): String = {
    val rows = phases.zipWithIndex.flatMap { case ((_, r0), pi) =>
      val f = if (pi == 0) "" else s"f${pi + 1}_"
      val base = phases.take(pi).map(_._2).sum
      (1 to r0).map(i =>
        s"SELECT ${base + i} AS round, rk, pair_left, pair_right, n FROM ${f}sel$i")
    }.mkString("\n UNION ALL\n ")
    s"""m AS ($rows)
       | SELECT CAST(row_number() OVER (ORDER BY round, rk) AS INTEGER) AS iter,
       |   CAST(round AS INTEGER) AS round, CAST(rk AS INTEGER) AS rk,
       |   pair_left, pair_right, pair_left || pair_right AS merged, n
       | FROM m ORDER BY iter""".stripMargin
  }

  /** The shared encode tail: per-word token counts from a final-state
    * CTE, joined back to per-doc occurrences over `corpus`.
    */
  private def bpeEncodeTailSql(stateCte: String,
      corpus: String = "documents"): String =
    s""" enc AS (SELECT word,
       |       len(string_split(substr(state, 2, length(state) - 2), '··')) AS n_toks
       |       FROM $stateCte),
       | dw AS (SELECT doc_id, word, count(*) AS occ
       |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM $corpus)
       |       GROUP BY doc_id, word),
       | j AS (SELECT doc_id,
       |       CAST(sum(occ) AS BIGINT) AS n_words,
       |       CAST(sum(occ * length(word)) AS BIGINT) AS n_char_tokens,
       |       CAST(sum(occ * n_toks) AS BIGINT) AS n_bpe_tokens
       |       FROM dw JOIN enc USING (word) GROUP BY doc_id)
       | SELECT doc_id, n_words, n_char_tokens, n_bpe_tokens,
       |   round(CAST(n_char_tokens AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE), 4) AS compression
       | FROM j ORDER BY doc_id""".stripMargin

  private lazy val bpeEncodeBatchedOracle: String =
    s"""WITH ${bpeBatchChainSql(3, 3)},
       |${bpeEncodeTailSql("s3")}""".stripMargin

  /** The stored-tokenizer extend fixture: train on the original corpus
    * (doc_id < 400, 2 rounds), extend on the new-domain docs (2 more).
    */
  private val bpeExtendPhases = Seq(
    ("(SELECT * FROM documents WHERE doc_id < 400)", 2),
    ("(SELECT * FROM documents WHERE doc_id >= 400)", 2))

  /** The streaming-extend fixture: the ≥400 docs split into two
    * mtime-ordered drops (even then odd doc_id), one round each.
    */
  private val bpeStreamPhases = Seq(
    ("(SELECT * FROM documents WHERE doc_id < 400)", 2),
    ("(SELECT * FROM documents WHERE doc_id >= 400 AND doc_id % 2 = 0)", 1),
    ("(SELECT * FROM documents WHERE doc_id >= 400 AND doc_id % 2 = 1)", 1))

  private val simhashSigSql: String =
    """WITH words AS (SELECT DISTINCT doc_id, word FROM
      |     (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)),
      | wh AS (SELECT doc_id, md5(word) AS h FROM words),
      | bits AS (
      |   SELECT doc_id, i AS b,
      |     ((strpos('0123456789abcdef', substr(h, (i // 4) + 1, 1)) - 1) >> (3 - (i % 4))) & 1 AS bit
      |   FROM wh, UNNEST(range(0, 64)) AS t(i)),
      | sums AS (SELECT doc_id, b, sum(bit * 2 - 1) AS s FROM bits GROUP BY doc_id, b),
      | sig AS (SELECT doc_id,
      |   string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
      |   FROM sums GROUP BY doc_id)""".stripMargin

  /** Suffix-array hit mining shared by the repeats report and the
    * scrub: word-level suffixes truncated to 20, bucketed by their
    * first 5 words, per-bucket WORD-ARRAY sort + adjacent word-LCP
    * (element-wise list order in both engines — robust to tokens
    * containing control characters, unlike joined-string order);
    * over-cap buckets (bn > cap) skip the sort and emit every member
    * at rep_len = 5, the population-cap semantics Dedup.suffixHits
    * implements; `hit` = (doc_id, pos, sw, rep_len ≥ 5).
    */
  private lazy val suffixHitsCte: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      | sfx AS (SELECT doc_id, CAST(p AS INTEGER) AS pos, ws[p:least(p+19, len(ws))] AS sw
      |         FROM w, UNNEST(range(1, len(ws)+1)) AS t(p)
      |         WHERE len(ws) - p + 1 >= 5),
      | b AS (SELECT doc_id, pos, sw,
      |         array_to_string(sw[1:5], ' ') AS bucket FROM sfx),
      | c AS (SELECT doc_id, pos, sw, bucket,
      |         count(*) OVER (PARTITION BY bucket) AS bn FROM b),
      | lg AS (SELECT doc_id, pos, sw,
      |     lag(sw) OVER (PARTITION BY bucket ORDER BY sw, doc_id, pos) AS pw,
      |     lead(sw) OVER (PARTITION BY bucket ORDER BY sw, doc_id, pos) AS nw
      |   FROM c WHERE bn >= 2 AND bn <= ${Dedup.suffixBucketCap}),
      | lc AS (SELECT doc_id, pos, sw,
      |     greatest(
      |       coalesce(list_sum(list_transform(range(1, least(len(sw), len(pw)) + 1),
      |         k -> CASE WHEN sw[1:k] = pw[1:k] THEN 1 ELSE 0 END)), 0),
      |       coalesce(list_sum(list_transform(range(1, least(len(sw), len(nw)) + 1),
      |         k -> CASE WHEN sw[1:k] = nw[1:k] THEN 1 ELSE 0 END)), 0)) AS rep_len
      |   FROM lg),
      | hit AS (SELECT doc_id, pos, sw, CAST(rep_len AS INTEGER) AS rep_len
      |         FROM lc WHERE rep_len >= 5
      |         UNION ALL
      |         SELECT doc_id, pos, sw, 5 AS rep_len
      |         FROM c WHERE bn > ${Dedup.suffixBucketCap})""".stripMargin

  /** The DSIR chain up through `d` (doc_id, n_tokens, dsir_logw) —
    * shared by the weights report and the log-space weighted sampler.
    */
  private lazy val dsirCoreCte: String =
    s"""WITH t AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents),
       | hb AS (SELECT doc_id, source, ($hexPrefixSql) % 8192 AS b
       |        FROM (SELECT doc_id, source, md5(tok) AS m FROM t)),
       | ct AS (SELECT b, count(*) AS c_t FROM hb WHERE source = 'src0' GROUP BY b),
       | cr AS (SELECT b, count(*) AS c_r FROM hb GROUP BY b),
       | tot AS (SELECT (SELECT sum(c_r) FROM cr) AS n_r, (SELECT sum(c_t) FROM ct) AS n_t),
       | lr AS (SELECT b,
       |     CAST(round(ln(((coalesce(c_t, 0) + 0.5) / (CAST(n_t AS DOUBLE) + 4096.0)) /
       |       ((c_r + 0.5) / (CAST(n_r AS DOUBLE) + 4096.0))), 8) AS DECIMAL(14,8)) AS lr
       |   FROM cr LEFT JOIN ct USING (b), tot),
       | d AS (SELECT doc_id, count(*) AS n_tokens,
       |     round(CAST(sum(lr) AS DOUBLE), 6) AS dsir_logw
       |   FROM hb JOIN lr USING (b) GROUP BY doc_id)""".stripMargin

  /** The manifest core — simhash near-dup keepers × the cleaning
    * verdict chain, ending in `mrow` (doc_id, keep, is_keeper,
    * include, manifest_reasons). Shared by the plain manifest oracle
    * and the scrub-chained variant.
    */
  /** Survivor-subset semantic-dedup CTE chain (the round-15 sized
    * layout: cells = ⌈N_survivors/64⌉ — mirrors
    * Similarity.semDedupSized at targetCellSize=64 — with the hi-rank
    * skew cap 256 = 4×size): mrow.include → se (survivor vectors) →
    * two unrolled Lloyd's rounds → srk (cell-ranked) → sdrop
    * (intra-cell cos ≥ 0.4 against an earlier-ranked reference at
    * rk ≤ 256). Needs `mrow` in scope ([[manifestCoreCte]]); shared by
    * corpus_funnel_embed and corpus_funnel_topics.
    */
  private lazy val survivorSemDedupCtes: String =
    """scorp AS MATERIALIZED (SELECT e0.vec_id, e0.embedding FROM embeddings e0
      |           JOIN mrow m2 ON m2.doc_id = e0.vec_id WHERE m2.include),
      | se AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |        FROM scorp),
      | sknum AS (SELECT greatest(CAST(ceil(count(*) / 64.0) AS BIGINT), 1) AS k FROM se),
      | sc0 AS (SELECT vec_id AS cell, v AS c FROM (
      |           SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn FROM se)
      |         WHERE rn <= (SELECT k FROM sknum)),
      | sd1 AS (SELECT se.vec_id, sc0.cell,
      |           round(SUM((se.v[i] - sc0.c[i]) * (se.v[i] - sc0.c[i])), 6) AS d
      |         FROM se, sc0, UNNEST(range(1, 65)) t(i)
      |         GROUP BY se.vec_id, sc0.cell),
      | sa1 AS (SELECT vec_id, cell FROM (
      |           SELECT vec_id, cell,
      |             row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |           FROM sd1) WHERE rn = 1),
      | sm1 AS (SELECT cell, i, round(avg(se.v[i]), 6) AS m
      |         FROM sa1 JOIN se USING (vec_id), UNNEST(range(1, 65)) t(i)
      |         GROUP BY cell, i),
      | sc1 AS (SELECT cell, list(m ORDER BY i) AS c FROM sm1 GROUP BY cell),
      | sd2 AS (SELECT se.vec_id, sc1.cell,
      |           round(SUM((se.v[i] - sc1.c[i]) * (se.v[i] - sc1.c[i])), 6) AS d
      |         FROM se, sc1, UNNEST(range(1, 65)) t(i)
      |         GROUP BY se.vec_id, sc1.cell),
      | sa2 AS (SELECT vec_id, cell, d FROM (
      |           SELECT vec_id, cell, d,
      |             row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |           FROM sd2) WHERE rn = 1),
      | srk AS MATERIALIZED (SELECT vec_id, cell, d,
      |           row_number() OVER (PARTITION BY cell ORDER BY d, vec_id) AS rk
      |         FROM sa2),
      | spr AS (SELECT b.vec_id,
      |     round(SUM(ea.v[i] * eb.v[i]) /
      |       (sqrt(SUM(ea.v[i] * ea.v[i])) * sqrt(SUM(eb.v[i] * eb.v[i]))), 4) AS cos
      |   FROM srk a JOIN srk b ON a.cell = b.cell AND a.rk < b.rk AND a.rk <= 256
      |   JOIN se ea ON ea.vec_id = a.vec_id JOIN se eb ON eb.vec_id = b.vec_id,
      |   UNNEST(range(1, 65)) t(i)
      |   GROUP BY a.vec_id, b.vec_id),
      | sdrop AS (SELECT DISTINCT vec_id FROM spr WHERE cos >= 0.4)""".stripMargin

  private lazy val manifestCoreCte: String =
    s"""${"WITH RECURSIVE " + simhashPairsCte.stripPrefix("WITH ")},
       | p AS (SELECT doc_a, doc_b FROM dists WHERE dist <= 3),
       | e2 AS (SELECT doc_a AS a, doc_b AS b FROM p
       |        UNION SELECT doc_b, doc_a FROM p),
       | reach(id, r) AS (
       |   SELECT a, a FROM e2
       |   UNION
       |   SELECT e3.a, r.r FROM e2 e3 JOIN reach r ON e3.b = r.id),
       | lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
       | keepers AS (SELECT d.doc_id,
       |     coalesce(l.cluster, d.doc_id) = d.doc_id AS is_keeper
       |   FROM documents d LEFT JOIN lab l ON d.doc_id = l.id),
       | wds AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       | wagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words
       |          FROM (SELECT doc_id, word, count(*) AS c
       |                FROM (SELECT doc_id, unnest(w) AS word FROM wds)
       |                GROUP BY doc_id, word)
       |          GROUP BY doc_id),
       | bagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bigram
       |          FROM (SELECT doc_id, s, count(*) AS c
       |                FROM (SELECT doc_id, w[i] || ' ' || w[i+1] AS s
       |                      FROM wds, UNNEST(range(1, len(w))) AS t(i))
       |                GROUP BY doc_id, s)
       |          GROUP BY doc_id),
       | tagg AS (SELECT doc_id, count(*) AS n_trigrams, count(DISTINCT s) AS n_distinct_trigrams
       |          FROM (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |                FROM wds, UNNEST(range(1, len(w) - 1)) AS t(i))
       |          GROUP BY doc_id),
       | csig AS (SELECT d.doc_id,
       |           wagg.n_words,
       |           (coalesce(round(top_bigram / n_bigrams, 4) > 0.18, false)
       |            OR coalesce(round(1.0 - n_distinct_trigrams / n_trigrams, 4) > 0.3, false)) AS flag,
       |           d.doc_id <> min(d.doc_id) OVER (PARTITION BY md5(d.text)) AS is_dup
       |         FROM documents d
       |         LEFT JOIN wagg USING (doc_id)
       |         LEFT JOIN bagg USING (doc_id)
       |         LEFT JOIN tagg USING (doc_id)),
       | cl AS (SELECT doc_id,
       |   concat_ws(',', CASE WHEN is_dup THEN 'exact_dup' END,
       |                  CASE WHEN n_words IS NULL OR n_words < 30 THEN 'too_short' END,
       |                  CASE WHEN flag AND n_words >= 30 THEN 'repetitive' END) AS reasons
       |   FROM csig),
       | mrow AS (SELECT cl.doc_id, cl.reasons = '' AS keep, k.is_keeper,
       |   (cl.reasons = '' AND k.is_keeper) AS include,
       |   concat_ws(',', CASE WHEN cl.reasons <> '' THEN cl.reasons END,
       |     CASE WHEN NOT k.is_keeper THEN 'near_dup' END) AS manifest_reasons
       | FROM cl JOIN keepers k ON k.doc_id = cl.doc_id)""".stripMargin

  /** [[manifestCoreCte]] + the suffix scrub chain, ending in `mscrub`
    * (one manifest+scrub row per doc) — shared by the per-doc
    * manifest artifact and the one-row corpus report.
    */
  private lazy val manifestScrubbedCte: String =
    s"""$manifestCoreCte,
       | ${suffixHitsCte.stripPrefix("WITH ")},
       | fp AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + rep_len)) AS p2 FROM hit),
       | wp AS (SELECT doc_id, CAST(i AS INTEGER) AS wpos, ws[i] AS word
       |        FROM w, UNNEST(range(1, len(ws)+1)) AS t(i)),
       | kept AS (SELECT wp.doc_id, wp.wpos, wp.word
       |          FROM wp LEFT JOIN fp ON fp.doc_id = wp.doc_id AND fp.p2 = wp.wpos
       |          WHERE fp.p2 IS NULL),
       | rebuilt AS (SELECT doc_id, count(*) AS n_kept,
       |     string_agg(word, ' ' ORDER BY wpos) AS cleaned_text
       |   FROM kept GROUP BY doc_id),
       | wtot AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words FROM w),
       | scrub AS (SELECT t.doc_id, t.n_words,
       |     t.n_words - coalesce(r.n_kept, 0) AS n_removed,
       |     coalesce(r.cleaned_text, '') AS cleaned_text
       |   FROM wtot t LEFT JOIN rebuilt r USING (doc_id)),
       | mscrub AS (SELECT m.doc_id, m.keep, m.is_keeper, m.include,
       |   concat_ws(',', CASE WHEN m.manifest_reasons <> '' THEN m.manifest_reasons END,
       |     CASE WHEN s.n_removed > 0 THEN 'span_scrubbed' END) AS manifest_reasons,
       |   s.n_words, s.n_removed, s.cleaned_text
       | FROM mrow m JOIN scrub s ON s.doc_id = m.doc_id)""".stripMargin

  /** BM25 chain up through the ranked list `rk` — shared by the plain
    * top-k query and the RRF hybrid fusion.
    */
  private lazy val bm25Cte: String =
    """WITH wrds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      | dl AS (SELECT doc_id, count(*) AS dl FROM wrds GROUP BY doc_id),
      | n AS (SELECT count(*) AS nd FROM documents),
      | ad AS (SELECT CAST(sum(dl) AS DOUBLE) / (SELECT nd FROM n) AS avgdl FROM dl),
      | tf AS (SELECT doc_id, word, count(*) AS tf FROM wrds
      |        WHERE word IN ('hash', 'merge', 'scan') GROUP BY doc_id, word),
      | dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
      | sc AS (SELECT tf.doc_id,
      |     CAST(round(
      |       round(ln(((SELECT nd FROM n) - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0), 6)
      |       * (tf.tf * 2.2)
      |       / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * round(dl.dl / (SELECT avgdl FROM ad), 6))),
      |       6) AS DECIMAL(18,6)) AS term_score
      |   FROM tf JOIN dfq USING (word) JOIN dl USING (doc_id)),
      | pd AS (SELECT doc_id, sum(term_score) AS score_d, count(*) AS n_terms
      |        FROM sc GROUP BY doc_id),
      | rk AS (SELECT row_number() OVER (ORDER BY score_d DESC, doc_id) AS rnk,
      |          doc_id, n_terms, CAST(score_d AS DOUBLE) AS score FROM pd)""".stripMargin

  /** Stored-index search after the incremental append: train on base
    * (vec_id < 400), assign EVERYTHING with the trained centroids,
    * search the union — shared by the one-shot append query and its
    * streaming drop-at-a-time replay.
    */
  private lazy val ivfAppendSearchOracle: String =
    s"""${kmeansBaseTrainedCte(400)},
       | wc AS (SELECT emb.vec_id, emb.embedding, a2.cell
       |        FROM embeddings emb JOIN a2 USING (vec_id)),
       | q AS (SELECT vec_id AS qid, embedding AS qe, cell AS qcell
       |       FROM wc WHERE vec_id < 10),
       | p AS (SELECT qid, cell, wc.vec_id,
       |         round(SUM(CAST(qe[i] AS DOUBLE) * CAST(wc.embedding[i] AS DOUBLE)) /
       |           (sqrt(SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) *
       |            sqrt(SUM(CAST(wc.embedding[i] AS DOUBLE) * CAST(wc.embedding[i] AS DOUBLE)))), 4) AS cos
       |       FROM q JOIN wc ON q.qcell = wc.cell AND q.qid <> wc.vec_id,
       |            UNNEST(range(1, 65)) t(i)
       |       GROUP BY qid, cell, wc.vec_id),
       | r AS (SELECT qid, cell, vec_id, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
       |       FROM p)
       | SELECT qid, cell, rnk, vec_id, cos FROM r WHERE rnk <= 3
       | ORDER BY qid, rnk""".stripMargin

  /** [[ivfAppendSearchOracle]] with the tombstoned ids (vec_id ≡ 3
    * mod 17) removed from the CANDIDATE side only: deleted ids still
    * query (the query frame is the caller's, not the index), they just
    * never serve as neighbors. Mirrors the broadcast anti-join the
    * stored search applies over the tombstone table.
    */
  private lazy val ivfDeleteSearchOracle: String =
    s"""${kmeansBaseTrainedCte(400)},
       | wc AS (SELECT emb.vec_id, emb.embedding, a2.cell
       |        FROM embeddings emb JOIN a2 USING (vec_id)),
       | q AS (SELECT vec_id AS qid, embedding AS qe, cell AS qcell
       |       FROM wc WHERE vec_id < 10),
       | live AS (SELECT * FROM wc WHERE vec_id % 17 <> 3),
       | p AS (SELECT qid, cell, live.vec_id,
       |         round(SUM(CAST(qe[i] AS DOUBLE) * CAST(live.embedding[i] AS DOUBLE)) /
       |           (sqrt(SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) *
       |            sqrt(SUM(CAST(live.embedding[i] AS DOUBLE) * CAST(live.embedding[i] AS DOUBLE)))), 4) AS cos
       |       FROM q JOIN live ON q.qcell = live.cell AND q.qid <> live.vec_id,
       |            UNNEST(range(1, 65)) t(i)
       |       GROUP BY qid, cell, live.vec_id),
       | r AS (SELECT qid, cell, vec_id, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
       |       FROM p)
       | SELECT qid, cell, rnk, vec_id, cos FROM r WHERE rnk <= 3
       | ORDER BY qid, rnk""".stripMargin

  /** [[ivfPqAppendOracle]] with the tombstoned ids removed from the
    * SCORED population only (queries keep querying): the PQ twin of
    * [[ivfDeleteSearchOracle]] — masking applies before ADC ranking,
    * exactly where the serving path anti-joins the tombstone table.
    */
  private lazy val ivfPqDeleteOracle: String = {
    val bodies = (0 until 4).map(pqSubBodyBase(_, 8, 16, 10, 400)).mkString(",\n ")
    s"""${kmeansBaseTrainedCte(400)},
       | $bodies,
       | ${ivfPqSearchTail(" AND pr.vec_id % 17 <> 3")}""".stripMargin
  }

  /** CMS depth-row bucket h_d(x) = ((a_d·x + b_d) mod P) mod 4096 from
    * one shared base hash — mirrors Sketch.depthBuckets (same minhash
    * (a, b) constants, same Mersenne P).
    */
  private lazy val cmsBucketCaseSql: String =
    "CASE d " + Dedup.minhashParams.take(4).zipWithIndex.map { case ((a, b), i) =>
      s"WHEN '$i' THEN (($a * x + $b) % ${Dedup.minhashP}) % 4096"
    }.mkString(" ") + " END"

  /** 8-char ascii polynomial over an md5 hex digest `m` — mirrors
    * Dedup.shingleBase.
    */
  private val minhashBaseSql: String =
    (1 to 8).map(i =>
      s"CAST(ascii(substr(m, $i, 1)) AS BIGINT) * ${math.pow(128, 8 - i).toLong}")
      .mkString(" + ")

  /** Exact integer value of the first 8 hex nibbles of an md5 digest
    * `m` — mirrors Similarity.hexBucket (uniform for power-of-two
    * moduli, unlike the ascii polynomial whose low-order support is
    * sparse there); the winnowing fingerprint's hex-parse pattern.
    */
  private val hexPrefixSql: String =
    (1 to 8).map(i =>
      s"(CAST(ascii(substr(m, $i, 1)) AS BIGINT) - CASE WHEN ascii(substr(m, $i, 1)) >= 97 THEN 87 ELSE 48 END) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")

  /** The mix materialize → shard → pack CTE chain up to `pk`
    * (instances with per-shard positions and running token offsets) —
    * shared by the instance-level `mix_pack_shard` oracle and the
    * token-level `mix_pack_split` one. NOTE the two BIGINT casts
    * (`tok_offset`, the pe branch's `toks_out`): DuckDB window SUMs
    * widen to HUGEINT and an uncast column would leave the oracle as
    * decimal128 against Spark's int64 under the type-sensitive driver
    * hash (the r15 red row).
    */
  private lazy val mixPackCtes: String =
    s"""WITH ps AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t
      |            FROM documents GROUP BY source),
      | q AS (SELECT source, t,
      |     CAST(CAST(round(sqrt(CAST(t AS DOUBLE)), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS s
      |   FROM ps),
      | tot AS (SELECT CAST(sum(s) AS HUGEINT) AS stot FROM q),
      | b AS (SELECT source, t, s,
      |     CASE WHEN stot = 0 THEN 0 ELSE (CAST(1000000 AS HUGEINT) * s) // stot END AS base,
      |     CASE WHEN stot = 0 THEN 0 ELSE (CAST(1000000 AS HUGEINT) * s) % stot END AS rem0
      |   FROM q, tot),
      | sb AS (SELECT CAST(sum(base) AS BIGINT) AS sb FROM b),
      | rk AS (SELECT source, row_number() OVER (ORDER BY rem0 DESC, source) AS rnk FROM b),
      | al AS (SELECT b.source, b.t,
      |     CAST(b.base + CASE WHEN rk.rnk <= 1000000 - sb.sb THEN 1 ELSE 0 END AS BIGINT)
      |       AS target
      |   FROM b JOIN rk USING (source), sb),
      | al2 AS (SELECT source, t, target // t AS full_epochs, target % t AS rem FROM al),
      | dt AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
      |        FROM documents),
      | fe AS (SELECT dt.doc_id, dt.source, e.epoch, dt.tokens AS toks_out
      |        FROM dt JOIN al2 USING (source), UNNEST(range(0, al2.full_epochs)) AS e(epoch)),
      | pc AS (SELECT source, doc_id, tokens,
      |          COALESCE(SUM(tokens) OVER (PARTITION BY source
      |            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      |        FROM dt),
      | pe AS (SELECT pc.doc_id, pc.source, al2.full_epochs AS epoch,
      |          CAST(LEAST(pc.tokens, al2.rem - pc.prev) AS BIGINT) AS toks_out
      |        FROM pc JOIN al2 USING (source) WHERE pc.prev < al2.rem),
      | un AS (SELECT * FROM fe UNION ALL SELECT * FROM pe),
      | ins AS (SELECT doc_id, source, epoch, toks_out,
      |          CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR) AS inst FROM un),
      | shd AS (SELECT ins.*, md5(inst) AS m FROM ins),
      | sh2 AS (SELECT doc_id, source, epoch, toks_out, inst, m,
      |          ($hexPrefixSql) % 8 AS shard FROM shd),
      | po AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY m, inst) - 1 AS pos
      |        FROM sh2),
      | pk AS (SELECT *, CAST(COALESCE(SUM(toks_out) OVER (PARTITION BY shard ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
      |        FROM po)""".stripMargin

  /** MinHash+LSH near-dup pair SQL (signatures → capped banding →
    * exact-Jaccard verify) — shared by dedup_minhash_lsh and its
    * streaming replay twin stream_neardup_replay.
    */
  /** Shared bigram-LM chain → `lmres(doc_id, n_bigrams, avg_logp)` —
    * the TextOps.lmScore mirror, reused by the score and the CCNet
    * binning oracles.
    */
  private lazy val lmScoreCte: String =
    """WITH wrds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      | uni AS (SELECT w, count(*) AS cw FROM wrds GROUP BY w),
      | v AS (SELECT count(DISTINCT w) AS vs FROM wrds),
      | wl AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      | big AS (SELECT doc_id, ws[i] AS w1, ws[i] || ' ' || ws[i+1] AS s
      |         FROM wl, UNNEST(range(1, len(ws))) AS t(i)),
      | bc AS (SELECT s, count(*) AS cb FROM big GROUP BY s),
      | lp AS (SELECT big.doc_id,
      |          CAST(round(ln((bc.cb + 1) * 1.0 / (uni.cw + v.vs)), 6) AS DECIMAL(18,6)) AS lp
      |        FROM big JOIN bc USING (s) JOIN uni ON uni.w = big.w1 CROSS JOIN v),
      | agg AS (SELECT doc_id, count(*) AS n_bigrams,
      |           round(CAST(SUM(lp) AS DOUBLE) / count(*), 4) AS avg_logp
      |         FROM lp GROUP BY doc_id),
      | lmres AS (SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, a.avg_logp
      |           FROM documents d LEFT JOIN agg a USING (doc_id))""".stripMargin

  /** Shared multinomial-NB chain → `nbres(doc_id, lang, nb_pred,
    * n_tokens, nb_logp, margin, is_match)` — the Classify.nbLangScores
    * mirror (add-one smoothing, 6dp DECIMAL log terms, argmax with
    * lang tiebreak), reused by the score and the confusion oracles.
    * `wrds` is MATERIALIZED — four CTE references would otherwise
    * re-explode the corpus per reference.
    */
  private lazy val nbScoresCte: String =
    """WITH wrds AS MATERIALIZED (
      |   SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
      | v AS (SELECT count(DISTINCT w) AS vs FROM wrds),
      | pri AS (SELECT lang AS clabel,
      |     CAST(round(ln(count(*) * 1.0 / (SELECT count(*) FROM documents)), 6)
      |       AS DECIMAL(18,6)) AS log_prior
      |   FROM documents GROUP BY lang),
      | cc AS (SELECT lang AS clabel, w, count(*) AS cwl FROM wrds GROUP BY lang, w),
      | ct AS (SELECT lang AS clabel, count(*) AS tl FROM wrds GROUP BY lang),
      | mdl AS (SELECT cc.clabel, cc.w,
      |     CAST(round(ln((cwl + 1) * 1.0 / (tl + vs)), 6) AS DECIMAL(18,6)) AS log_cond
      |   FROM cc JOIN ct USING (clabel) CROSS JOIN v),
      | uns AS (SELECT clabel,
      |     CAST(round(ln(1.0 / (tl + vs)), 6) AS DECIMAL(18,6)) AS log_unseen
      |   FROM ct CROSS JOIN v),
      | sc AS (SELECT t.doc_id, l.clabel,
      |     SUM(coalesce(m.log_cond, u.log_unseen)) AS sum_lp, count(*) AS n_tokens
      |   FROM (SELECT doc_id, w FROM wrds) t
      |   CROSS JOIN (SELECT clabel FROM pri) l
      |   LEFT JOIN mdl m ON m.clabel = l.clabel AND m.w = t.w
      |   JOIN uns u ON u.clabel = l.clabel
      |   GROUP BY t.doc_id, l.clabel),
      | scored AS (SELECT sc.doc_id, sc.clabel, sc.n_tokens,
      |     p.log_prior + sc.sum_lp AS score
      |   FROM sc JOIN pri p USING (clabel)),
      | rk AS (SELECT doc_id, clabel, n_tokens, score,
      |     row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, clabel) AS rn,
      |     lead(score, 1) OVER (PARTITION BY doc_id ORDER BY score DESC, clabel) AS runner_up
      |   FROM scored),
      | nbres AS (SELECT d.doc_id, d.lang, r.clabel AS nb_pred, r.n_tokens,
      |     round(CAST(r.score AS DOUBLE), 4) AS nb_logp,
      |     round(CAST(r.score - r.runner_up AS DOUBLE), 4) AS margin,
      |     r.clabel = d.lang AS is_match
      |   FROM documents d JOIN rk r ON r.doc_id = d.doc_id AND r.rn = 1)""".stripMargin

  /** The power-iteration chain (Similarity.pcaChain mirror), ending in
    * `means(i, m)`, `v2(j, vj)` (unit principal direction) and
    * `lam(eigenvalue)` — shared by the PCA and ABTT oracles.
    */
  private lazy val pcaChainSql: String =
    """WITH e AS MATERIALIZED (
      |   SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      | nn AS (SELECT count(*) AS n FROM e),
      | cells AS MATERIALIZED (
      |   SELECT i, j, SUM(CAST(round(v[i+1] * v[j+1], 8) AS DECIMAL(18,8))) AS s
      |   FROM e, UNNEST(range(0, 64)) AS ti(i), UNNEST(range(0, 64)) AS tj(j)
      |   GROUP BY i, j),
      | means AS MATERIALIZED (
      |   SELECT i, CAST(SUM(CAST(round(v[i+1], 8) AS DECIMAL(18,8))) AS DOUBLE)
      |       / (SELECT n FROM nn) AS m
      |   FROM e, UNNEST(range(0, 64)) AS ti(i) GROUP BY i),
      | cov AS MATERIALIZED (
      |   SELECT c.i, c.j,
      |     CAST(c.s AS DOUBLE) / (SELECT n FROM nn) - mi.m * mj.m AS c
      |   FROM cells c JOIN means mi ON mi.i = c.i JOIN means mj ON mj.i = c.j),
      | v0 AS (SELECT i AS j, CAST(0.125 AS DOUBLE) AS vj
      |        FROM UNNEST(range(0, 64)) AS t(i)),
      | w1 AS (SELECT cov.i,
      |     CAST(SUM(CAST(round(cov.c * v0.vj, 10) AS DECIMAL(20,10))) AS DOUBLE) AS wi
      |   FROM cov JOIN v0 ON v0.j = cov.j GROUP BY cov.i),
      | n1 AS (SELECT round(sqrt(CAST(SUM(CAST(round(wi * wi, 10) AS DECIMAL(20,10)))
      |     AS DOUBLE)), 8) AS nrm FROM w1),
      | v1 AS (SELECT i AS j, CASE WHEN (SELECT nrm FROM n1) <> 0
      |     THEN round(wi / (SELECT nrm FROM n1), 8) + 0.0 ELSE 0.0 END AS vj FROM w1),
      | w2 AS MATERIALIZED (SELECT cov.i,
      |     CAST(SUM(CAST(round(cov.c * v1.vj, 10) AS DECIMAL(20,10))) AS DOUBLE) AS wi
      |   FROM cov JOIN v1 ON v1.j = cov.j GROUP BY cov.i),
      | lam AS (SELECT round(CAST(SUM(CAST(round(v1.vj * w2.wi, 10) AS DECIMAL(20,10)))
      |     AS DOUBLE), 6) AS eigenvalue
      |   FROM v1 JOIN w2 ON w2.i = v1.j),
      | n2 AS (SELECT round(sqrt(CAST(SUM(CAST(round(wi * wi, 10) AS DECIMAL(20,10)))
      |     AS DOUBLE)), 8) AS nrm FROM w2),
      | v2 AS (SELECT i AS j, CASE WHEN (SELECT nrm FROM n2) <> 0
      |     THEN round(wi / (SELECT nrm FROM n2), 8) + 0.0 ELSE 0.0 END AS vj FROM w2)""".stripMargin

  /** The CUSUM oracle: hourly counts → per-type k = ⌈mean⌉+2 →
    * the recursion unrolled as a recursive CTE. Shared verbatim by the
    * batch query and the streaming replay.
    */
  private lazy val eventsCusumOracle: String =
    """WITH RECURSIVE h AS (
      |   SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n_events
      |   FROM events GROUP BY date_trunc('hour', ts), event_type),
      | kt AS (SELECT event_type,
      |     (CAST(sum(n_events) AS BIGINT) + count(*) - 1) // count(*) + 2 AS k
      |   FROM h GROUP BY event_type),
      | hr AS (SELECT h.event_type, h.hour, h.n_events, kt.k,
      |     row_number() OVER (PARTITION BY h.event_type ORDER BY h.hour) AS rn
      |   FROM h JOIN kt USING (event_type)),
      | rec AS (
      |   SELECT event_type, hour, n_events, k, rn,
      |     greatest(CAST(0 AS BIGINT), n_events - k) AS s
      |   FROM hr WHERE rn = 1
      |   UNION ALL
      |   SELECT hr.event_type, hr.hour, hr.n_events, hr.k, hr.rn,
      |     greatest(CAST(0 AS BIGINT), rec.s + hr.n_events - hr.k)
      |   FROM hr JOIN rec ON hr.event_type = rec.event_type AND hr.rn = rec.rn + 1)
      | SELECT event_type, hour, n_events, k, s AS cusum, s >= 3 * k AS alarm
      | FROM rec ORDER BY event_type, hour""".stripMargin

  /** The log-bucket histogram quantile oracle — direct global
    * histogram + exact-integer rank walk + quantile_cont twin. Shared
    * verbatim by the batch sketch (which merges per-flag partials) and
    * the streaming replay (which accumulates registers across
    * micro-batches): a hash match against either proves that
    * construction collapses to this direct histogram.
    */
  /** The shared register build + rank walk: registers only, no exact
    * pass — the production sketch path. The filter runs on the integer
    * cents carrier (not the raw double) so a price in (0, 0.005) is
    * dropped by BOTH engines identically.
    */
  private lazy val histRegistersCte: String =
    """WITH base AS (
      |   SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |   FROM lineitem
      |   WHERE CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) > 0),
      | b AS (SELECT cents,
      |     greatest(CAST(length(bin(cents)) AS INTEGER) - 1 - 4, 0) AS sh
      |   FROM base),
      | hist AS (SELECT (cents >> sh) << sh AS lo, sh, count(*) AS cnt
      |   FROM b GROUP BY (cents >> sh) << sh, sh),
      | tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
      | pct(idx, p_num, p_den) AS (VALUES (1, 1, 2), (2, 9, 10), (3, 99, 100), (4, 999, 1000)),
      | rk AS (SELECT idx, CAST(p_num AS BIGINT) AS p_num, CAST(p_den AS BIGINT) AS p_den,
      |     (p_num * n + p_den - 1) // p_den AS target_rank FROM pct, tot),
      | cum AS (SELECT lo, sh, cnt, sum(cnt) OVER (ORDER BY lo) AS cum FROM hist)""".stripMargin

  /** Per-event_type register build + rank walk + quantile_cont twin —
    * shared verbatim by the batch grouped sketch and its streaming
    * replay (per-group register accumulation across micro-batches).
    */
  private lazy val histByTypeOracle: String =
    """WITH base AS (
      |   SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |   FROM events
      |   WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > 0),
      | b AS (SELECT event_type, cents,
      |     greatest(CAST(length(bin(cents)) AS INTEGER) - 1 - 4, 0) AS sh
      |   FROM base),
      | hist AS (SELECT event_type, (cents >> sh) << sh AS lo, sh, count(*) AS cnt
      |   FROM b GROUP BY event_type, (cents >> sh) << sh, sh),
      | tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
      |         FROM hist GROUP BY event_type),
      | pct(idx, p_num, p_den) AS (VALUES (1, 1, 2), (2, 9, 10), (3, 99, 100)),
      | rk AS (SELECT event_type, idx, CAST(p_num AS BIGINT) AS p_num,
      |     CAST(p_den AS BIGINT) AS p_den,
      |     (p_num * n + p_den - 1) // p_den AS target_rank FROM pct, tot),
      | cum AS (SELECT event_type, lo, sh, cnt,
      |     sum(cnt) OVER (PARTITION BY event_type ORDER BY lo) AS cum FROM hist),
      | ex AS (SELECT event_type, unnest(qs) AS pc, unnest(range(1, 4)) AS idx
      |   FROM (SELECT event_type, quantile_cont(cents, [0.5, 0.9, 0.99]) AS qs
      |         FROM base GROUP BY event_type))
      | SELECT c.event_type, r.p_num, r.p_den,
      |   CAST(r.target_rank AS BIGINT) AS target_rank,
      |   c.lo AS bucket_lo_cents,
      |   round(c.lo / 100.0, 2) AS est_value,
      |   round(e.pc / 100, 6) AS exact_value,
      |   round((round(e.pc / 100, 6) - round(c.lo / 100.0, 2)) /
      |     round(e.pc / 100, 6), 4) AS rel_err
      | FROM cum c
      | JOIN rk r ON r.event_type = c.event_type
      |   AND c.cum >= r.target_rank AND c.cum - c.cnt < r.target_rank
      | JOIN ex e ON e.event_type = c.event_type AND e.idx = r.idx
      | ORDER BY c.event_type, target_rank""".stripMargin

  private lazy val histQuantilesOracle: String =
    s"""$histRegistersCte
      | SELECT r.p_num, r.p_den, CAST(r.target_rank AS BIGINT) AS target_rank,
      |   c.lo AS bucket_lo_cents,
      |   (CAST(1 AS BIGINT) << c.sh) AS bucket_width_cents,
      |   round(c.lo / 100.0, 2) AS est_price
      | FROM cum c JOIN rk r ON c.cum >= r.target_rank AND c.cum - c.cnt < r.target_rank
      | ORDER BY target_rank""".stripMargin

  /** The rel_err diagnostic twin: the same walk plus the quantile_cont
    * exact answer — validation only, never the benched production path
    * (the exact pass scans the base data and would dominate at 100×).
    */
  private lazy val histRelErrOracle: String =
    s"""$histRegistersCte,
      | ex AS (SELECT unnest(qs) AS pc, unnest(range(1, 5)) AS idx
      |   FROM (SELECT quantile_cont(cents, [0.5, 0.9, 0.99, 0.999]) AS qs FROM base))
      | SELECT r.p_num, r.p_den, CAST(r.target_rank AS BIGINT) AS target_rank,
      |   c.lo AS bucket_lo_cents,
      |   (CAST(1 AS BIGINT) << c.sh) AS bucket_width_cents,
      |   round(c.lo / 100.0, 2) AS est_price,
      |   round(e.pc / 100, 6) AS exact_price,
      |   round((round(e.pc / 100, 6) - round(c.lo / 100.0, 2)) /
      |     round(e.pc / 100, 6), 4) AS rel_err
      | FROM cum c JOIN rk r ON c.cum >= r.target_rank AND c.cum - c.cnt < r.target_rank
      | JOIN ex e ON e.idx = r.idx
      | ORDER BY target_rank""".stripMargin

  /** The shared MinHash chain: shingles → signatures → capped banding →
    * verified `jp(doc_a, doc_b, jaccard)` pairs at the 0.5 threshold.
    */
  private lazy val minhashPairsCte: String = minhashPairsCteFrom(SH3)

  /** The MinHash chain over an arbitrary shingle-chain prefix (e.g.
    * `"WITH base AS (...), " + sh3Body("base")`).
    */
  private def minhashPairsCteFrom(sh3Prefix: String): String =
    s"""$sh3Prefix,
       | shx AS (SELECT doc_id, ($minhashBaseSql) % ${Dedup.minhashP} AS x
       |         FROM (SELECT doc_id, md5(s) AS m FROM sh)),
       | sig AS (SELECT doc_id,
       |   ${Dedup.minhashParams.zipWithIndex.map { case ((a, b), k) =>
           s"min(($a * x + $b) % ${Dedup.minhashP}) AS h$k" }.mkString(", ")}
       |   FROM shx GROUP BY doc_id),
       | bands AS (
       |   ${(0 until Dedup.minhashSeeds / Dedup.minhashBandSize).map { b =>
           val hs = (0 until Dedup.minhashBandSize)
             .map(j => s"h${b * Dedup.minhashBandSize + j}").mkString(", ")
           s"SELECT doc_id, $b AS band, concat_ws('_', $hs) AS bv FROM sig"
         }.mkString("\n   UNION ALL ")}),
       | mstat AS (SELECT band, bv, count(*) AS bn, min(doc_id) AS bmin
       |           FROM bands GROUP BY band, bv),
       | bw AS (SELECT d.doc_id, d.band, d.bv, s.bn, s.bmin
       |        FROM bands d JOIN mstat s USING (band, bv)),
       | cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |   SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |   FROM bw a JOIN bw b
       |     ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
       |   WHERE a.bn <= ${Dedup.lshBucketCap}
       |   UNION ALL
       |   SELECT bmin AS doc_a, doc_id AS doc_b FROM bw
       |   WHERE bn > ${Dedup.lshBucketCap} AND doc_id <> bmin)),
       | iv AS (SELECT doc_a, doc_b, count(*) AS n_common
       |        FROM cand
       |        JOIN sh sa ON sa.doc_id = doc_a
       |        JOIN sh sb ON sb.doc_id = doc_b AND sb.s = sa.s
       |        GROUP BY doc_a, doc_b),
       | jp AS (SELECT doc_a, doc_b, $jaccardExpr AS jaccard
       |   FROM iv JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
       |   WHERE $jaccardExpr >= 0.5)""".stripMargin

  private lazy val minhashLshOracleSql: String =
    s"$minhashPairsCte SELECT doc_a, doc_b, jaccard FROM jp ORDER BY doc_a, doc_b"

  /** Asymmetric (batch vs existing corpus) MinHash-LSH dedup oracle —
    * mirrors Dedup.incrementalDedup over the planted-batch fixture:
    * exact via the md5 → min(doc_id) store, near via batch bands
    * probing the capped existing band table, best partner on rounded
    * jaccard with doc_id tiebreak.
    */
  private lazy val incrementalDedupOracle: String =
    incrementalDedupOracleFor("doc_id < 400")

  /** [[incrementalDedupOracle]] with the existing corpus filtered to
    * `exWhere` — the takedown queries share the whole CTE chain and
    * differ ONLY in which docs the index still serves (a masked or
    * purged index classifies identically to one rebuilt on the
    * filtered corpus, which is exactly what this SQL computes).
    */
  private def incrementalDedupOracleFor(exWhere: String): String =
    s"""WITH ex AS (SELECT doc_id, text FROM documents WHERE $exWhere),
       | nb AS (SELECT doc_id, text FROM documents WHERE doc_id >= 400
       |        UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 10
       |        UNION ALL SELECT doc_id + 20000, text || ' zq1 zq2 zq3'
       |          FROM documents WHERE doc_id >= 10 AND doc_id < 20),
       |""".stripMargin +
      incClassifyCtes("", "ex", "nb") + """
        | SELECT doc_id, verdict, dup_of, jaccard FROM verdict
        | ORDER BY doc_id""".stripMargin

  /** The incremental-classify CTE chain (shingle → MinHash signature →
    * bands → read-time cap → candidates → Jaccard verify → verdict),
    * every CTE name suffixed with `sfx` so the ingest-loop oracle can
    * unroll the chain once per sequential batch. `ex`/`nb` name the
    * corpus and batch CTEs (doc_id, text). Ends in `verdict$sfx`
    * (doc_id, verdict, dup_of, jaccard), unordered —
    * `materializeVerdict` pins it against DuckDB's multi-reference
    * CTE inlining when a later chain consumes it.
    */
  private def incClassifyCtes(sfx: String, ex: String, nb: String,
      materializeVerdict: Boolean = false): String = {
    val sigAggs = Dedup.minhashParams.zipWithIndex.map { case ((a, b), k) =>
      s"min(($a * x + $b) % ${Dedup.minhashP}) AS h$k" }.mkString(", ")
    def bandsUnion(src: String) =
      (0 until Dedup.minhashSeeds / Dedup.minhashBandSize).map { b =>
        val hs = (0 until Dedup.minhashBandSize)
          .map(j => s"h${b * Dedup.minhashBandSize + j}").mkString(", ")
        s"SELECT doc_id, $b AS band, concat_ws('_', $hs) AS bv FROM $src"
      }.mkString("\n   UNION ALL ")
    val mat = if (materializeVerdict) " MATERIALIZED" else ""
    s""" exw$sfx AS (SELECT doc_id, string_split(text, ' ') AS w FROM $ex),
       | exsh$sfx AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |          FROM exw$sfx, UNNEST(range(1, len(w) - 1)) AS t(i)),
       | nbw$sfx AS (SELECT doc_id, string_split(text, ' ') AS w FROM $nb),
       | nbsh$sfx AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |          FROM nbw$sfx, UNNEST(range(1, len(w) - 1)) AS t(i)),
       | exx$sfx AS (SELECT doc_id, ($minhashBaseSql) % ${Dedup.minhashP} AS x
       |         FROM (SELECT doc_id, md5(s) AS m FROM exsh$sfx)),
       | exsig$sfx AS (SELECT doc_id, $sigAggs FROM exx$sfx GROUP BY doc_id),
       | nbx$sfx AS (SELECT doc_id, ($minhashBaseSql) % ${Dedup.minhashP} AS x
       |         FROM (SELECT doc_id, md5(s) AS m FROM nbsh$sfx)),
       | nbsig$sfx AS (SELECT doc_id, $sigAggs FROM nbx$sfx GROUP BY doc_id),
       | exbands$sfx AS (${bandsUnion(s"exsig$sfx")}),
       | nbbands$sfx AS (${bandsUnion(s"nbsig$sfx")}),
       | excap$sfx AS (SELECT doc_id, band, bv FROM (
       |     SELECT doc_id, band, bv,
       |       row_number() OVER (PARTITION BY band, bv ORDER BY doc_id) AS rn
       |     FROM exbands$sfx) WHERE rn <= ${Dedup.lshBucketCap}),
       | cand$sfx AS (SELECT DISTINCT q.doc_id AS doc_a, e.doc_id AS doc_b
       |          FROM nbbands$sfx q JOIN excap$sfx e USING (band, bv)),
       | nbsz$sfx AS (SELECT doc_id, count(*) AS n FROM nbsh$sfx GROUP BY doc_id),
       | exsz$sfx AS (SELECT doc_id, count(*) AS n FROM exsh$sfx GROUP BY doc_id),
       | iv$sfx AS (SELECT doc_a, doc_b, count(*) AS n_common
       |        FROM cand$sfx
       |        JOIN nbsh$sfx sa ON sa.doc_id = doc_a
       |        JOIN exsh$sfx sb ON sb.doc_id = doc_b AND sb.s = sa.s
       |        GROUP BY doc_a, doc_b),
       | ver$sfx AS (SELECT doc_a, doc_b, $jaccardExpr AS jaccard
       |         FROM iv$sfx JOIN nbsz$sfx sa ON doc_a = sa.doc_id
       |                 JOIN exsz$sfx sb ON doc_b = sb.doc_id
       |         WHERE $jaccardExpr >= 0.5),
       | best$sfx AS (SELECT doc_a, doc_b, jaccard FROM (
       |     SELECT doc_a, doc_b, jaccard,
       |       row_number() OVER (PARTITION BY doc_a ORDER BY jaccard DESC, doc_b) AS rn
       |     FROM ver$sfx) WHERE rn = 1),
       | exfp$sfx AS (SELECT md5(text) AS fp, min(doc_id) AS ex_exact FROM $ex GROUP BY fp),
       | bfp$sfx AS (SELECT doc_id, md5(text) AS fp FROM $nb),
       | verdict$sfx AS$mat (SELECT b.doc_id,
       |   CASE WHEN f.ex_exact IS NOT NULL THEN 'exact'
       |        WHEN bst.doc_b IS NOT NULL THEN 'near'
       |        ELSE 'new' END AS verdict,
       |   coalesce(f.ex_exact, bst.doc_b) AS dup_of,
       |   CASE WHEN f.ex_exact IS NULL THEN bst.jaccard END AS jaccard
       | FROM bfp$sfx b LEFT JOIN exfp$sfx f USING (fp)
       | LEFT JOIN best$sfx bst ON bst.doc_a = b.doc_id)""".stripMargin
  }

  /** The sequential ingest-loop oracle: batch 1 classifies against the
    * base corpus; its ACCEPTED ('new') docs join the corpus; batch 2
    * classifies against that grown corpus — the unrolled form of
    * [[graft.operators.Sink.maintainDedupIndex]] called per batch,
    * leaning on append ≡ rebuild-on-union (the stored-index append
    * contract) for the grown index's content.
    */
  private lazy val dedupIngestLoopOracle: String =
    s"""WITH ex1 AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
       | b1 AS (SELECT doc_id, text FROM documents WHERE doc_id >= 400 AND doc_id < 450),
       |""".stripMargin +
      incClassifyCtes("1", "ex1", "b1", materializeVerdict = true) + ",\n" +
      s""" acc1 AS (SELECT b.doc_id, b.text FROM b1 b
         |          JOIN verdict1 v ON v.doc_id = b.doc_id WHERE v.verdict = 'new'),
         | ex2 AS MATERIALIZED (SELECT doc_id, text FROM ex1
         |        UNION ALL SELECT doc_id, text FROM acc1),
         | b2 AS (SELECT doc_id, text FROM documents WHERE doc_id >= 450 AND doc_id < 500
         |        UNION ALL SELECT doc_id + 30000, text FROM documents WHERE doc_id >= 400 AND doc_id < 405
         |        UNION ALL SELECT doc_id + 40000, text || ' zq1 zq2 zq3'
         |          FROM documents WHERE doc_id >= 405 AND doc_id < 410),
         |""".stripMargin +
      incClassifyCtes("2", "ex2", "b2") + """
        | SELECT doc_id, verdict, dup_of, jaccard FROM verdict1
        | UNION ALL SELECT doc_id, verdict, dup_of, jaccard FROM verdict2
        | ORDER BY doc_id""".stripMargin

  /** SimHash near-dup pair CTE chain (… → sig → chunks → cand → dists)
    * shared by dedup_simhash_pairs and dedup_clusters.
    */
  private lazy val simhashPairsCte: String =
    s"""$simhashSigSql,
       | chunks AS (SELECT doc_id, b, substr(simhash, b * 16 + 1, 16) AS bv
       |            FROM sig, UNNEST(range(0, 4)) AS t(b)),
       | bstat AS (SELECT b, bv, count(*) AS bn, min(doc_id) AS bmin
       |           FROM chunks GROUP BY b, bv),
       | cw AS (SELECT c.doc_id, c.b, c.bv, s.bn, s.bmin
       |        FROM chunks c JOIN bstat s USING (b, bv)),
       | cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |   SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |   FROM cw a JOIN cw b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
       |   WHERE a.bn <= ${Dedup.lshBucketCap}
       |   UNION ALL
       |   SELECT bmin AS doc_a, doc_id AS doc_b FROM cw
       |   WHERE bn > ${Dedup.lshBucketCap} AND doc_id <> bmin)),
       | dists AS ($simhashDistSql)""".stripMargin

  /** Hamming verification of `cand` against `sig` — shared by the
    * star-capped and sub-split candidate chains. */
  private val simhashDistSql: String =
    """
      |   SELECT doc_a, doc_b,
      |     CAST(list_sum(list_transform(range(1, 65), i ->
      |       CASE WHEN substr(sa.simhash, CAST(i AS INT), 1) <> substr(sb.simhash, CAST(i AS INT), 1)
      |            THEN 1 ELSE 0 END)) AS INT) AS dist
      |   FROM cand
      |   JOIN sig sa ON sa.doc_id = doc_a
      |   JOIN sig sb ON sb.doc_id = doc_b""".stripMargin

  /** The sub-split (full-recall) candidate chain — mirrors
    * Dedup.subSplitBandCandidates over the four 16-bit chunks: per
    * (doc, chunk) the prefix keys at depths 0..3, each (doc, band)
    * settling in its shallowest prefix bucket with population ≤ cap
    * (full depth if none), all-pairs within settled buckets.
    */
  private lazy val simhashFullPairsCte: String = {
    val keySelects = (for (b <- 0 until 4; d <- 0 to 3) yield {
      val pieces = (b +: (0 until 4).filterNot(_ == b).take(d))
        .map(j => s"substr(simhash, ${j * 16 + 1}, 16)")
      s"SELECT doc_id, $b AS band, $d AS depth, ${pieces.mkString(" || '_' || ")} AS pk FROM sig"
    }).mkString("\n   UNION ALL ")
    s"""$simhashSigSql,
       | keys AS (
       |   $keySelects),
       | kstat AS (SELECT band, depth, pk, count(*) AS bn
       |           FROM keys GROUP BY band, depth, pk),
       | settled AS (SELECT doc_id, band, depth, pk FROM (
       |   SELECT k.doc_id, k.band, k.depth, k.pk,
       |     row_number() OVER (PARTITION BY k.doc_id, k.band ORDER BY k.depth) AS rn
       |   FROM keys k JOIN kstat s USING (band, depth, pk)
       |   WHERE s.bn <= ${Dedup.lshBucketCap} OR k.depth = 3) WHERE rn = 1),
       | cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |   FROM settled a JOIN settled b ON a.band = b.band AND a.depth = b.depth
       |     AND a.pk = b.pk AND a.doc_id < b.doc_id),
       | dists AS ($simhashDistSql)""".stripMargin
  }

  /** The decontamination oracle (shared by contamination_check and its
    * bloom-pruned twin — same semantics by construction).
    */
  private lazy val contaminationOracle: String = {
    val gram8 = (0 until 8).map(j => if (j == 0) "w[i]" else s"w[i+$j]")
      .mkString(" || ' ' || ")
    s"""WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
       | ev AS (SELECT doc_id, text FROM documents WHERE doc_id >= 400
       |        UNION ALL
       |        SELECT doc_id + 10000, text FROM documents WHERE doc_id < 10),
       | tw AS (SELECT string_split(text, ' ') AS w FROM train),
       | tg AS (SELECT DISTINCT $gram8 AS s
       |        FROM tw, UNNEST(range(1, len(w) - 6)) AS t(i)),
       | ew AS (SELECT doc_id, string_split(text, ' ') AS w FROM ev),
       | eg AS (SELECT DISTINCT doc_id, $gram8 AS s
       |        FROM ew, UNNEST(range(1, len(w) - 6)) AS t(i)),
       | sizes AS (SELECT doc_id, count(*) AS total_ngrams FROM eg GROUP BY doc_id),
       | hits AS (SELECT eg.doc_id, count(*) AS contaminated_ngrams
       |          FROM eg JOIN tg USING (s) GROUP BY eg.doc_id)
       | SELECT s.doc_id, s.total_ngrams,
       |   coalesce(h.contaminated_ngrams, 0) AS contaminated_ngrams,
       |   round(coalesce(h.contaminated_ngrams, 0) * 1.0 / s.total_ngrams, 4) AS contamination_ratio
       | FROM sizes s LEFT JOIN hits h USING (doc_id) ORDER BY s.doc_id""".stripMargin
  }

  /** The text_quality_score oracle body (reused by lang_quota). */
  private lazy val textQualityOracle: String = {
    val sw = TextOps.stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH base AS (
       |   SELECT doc_id,
       |     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |     CAST(length(text) AS BIGINT) AS len_chars,
       |     CAST(len(list_filter(string_split(text, ' '), x -> x IN ($sw))) AS BIGINT) AS stop_hits
       |   FROM documents),
       | r AS (
       |   SELECT doc_id, n_words, len_chars,
       |     round((len_chars - (n_words - 1)) * 1.0 / n_words, 4) AS avg_word_len,
       |     stop_hits,
       |     round(stop_hits * 1.0 / n_words, 4) AS stopword_ratio
       |   FROM base)
       | SELECT doc_id, n_words, len_chars, avg_word_len, stop_hits, stopword_ratio,
       |   round(least(n_words / 100.0, 1.0) * (1.0 - stopword_ratio), 4) AS quality_score
       | FROM r""".stripMargin
  }

  /** SQ8 quantized-cosine CTE chain (mirrors Similarity.sq8TopK): int8
    * max-abs codes, exact integer inner sums (dot and both squared
    * norms), one double div/sqrt tree rounded 4dp (+0.0 normalizes any
    * -0.0), ranked per query with a vec_id tiebreak.
    */
  /** The codes-only prefix of [[sq8Cte]] (m, c, n) — composable with
    * other CTE chains (the IVF-SQ8 oracle appends it to the k-means
    * chain).
    */
  private lazy val sq8CodesBody: String =
    """m AS (SELECT vec_id, embedding,
      |     list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS ma
      |   FROM embeddings),
      | c AS (SELECT vec_id,
      |     list_transform(embedding, x -> CASE WHEN ma = 0 THEN 0
      |        ELSE CAST(floor(CAST(x AS DOUBLE) / ma * 127 + 0.5) AS INT) END) AS q
      |   FROM m),
      | n AS (SELECT vec_id, q,
      |     list_aggregate(list_transform(q, x -> CAST(x AS BIGINT) * x), 'sum') AS n2
      |   FROM c)""".stripMargin

  private lazy val sq8Cte: String =
    s"""WITH $sq8CodesBody,
      | qs AS (SELECT vec_id AS qid, q AS qq, n2 AS qn2 FROM n WHERE vec_id < 10),
      | p AS (SELECT qs.qid, n.vec_id,
      |     CASE WHEN qs.qn2 = 0 OR n.n2 = 0 THEN NULL
      |          ELSE round(CAST(SUM(CAST(qs.qq[i] AS BIGINT) * n.q[i]) AS DOUBLE) /
      |            (sqrt(CAST(qs.qn2 AS DOUBLE)) * sqrt(CAST(n.n2 AS DOUBLE))), 4) + 0.0 END AS qcos
      |   FROM qs, n, UNNEST(range(1, 65)) t(i)
      |   WHERE qs.qid <> n.vec_id
      |   GROUP BY qs.qid, qs.qn2, n.vec_id, n.n2),
      | r AS (SELECT qid, vec_id, qcos,
      |     row_number() OVER (PARTITION BY qid ORDER BY qcos DESC, vec_id) AS rnk FROM p)""".stripMargin

  private lazy val sq8RankSelect: String =
    "SELECT qid, CAST(rnk AS INTEGER) AS rnk, vec_id, qcos FROM r WHERE rnk <= 3 ORDER BY qid, rnk"

  /** The composed IVF × SQ8 chain (coarse probes at nprobe=2, int8
    * scoring of probed candidates) — shared VERBATIM by
    * `embed_ivf_sq8_topk` (in-memory, cached quantizer) and
    * `embed_ivf_sq8_stored_search` (the same search served from the
    * persisted int8 layout): one quantization scheme, one training,
    * one scoring tree, so the two engines' row sets must coincide.
    */
  private lazy val ivfSq8TopKOracle: String =
    s"""$kmeansCte,
      | $sq8CodesBody,
      | $ivfSq8SearchTail""".stripMargin

  /** [[ivfSq8TopKOracle]] with the cell count DERIVED from the corpus
    * (cells = ⌈N/64⌉ — mirrors Sink.sizedCells at targetCellSize=64):
    * the oracle for the fixed-cell-SIZE layout, honest at any scale
    * factor rather than pinned to k=8.
    */
  private lazy val ivfSq8SizedOracle: String =
    s"""WITH knum AS (SELECT greatest(CAST(ceil(count(*) / 64.0) AS BIGINT), 1) AS k
      |              FROM embeddings),
      | ${kmeansBody("embeddings", "(SELECT k FROM knum)")},
      | $sq8CodesBody,
      | $ivfSq8SearchTail""".stripMargin

  /** The probe/scoring tail of [[ivfSq8TopKOracle]] (nprobe=2 cell
    * probes off d2, int8 scoring of the probed candidates off n/a2) —
    * factored out so the SAME search tree can sit on either Lloyd's
    * regime: the full-corpus [[kmeansCte]] (in-memory + stored SQ8) or
    * the base-400-trained [[kmeansBaseTrainedCte]] (the streaming
    * maintain replay, where appends score against frozen centroids).
    */
  private lazy val ivfSq8SearchTail: String =
    s"""qp AS (SELECT vec_id AS qid, cell, rn AS pn FROM (
      |     SELECT vec_id, cell,
      |       row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |     FROM d2 WHERE vec_id < 10) WHERE rn <= 2),
      | qs2 AS (SELECT vec_id AS qid, q AS qq, n2 AS qn2 FROM n WHERE vec_id < 10),
      | wc AS (SELECT n.vec_id, n.q, n.n2, a2.cell FROM n JOIN a2 USING (vec_id)),
      | p2 AS (SELECT qp.qid, qp.pn, wc.vec_id, wc.cell,
      |     CASE WHEN qs2.qn2 = 0 OR wc.n2 = 0 THEN NULL
      |          ELSE round(CAST(SUM(CAST(qs2.qq[i] AS BIGINT) * wc.q[i]) AS DOUBLE) /
      |            (sqrt(CAST(qs2.qn2 AS DOUBLE)) * sqrt(CAST(wc.n2 AS DOUBLE))), 4) + 0.0 END AS qcos
      |   FROM qp JOIN qs2 USING (qid)
      |        JOIN wc ON wc.cell = qp.cell AND wc.vec_id <> qp.qid,
      |        UNNEST(range(1, 65)) t(i)
      |   GROUP BY qp.qid, qp.pn, qs2.qn2, wc.vec_id, wc.cell, wc.n2),
      | r2 AS (SELECT qid, vec_id, cell, pn, qcos,
      |     row_number() OVER (PARTITION BY qid ORDER BY qcos DESC, vec_id) AS rnk FROM p2)
      | SELECT qid, CAST(rnk AS INTEGER) AS rnk, vec_id, cell,
      |   CAST(pn AS INTEGER) AS pn, qcos
      | FROM r2 WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** [[ivfSq8TopKOracle]] in the append regime: Lloyd's trained on
    * vec_id < 400 only, assignment/probes/scoring over EVERYTHING —
    * the oracle for `stream_ivfsq8_maintain_replay`, where undrifted
    * maintained ingestion must equal a one-shot append (codes depend
    * only on each vector's own max-abs, cells only on the frozen
    * stored centroids).
    */
  private lazy val ivfSq8BaseSearchOracle: String =
    s"""${kmeansBaseTrainedCte(400)},
      | $sq8CodesBody,
      | $ivfSq8SearchTail""".stripMargin

  /** Two unrolled Lloyd's rounds in DuckDB (mirrors
    * Similarity.kmeansAssign with k=8, iters=2): c0 = first 8 vectors,
    * a1 = argmin over c0, c1 = rounded per-cell means, a2 = final
    * assignment with rounded squared distances.
    */
  /** The deterministic-Lloyd's CTE chain (e … a2) over `src`, shared by
    * every oracle that needs the k-means assignment; `src` must expose
    * (vec_id, embedding).
    */
  private def kmeansBody(src: String, k: String = "8"): String =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM $src),
      | c0 AS (SELECT vec_id AS cell, v AS c FROM e WHERE vec_id < $k),
      | d1 AS (SELECT e.vec_id, c0.cell,
      |          round(SUM((e.v[i] - c0.c[i]) * (e.v[i] - c0.c[i])), 6) AS d
      |        FROM e, c0, UNNEST(range(1, 65)) t(i)
      |        GROUP BY e.vec_id, c0.cell),
      | a1 AS (SELECT vec_id, cell FROM (
      |          SELECT vec_id, cell,
      |            row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |          FROM d1) WHERE rn = 1),
      | m1 AS (SELECT cell, i, round(avg(e.v[i]), 6) AS m
      |        FROM a1 JOIN e USING (vec_id), UNNEST(range(1, 65)) t(i)
      |        GROUP BY cell, i),
      | c1 AS (SELECT cell, list(m ORDER BY i) AS c FROM m1 GROUP BY cell),
      | d2 AS (SELECT e.vec_id, c1.cell,
      |          round(SUM((e.v[i] - c1.c[i]) * (e.v[i] - c1.c[i])), 6) AS d
      |        FROM e, c1, UNNEST(range(1, 65)) t(i)
      |        GROUP BY e.vec_id, c1.cell),
      | a2 AS (SELECT vec_id, cell, d FROM (
      |          SELECT vec_id, cell, d,
      |            row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |          FROM d2) WHERE rn = 1)""".stripMargin

  private val kmeansCte: String = s"WITH ${kmeansBody("embeddings")}"

  /** [[kmeansBody]] in the SAMPLED-training regime (mirrors
    * Similarity.trainSample + kmeansAssignInternal with a biting cap):
    * smp keeps a row iff hashBucket(vec_id, 2^20)·n < 2^20·S over the
    * md5 ascii polynomial, c0 = the k lowest vec_ids OF THE SAMPLE,
    * both unrolled Lloyd's rounds run on the sample, and the FINAL
    * assignment (d2/a2) scores the full corpus against the
    * sampled-trained centroids.
    */
  private def kmeansSampledBody(src: String, k: Int, sampleRows: Int): String =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM $src),
      | sh AS (SELECT vec_id, v, md5(CAST(vec_id AS VARCHAR)) AS m FROM e),
      | sn AS (SELECT count(*) AS n FROM e),
      | smp AS (SELECT vec_id, v FROM sh, sn
      |         WHERE (($hexPrefixSql) % 1048576) * n
      |               < ${sampleRows.toLong * (1L << 20)}),
      | c0 AS (SELECT vec_id AS cell, v AS c FROM (
      |          SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn
      |          FROM smp) WHERE rn <= $k),
      | d1 AS (SELECT smp.vec_id, c0.cell,
      |          round(SUM((smp.v[i] - c0.c[i]) * (smp.v[i] - c0.c[i])), 6) AS d
      |        FROM smp, c0, UNNEST(range(1, 65)) t(i)
      |        GROUP BY smp.vec_id, c0.cell),
      | a1 AS (SELECT vec_id, cell FROM (
      |          SELECT vec_id, cell,
      |            row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |          FROM d1) WHERE rn = 1),
      | m1 AS (SELECT cell, i, round(avg(smp.v[i]), 6) AS m
      |        FROM a1 JOIN smp USING (vec_id), UNNEST(range(1, 65)) t(i)
      |        GROUP BY cell, i),
      | c1 AS (SELECT cell, list(m ORDER BY i) AS c FROM m1 GROUP BY cell),
      | d2 AS (SELECT e.vec_id, c1.cell,
      |          round(SUM((e.v[i] - c1.c[i]) * (e.v[i] - c1.c[i])), 6) AS d
      |        FROM e, c1, UNNEST(range(1, 65)) t(i)
      |        GROUP BY e.vec_id, c1.cell),
      | a2 AS (SELECT vec_id, cell, d FROM (
      |          SELECT vec_id, cell, d,
      |            row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |          FROM d2) WHERE rn = 1)""".stripMargin

  private lazy val kmeansSampledCte: String =
    s"WITH ${kmeansSampledBody("embeddings", 8, 64)}"

  /** The nprobe ∈ {1,2,4} recall curve vs the brute-force top-3 ground
    * truth — shared VERBATIM by `embed_probe_recall_curve` (in-memory
    * multiprobe) and `embed_stored_recall_curve` (the same curve served
    * from the persisted index): the two engines' curves must coincide
    * row-for-row because stored-path search at nprobe=n is
    * result-identical to the in-memory multiprobe (SinkSpec).
    */
  private lazy val probeRecallCurveOracle: String =
    s"""$kmeansCte,
       | qp AS (SELECT vec_id AS qid, cell, rn FROM (
       |          SELECT vec_id, cell,
       |            row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |          FROM d2 WHERE vec_id < 10) WHERE rn <= 4),
       | nps(np) AS (VALUES (1), (2), (4)),
       | qe AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
       | wc AS (SELECT emb.vec_id, emb.embedding, a2.cell
       |        FROM embeddings emb JOIN a2 USING (vec_id)),
       | cand AS (SELECT nps.np, qp.qid, qp.cell FROM nps, qp WHERE qp.rn <= nps.np),
       | p AS (SELECT cand.np, cand.qid, wc.vec_id,
       |         round(SUM(CAST(qe.qe[i] AS DOUBLE) * CAST(wc.embedding[i] AS DOUBLE)) /
       |           (sqrt(SUM(CAST(qe.qe[i] AS DOUBLE) * CAST(qe.qe[i] AS DOUBLE))) *
       |            sqrt(SUM(CAST(wc.embedding[i] AS DOUBLE) * CAST(wc.embedding[i] AS DOUBLE)))), 4) AS cos
       |       FROM cand JOIN qe USING (qid)
       |            JOIN wc ON wc.cell = cand.cell AND wc.vec_id <> cand.qid,
       |            UNNEST(range(1, 65)) t(i)
       |       GROUP BY cand.np, cand.qid, wc.vec_id),
       | r AS (SELECT np, qid, vec_id,
       |         row_number() OVER (PARTITION BY np, qid ORDER BY cos DESC, vec_id) AS rnk
       |       FROM p),
       | topk AS (SELECT np, qid, vec_id FROM r WHERE rnk <= 3),
       | bfp AS (SELECT q.qid, e2.vec_id,
       |         round(SUM(CAST(q.qe[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)) /
       |           (sqrt(SUM(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) *
       |            sqrt(SUM(CAST(e2.embedding[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)))), 4) AS cos
       |       FROM qe q, embeddings e2, UNNEST(range(1, 65)) t(i)
       |       WHERE q.qid <> e2.vec_id GROUP BY q.qid, e2.vec_id),
       | bf AS (SELECT qid, vec_id FROM (
       |          SELECT qid, vec_id,
       |            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
       |          FROM bfp) WHERE rnk <= 3)
       | SELECT t.np AS nprobe, count(*) AS n_returned,
       |   CAST(sum(CASE WHEN bf.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |   round(sum(CASE WHEN bf.qid IS NOT NULL THEN 1 ELSE 0 END) / 30.0, 4) AS recall_at_3
       | FROM topk t LEFT JOIN bf ON bf.qid = t.qid AND bf.vec_id = t.vec_id
       | GROUP BY t.np ORDER BY nprobe""".stripMargin

  /** RRF fusion with the semantic side from the IVF quantizer (query
    * 0's top-2 cells by trained-centroid distance, 4dp cosine ranks),
    * fused against the BM25 lexical top-20 — shared VERBATIM by
    * `retrieval_rrf_ivf` (in-memory cached quantizer) and
    * `retrieval_rrf_stored` (the same semantic side served by
    * [[graft.operators.Sink.searchIvfIndex]] from the persisted
    * index): stored nprobe=2 search ≡ in-memory multiprobe nprobe=2
    * (SinkSpec), so the fused lists coincide.
    */
  private lazy val rrfIvfOracle: String =
    s"""$kmeansCte,
      | ${bm25Cte.stripPrefix("WITH ")},
      | lexr AS (SELECT doc_id AS id, rnk AS lex_rnk FROM rk WHERE rnk <= 20),
      | qp AS (SELECT cell FROM (
      |          SELECT cell, row_number() OVER (ORDER BY d, cell) AS rn
      |          FROM d2 WHERE vec_id = 0) WHERE rn <= 2),
      | qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      | wc AS (SELECT emb.vec_id, emb.embedding, a2.cell
      |        FROM embeddings emb JOIN a2 USING (vec_id)),
      | semsc AS (SELECT wc.vec_id,
      |     round(SUM(CAST(qe[i] AS DOUBLE) * CAST(wc.embedding[i] AS DOUBLE)) /
      |       (sqrt(SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) *
      |        sqrt(SUM(CAST(wc.embedding[i] AS DOUBLE) * CAST(wc.embedding[i] AS DOUBLE)))), 4) AS cos
      |   FROM wc JOIN qp USING (cell), qv, UNNEST(range(1, 65)) t(i)
      |   WHERE wc.vec_id <> 0 GROUP BY wc.vec_id),
      | semr AS (SELECT id, sem_rnk FROM (
      |     SELECT vec_id AS id,
      |       row_number() OVER (ORDER BY cos DESC, vec_id) AS sem_rnk
      |     FROM semsc) WHERE sem_rnk <= 20),
      | f AS (SELECT coalesce(l.id, s.id) AS id, l.lex_rnk, s.sem_rnk,
      |     coalesce(CAST(round(1.0 / (60 + l.lex_rnk), 8) AS DECIMAL(12,8)),
      |       CAST(0.0 AS DECIMAL(12,8))) +
      |     coalesce(CAST(round(1.0 / (60 + s.sem_rnk), 8) AS DECIMAL(12,8)),
      |       CAST(0.0 AS DECIMAL(12,8))) AS rrf
      |   FROM lexr l FULL OUTER JOIN semr s ON l.id = s.id),
      | fused AS (SELECT row_number() OVER (ORDER BY rrf DESC, id) AS rrf_rank,
      |     id, lex_rnk, sem_rnk, CAST(rrf AS DOUBLE) AS rrf_score FROM f)
      | SELECT rrf_rank, id, lex_rnk, sem_rnk, rrf_score
      | FROM fused WHERE rrf_rank <= 10 ORDER BY rrf_rank""".stripMargin

  /** Train-on-base / assign-everything mirror of the incremental IVF
    * append: Lloyd's (2 iters) runs over vec_id < `baseMax` only —
    * producing the STORED centroids c1 — and a2 then assigns the WHOLE
    * corpus against c1, which is exactly what the stored-index search
    * sees after [[Sink.appendToIvfIndex]] folds the batch in with the
    * stored centroids (no retrain).
    */
  /** One-row maintenance decision log mirror: the
    * [[Sink.maintainIvfIndex]] PSI chain (the embed_ivf_append_drift
    * oracle verbatim) over `batchCte`'s (vec_id, cell) rows, folded to
    * the branch verdict + counts the operator logs. `batchCte` selects
    * off the base-trained `a2`, so the same assignment the Scala side
    * computes with the stored centroids defines the batch here.
    */
  private def maintainLogOracle(batchCte: String,
      kExpr: String = "8"): String =
    s"""${kmeansBaseTrainedCte(400, kExpr)},
       | bv AS ($batchCte),
       | sc AS (SELECT cell, count(*) AS n_stored FROM a2 WHERE vec_id < 400 GROUP BY cell),
       | ncnt AS (SELECT cell, count(*) AS n_new FROM bv GROUP BY cell),
       | g AS (SELECT c1.cell, coalesce(sc.n_stored, 0) AS n_stored,
       |          coalesce(ncnt.n_new, 0) AS n_new
       |        FROM c1 LEFT JOIN sc USING (cell) LEFT JOIN ncnt USING (cell)),
       | tt AS (SELECT count(*) AS n_cells, CAST(sum(n_stored) AS BIGINT) AS t_stored,
       |          CAST(sum(n_new) AS BIGINT) AS t_new FROM g),
       | terms AS (SELECT cell,
       |     CAST(round(((n_new + 1) / (t_new + n_cells) - (n_stored + 1) / (t_stored + n_cells))
       |       * ln(((n_new + 1) / (t_new + n_cells)) / ((n_stored + 1) / (t_stored + n_cells))), 8)
       |       AS DECIMAL(18,8)) AS term
       |   FROM g CROSS JOIN tt),
       | tot AS (SELECT round(CAST(sum(term) AS DOUBLE), 6) AS psi FROM terms),
       | nullv AS (SELECT round((n_cells - 1) *
       |     (1.0 / greatest(t_new, 1) + 1.0 / greatest(t_stored, 1)), 6) AS psi_null
       |   FROM tt),
       | cnts AS (SELECT (SELECT count(*) FROM e WHERE vec_id < 400) AS nb,
       |          (SELECT count(*) FROM bv) AS nn)
       | SELECT CASE WHEN tot.psi > 0.25 + nullv.psi_null
       |     THEN 'retrain' ELSE 'append' END AS action,
       |   tot.psi AS psi, tot.psi > 0.25 + nullv.psi_null AS retrain_due,
       |   CAST(cnts.nb AS BIGINT) AS n_stored_before,
       |   CAST(cnts.nn AS BIGINT) AS n_batch,
       |   CAST(cnts.nb + cnts.nn AS BIGINT) AS n_after,
       |   FALSE AS compacted
       | FROM tot CROSS JOIN nullv CROSS JOIN cnts""".stripMargin

  /** [[maintainLogOracle]] extended to the compressed tier: the coarse
    * PSI chain PLUS the per-subspace code PSI chain (the
    * ivfPqCodeDriftOracle mirror, `c`-suffixed CTE names), folded to
    * the one-row log [[graft.operators.Sink.maintainIvfIndex]]
    * emits — either tripwire crossing 0.25 flips the branch.
    */
  private def maintainPqLogOracle(batchCte: String,
      kExpr: String = "8"): String = {
    val bodies = (0 until 4).map(pqSubBodyBase(_, 8, 16, 10, 400)).mkString(",\n ")
    def cunion(where: String) = (0 until 4)
      .map(s => s"SELECT $s AS sub, cell AS code FROM a2_$s WHERE $where")
      .mkString("\n   UNION ALL ")
    val gridUnion = (0 until 4)
      .map(s => s"SELECT $s AS sub, cell AS code FROM c1_$s")
      .mkString("\n   UNION ALL ")
    s"""${kmeansBaseTrainedCte(400, kExpr)},
       | $bodies,
       | bv AS ($batchCte),
       | sc AS (SELECT cell, count(*) AS n_stored FROM a2 WHERE vec_id < 400 GROUP BY cell),
       | ncnt AS (SELECT cell, count(*) AS n_new FROM a2
       |          WHERE vec_id IN (SELECT vec_id FROM bv) GROUP BY cell),
       | g AS (SELECT c1.cell, coalesce(sc.n_stored, 0) AS n_stored,
       |          coalesce(ncnt.n_new, 0) AS n_new
       |        FROM c1 LEFT JOIN sc USING (cell) LEFT JOIN ncnt USING (cell)),
       | tt AS (SELECT count(*) AS n_cells, CAST(sum(n_stored) AS BIGINT) AS t_stored,
       |          CAST(sum(n_new) AS BIGINT) AS t_new FROM g),
       | terms AS (SELECT cell,
       |     CAST(round(((n_new + 1) / (t_new + n_cells) - (n_stored + 1) / (t_stored + n_cells))
       |       * ln(((n_new + 1) / (t_new + n_cells)) / ((n_stored + 1) / (t_stored + n_cells))), 8)
       |       AS DECIMAL(18,8)) AS term
       |   FROM g CROSS JOIN tt),
       | tot AS (SELECT round(CAST(sum(term) AS DOUBLE), 6) AS psi FROM terms),
       | stc AS (SELECT sub, code, count(*) AS n_stored
       |         FROM (${cunion("vec_id < 400")}) GROUP BY sub, code),
       | incc AS (SELECT sub, code, count(*) AS n_new
       |          FROM (${cunion("vec_id IN (SELECT vec_id FROM bv)")}) GROUP BY sub, code),
       | gridc AS ($gridUnion),
       | gc AS (SELECT gridc.sub, gridc.code,
       |          coalesce(stc.n_stored, 0) AS n_stored,
       |          coalesce(incc.n_new, 0) AS n_new
       |        FROM gridc LEFT JOIN stc USING (sub, code)
       |             LEFT JOIN incc USING (sub, code)),
       | ttc AS (SELECT sub, count(*) AS k_sub, sum(n_stored) AS t_stored,
       |           sum(n_new) AS t_new FROM gc GROUP BY sub),
       | termsc AS (SELECT gc.sub,
       |     CAST(round(((n_new + 1) / (t_new + k_sub) - (n_stored + 1) / (t_stored + k_sub))
       |       * ln(((n_new + 1) / (t_new + k_sub)) / ((n_stored + 1) / (t_stored + k_sub))), 8)
       |       AS DECIMAL(18,8)) AS term
       |   FROM gc JOIN ttc USING (sub)),
       | psc AS (SELECT sub, round(CAST(sum(term) AS DOUBLE), 6) AS psi
       |         FROM termsc GROUP BY sub),
       | nullv AS (SELECT round((n_cells - 1) *
       |     (1.0 / greatest(t_new, 1) + 1.0 / greatest(t_stored, 1)), 6) AS psi_null
       |   FROM tt),
       | nullc AS (SELECT sub, round((k_sub - 1) *
       |     (1.0 / greatest(t_new, 1) + 1.0 / greatest(t_stored, 1)), 6) AS psi_null
       |   FROM ttc),
       | cm AS (SELECT max(psc.psi) AS psi_code_max,
       |          CAST(max(CASE WHEN psc.psi > 0.25 + nullc.psi_null
       |            THEN 1 ELSE 0 END) AS INTEGER) AS any_code_due
       |        FROM psc JOIN nullc USING (sub)),
       | cnts AS (SELECT (SELECT count(*) FROM e WHERE vec_id < 400) AS nb,
       |          (SELECT count(*) FROM bv) AS nn)
       | SELECT CASE WHEN tot.psi > 0.25 + nullv.psi_null OR cm.any_code_due = 1
       |     THEN 'retrain' ELSE 'append' END AS action,
       |   tot.psi AS psi_coarse, cm.psi_code_max AS psi_code_max,
       |   (tot.psi > 0.25 + nullv.psi_null OR cm.any_code_due = 1) AS retrain_due,
       |   CAST(cnts.nb AS BIGINT) AS n_stored_before,
       |   CAST(cnts.nn AS BIGINT) AS n_batch,
       |   CAST(cnts.nb + cnts.nn AS BIGINT) AS n_after,
       |   FALSE AS compacted
       | FROM tot CROSS JOIN nullv CROSS JOIN cm CROSS JOIN cnts""".stripMargin
  }

  private def kmeansBaseTrainedCte(baseMax: Int,
      kExpr: String = "8"): String =
    s"""WITH e AS MATERIALIZED (
      |   SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |   FROM embeddings),
      | eb AS (SELECT * FROM e WHERE vec_id < $baseMax),
      | c0 AS (SELECT vec_id AS cell, v AS c FROM eb WHERE vec_id < ($kExpr)),
      | d1 AS (SELECT eb.vec_id, c0.cell,
      |          round(SUM((eb.v[i] - c0.c[i]) * (eb.v[i] - c0.c[i])), 6) AS d
      |        FROM eb, c0, UNNEST(range(1, 65)) t(i)
      |        GROUP BY eb.vec_id, c0.cell),
      | a1 AS (SELECT vec_id, cell FROM (
      |          SELECT vec_id, cell,
      |            row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |          FROM d1) WHERE rn = 1),
      | m1 AS (SELECT cell, i, round(avg(eb.v[i]), 6) AS m
      |        FROM a1 JOIN eb USING (vec_id), UNNEST(range(1, 65)) t(i)
      |        GROUP BY cell, i),
      | c1 AS MATERIALIZED (SELECT cell, list(m ORDER BY i) AS c FROM m1 GROUP BY cell),
      | d2 AS (SELECT e.vec_id, c1.cell,
      |          round(SUM((e.v[i] - c1.c[i]) * (e.v[i] - c1.c[i])), 6) AS d
      |        FROM e, c1, UNNEST(range(1, 65)) t(i)
      |        GROUP BY e.vec_id, c1.cell),
      | a2 AS (SELECT vec_id, cell FROM (
      |          SELECT vec_id, cell,
      |            row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |          FROM d2) WHERE rn = 1)""".stripMargin

  /** Per-subspace PQ training mirror: the [[kmeansBody]] chain over
    * `list_slice(embedding, lo, hi)` with suffix `_<sub>`, plus the
    * per-query ADC lookup table against the trained (round-2) centroids.
    */
  private def pqSubBody(sub: Int, k: Int, subDim: Int, nQ: Int): String = {
    val lo = sub * subDim + 1
    val hi = (sub + 1) * subDim
    val r = s"range(1, ${subDim + 1})"
    val x = s"_$sub"
    s"""e$x AS (SELECT vec_id, list_transform(list_slice(embedding, $lo, $hi), x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       | c0$x AS (SELECT vec_id AS cell, v AS c FROM e$x WHERE vec_id < $k),
       | d1$x AS (SELECT e$x.vec_id, c0$x.cell,
       |            round(SUM((e$x.v[i] - c0$x.c[i]) * (e$x.v[i] - c0$x.c[i])), 6) AS d
       |          FROM e$x, c0$x, UNNEST($r) t(i) GROUP BY e$x.vec_id, c0$x.cell),
       | a1$x AS (SELECT vec_id, cell FROM (
       |            SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |            FROM d1$x) WHERE rn = 1),
       | m1$x AS (SELECT cell, i, round(avg(e$x.v[i]), 6) AS m
       |          FROM a1$x JOIN e$x USING (vec_id), UNNEST($r) t(i) GROUP BY cell, i),
       | c1$x AS (SELECT cell, list(m ORDER BY i) AS c FROM m1$x GROUP BY cell),
       | d2$x AS (SELECT e$x.vec_id, c1$x.cell,
       |            round(SUM((e$x.v[i] - c1$x.c[i]) * (e$x.v[i] - c1$x.c[i])), 6) AS d
       |          FROM e$x, c1$x, UNNEST($r) t(i) GROUP BY e$x.vec_id, c1$x.cell),
       | a2$x AS (SELECT vec_id, cell, d FROM (
       |            SELECT vec_id, cell, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |            FROM d2$x) WHERE rn = 1),
       | lut$x AS (SELECT q.vec_id AS qid, c1$x.cell,
       |             round(SUM((q.v[i] - c1$x.c[i]) * (q.v[i] - c1$x.c[i])), 6) AS dist
       |           FROM (SELECT * FROM e$x WHERE vec_id < $nQ) q, c1$x, UNNEST($r) t(i)
       |           GROUP BY q.vec_id, c1$x.cell)""".stripMargin
  }

  /** [[pqSubBody]] with training restricted to vec_id < `baseMax`
    * (Lloyd's over eb_<sub> only) while assignment (a2_<sub>) and the
    * query LUT still run over EVERYTHING against the base-trained
    * codebooks — the append-without-retrain mirror.
    */
  private def pqSubBodyBase(sub: Int, k: Int, subDim: Int, nQ: Int,
      baseMax: Int): String = {
    val lo = sub * subDim + 1
    val hi = (sub + 1) * subDim
    val r = s"range(1, ${subDim + 1})"
    val x = s"_$sub"
    s"""e$x AS (SELECT vec_id, list_transform(list_slice(embedding, $lo, $hi), x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       | eb$x AS (SELECT * FROM e$x WHERE vec_id < $baseMax),
       | c0$x AS (SELECT vec_id AS cell, v AS c FROM eb$x WHERE vec_id < $k),
       | d1$x AS (SELECT eb$x.vec_id, c0$x.cell,
       |            round(SUM((eb$x.v[i] - c0$x.c[i]) * (eb$x.v[i] - c0$x.c[i])), 6) AS d
       |          FROM eb$x, c0$x, UNNEST($r) t(i) GROUP BY eb$x.vec_id, c0$x.cell),
       | a1$x AS (SELECT vec_id, cell FROM (
       |            SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |            FROM d1$x) WHERE rn = 1),
       | m1$x AS (SELECT cell, i, round(avg(eb$x.v[i]), 6) AS m
       |          FROM a1$x JOIN eb$x USING (vec_id), UNNEST($r) t(i) GROUP BY cell, i),
       | c1$x AS MATERIALIZED (SELECT cell, list(m ORDER BY i) AS c FROM m1$x GROUP BY cell),
       | d2$x AS (SELECT e$x.vec_id, c1$x.cell,
       |            round(SUM((e$x.v[i] - c1$x.c[i]) * (e$x.v[i] - c1$x.c[i])), 6) AS d
       |          FROM e$x, c1$x, UNNEST($r) t(i) GROUP BY e$x.vec_id, c1$x.cell),
       | a2$x AS (SELECT vec_id, cell, d FROM (
       |            SELECT vec_id, cell, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |            FROM d2$x) WHERE rn = 1),
       | lut$x AS (SELECT q.vec_id AS qid, c1$x.cell,
       |             round(SUM((q.v[i] - c1$x.c[i]) * (q.v[i] - c1$x.c[i])), 6) AS dist
       |           FROM (SELECT * FROM e$x WHERE vec_id < $nQ) q, c1$x, UNNEST($r) t(i)
       |           GROUP BY q.vec_id, c1$x.cell)""".stripMargin
  }

  /** The four-subspace PQ chain (m=4, 16 dims, 8 codes, 10 queries)
    * through the scored/ranked ADC CTEs `sc`/`rk`.
    */
  private val pqCte: String = {
    val bodies = (0 until 4).map(pqSubBody(_, 8, 16, 10)).mkString(",\n ")
    val codeUnion = (0 until 4)
      .map(s => s"SELECT $s AS sub, vec_id, cell AS code, d FROM a2_$s")
      .mkString("\n   UNION ALL ")
    val partUnion = (0 until 4)
      .map(s => s"SELECT $s AS sub, a2_$s.vec_id, lut_$s.qid, lut_$s.dist FROM a2_$s JOIN lut_$s USING (cell)")
      .mkString("\n   UNION ALL ")
    s"""WITH $bodies,
       | codes AS ($codeUnion),
       | pr AS ($partUnion),
       | sc AS (SELECT qid, vec_id, SUM(CAST(dist AS DECIMAL(18,6))) AS adist
       |        FROM pr WHERE qid <> vec_id GROUP BY qid, vec_id),
       | rk AS (SELECT qid, vec_id, adist,
       |          row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rnk
       |        FROM sc)""".stripMargin
  }

  /** The cell-restricted ADC + rerank tail shared by the fresh-trained
    * and the base-trained-append IVF-PQ search oracles: nprobe=1 probes
    * come from `a2` (for an in-corpus query the trained-centroid argmin
    * IS its assigned cell), ADC sums the four subspace LUT entries as
    * exact DECIMAL, top-10 candidates rerank by exact 4dp cosine.
    */
  /** `liveWhere` narrows the SCORED candidate population (an extra
    * `AND ...` predicate on sc) — the tombstone mirror: masked rows
    * never enter ADC, exactly where the serving path anti-joins.
    */
  private def ivfPqSearchTail(liveWhere: String = ""): String = {
    val partUnion = (0 until 4)
      .map(s => s"SELECT $s AS sub, a2_$s.vec_id, lut_$s.qid, lut_$s.dist FROM a2_$s JOIN lut_$s USING (cell)")
      .mkString("\n   UNION ALL ")
    s"""qp AS (SELECT vec_id AS qid, cell FROM a2 WHERE vec_id < 10),
       | pr AS ($partUnion),
       | sc AS (SELECT pr.qid, pr.vec_id, SUM(CAST(pr.dist AS DECIMAL(18,6))) AS adist
       |        FROM pr
       |        JOIN a2 w ON w.vec_id = pr.vec_id
       |        JOIN qp ON qp.qid = pr.qid AND qp.cell = w.cell
       |        WHERE pr.qid <> pr.vec_id$liveWhere GROUP BY pr.qid, pr.vec_id),
       | rkc AS (SELECT qid, vec_id,
       |           row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS crnk
       |         FROM sc),
       | cand AS (SELECT qid, vec_id FROM rkc WHERE crnk <= 10),
       | qv AS (SELECT vec_id AS cqid, embedding AS qe FROM embeddings WHERE vec_id < 10),
       | rr AS (SELECT c.qid, c.vec_id,
       |          round(SUM(CAST(qe[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)) /
       |            (sqrt(SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) *
       |             sqrt(SUM(CAST(e2.embedding[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)))), 4) AS cos
       |        FROM cand c
       |        JOIN embeddings e2 ON c.vec_id = e2.vec_id
       |        JOIN qv ON qv.cqid = c.qid, UNNEST(range(1, 65)) t(i)
       |        GROUP BY c.qid, c.vec_id),
       | rr2 AS (SELECT qid, vec_id, cos,
       |           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
       |         FROM rr)
       | SELECT qid, rnk, vec_id, cos FROM rr2 WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
  }

  /** Stored IVF-PQ search mirror: coarse kmeans (a2/d2) restricts ADC
    * scoring to each query's own cell (nprobe=1), the four-subspace PQ
    * chain supplies codes + LUTs, top-10 ADC candidates rerank exact.
    */
  private lazy val ivfPqStoredOracle: String = {
    val bodies = (0 until 4).map(pqSubBody(_, 8, 16, 10)).mkString(",\n ")
    s"""WITH ${kmeansBody("embeddings")},
       | $bodies,
       | ${ivfPqSearchTail()}""".stripMargin
  }

  /** Base-trained append mirror: coarse centroids AND the four PQ
    * codebooks train on vec_id < 400 only; EVERYTHING (base + the
    * appended batch) assigns/encodes against those stored artifacts —
    * exactly what the disk layout holds after
    * [[graft.operators.Sink.appendToIvfIndex]] folds the batch in.
    */
  private lazy val ivfPqAppendOracle: String = {
    val bodies = (0 until 4).map(pqSubBodyBase(_, 8, 16, 10, 400)).mkString(",\n ")
    s"""${kmeansBaseTrainedCte(400)},
       | $bodies,
       | ${ivfPqSearchTail()}""".stripMargin
  }

  /** Code-population drift mirror: base-trained subspace chains give
    * every vector's code against the STORED codebooks; stored = base
    * rows, incoming = the batch; per-subspace smoothed PSI on the
    * [[ivfAppendDrift]] DECIMAL carrier.
    */
  private lazy val ivfPqCodeDriftOracle: String = {
    val bodies = (0 until 4).map(pqSubBodyBase(_, 8, 16, 10, 400)).mkString(",\n ")
    def union(where: String) = (0 until 4)
      .map(s => s"SELECT $s AS sub, cell AS code FROM a2_$s WHERE $where")
      .mkString("\n   UNION ALL ")
    val gridUnion = (0 until 4)
      .map(s => s"SELECT $s AS sub, cell AS code FROM c1_$s")
      .mkString("\n   UNION ALL ")
    s"""WITH $bodies,
       | st AS (SELECT sub, code, count(*) AS n_stored
       |        FROM (${union("vec_id < 400")}) GROUP BY sub, code),
       | inc AS (SELECT sub, code, count(*) AS n_new
       |         FROM (${union("vec_id >= 400")}) GROUP BY sub, code),
       | grid AS ($gridUnion),
       | g AS (SELECT grid.sub, grid.code,
       |         coalesce(st.n_stored, 0) AS n_stored,
       |         coalesce(inc.n_new, 0) AS n_new
       |       FROM grid LEFT JOIN st USING (sub, code)
       |            LEFT JOIN inc USING (sub, code)),
       | tt AS (SELECT sub, count(*) AS k_sub, sum(n_stored) AS t_stored,
       |          sum(n_new) AS t_new FROM g GROUP BY sub),
       | terms AS (SELECT g.sub, g.code, g.n_stored, g.n_new,
       |     CAST(round(((n_new + 1) / (t_new + k_sub) - (n_stored + 1) / (t_stored + k_sub))
       |       * ln(((n_new + 1) / (t_new + k_sub)) / ((n_stored + 1) / (t_stored + k_sub))), 8)
       |       AS DECIMAL(18,8)) AS term
       |   FROM g JOIN tt USING (sub)),
       | ps AS (SELECT sub, round(CAST(sum(term) AS DOUBLE), 6) AS psi
       |        FROM terms GROUP BY sub),
       | nullv AS (SELECT sub, round((k_sub - 1) *
       |     (1.0 / greatest(t_new, 1) + 1.0 / greatest(t_stored, 1)), 6) AS psi_null
       |   FROM tt)
       | SELECT terms.sub, code, CAST(n_stored AS BIGINT) AS n_stored,
       |   CAST(n_new AS BIGINT) AS n_new,
       |   round(CAST(term AS DOUBLE), 6) AS psi_term, ps.psi AS psi,
       |   nullv.psi_null AS psi_null,
       |   ps.psi > 0.25 + nullv.psi_null AS retrain_due
       | FROM terms JOIN ps USING (sub) JOIN nullv USING (sub)
       | ORDER BY sub, code""".stripMargin
  }

  /** The embeddings corpus with deterministic perturbed twins of the
    * first 50 vectors (x·1.05 + 0.001, vec_id+1000) — the planted
    * near-dups for the neardup/semdedup fixtures (the raw testdata has
    * no natural near-dups: max pairwise cosine 0.51 at sf0.01).
    */
  private val perturbedCorpusSql: String =
    """corpus AS (
      |   SELECT vec_id, embedding FROM embeddings
      |   UNION ALL
      |   SELECT vec_id + 1000 AS vec_id,
      |     list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1.05 + 0.001 AS FLOAT)) AS embedding
      |   FROM embeddings WHERE vec_id < 50)""".stripMargin

  /** Spark twin of [[perturbedCorpusSql]]. */
  private def perturbedCorpus(e: DataFrame): DataFrame = {
    val base = e.select("vec_id", "embedding")
    val twins = e.filter(col("vec_id") < 50).select(
      (col("vec_id") + 1000).as("vec_id"),
      transform(col("embedding"), x => (x * 1.05 + 0.001).cast("float")).as("embedding"))
    base.unionByName(twins)
  }

  def oracleSql: Map[String, String] = Map(
    "ri_audit" ->
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
        |   GROUP BY event_id HAVING count(*) > 1)) AS dup_event_ids""".stripMargin,
    "join_revenue_by_region" ->
"""SELECT r_name, l_returnflag,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | count(DISTINCT o_orderkey) AS n_orders,
        | count(*) AS n_lineitems
        | FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | GROUP BY r_name, l_returnflag ORDER BY r_name, l_returnflag""".stripMargin,
    "topk_orders_per_segment" ->
      """SELECT c_mktsegment, rnk, o_orderkey, o_totalprice, c_name FROM (
        |   SELECT c_mktsegment,
        |     row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
        |     o_orderkey, o_totalprice, c_name
        |   FROM orders JOIN customer ON o_custkey = c_custkey)
        | WHERE rnk <= 3 ORDER BY c_mktsegment, rnk""".stripMargin,
    "orders_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        | FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        | ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "orders_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        | GROUPING(o_orderstatus, o_orderpriority) AS gid, count(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        | FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        | ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "customer_revenue_rank" ->
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
        | ORDER BY nationkey, custkey""".stripMargin,
    "dedup_exact" ->
      """SELECT doc_id, md5(text) AS fp,
        | min(doc_id) OVER (PARTITION BY md5(text)) AS keeper,
        | count(*) OVER (PARTITION BY md5(text)) AS n_copies,
        | doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
        | FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""$SH3,
         | pairs AS (
         |   SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |   GROUP BY a.doc_id, b.doc_id)
         | SELECT doc_a, doc_b, n_common, sa.n AS na, sb.n AS nb,
         |   $jaccardExpr AS jaccard
         | FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         | WHERE $jaccardExpr >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_normalized" ->
      """WITH nb AS (SELECT doc_id, text FROM documents
        |            UNION ALL
        |            SELECT doc_id + 30000, '  ' || upper(text) || ' !!! '
        |            FROM documents WHERE doc_id < 15),
        | n AS (SELECT doc_id,
        |         trim(regexp_replace(regexp_replace(lower(text),
        |           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS t
        |       FROM nb),
        | f AS (SELECT doc_id, md5(t) AS fp FROM n),
        | st AS (SELECT fp, min(doc_id) AS keeper, count(*) AS n_copies
        |        FROM f GROUP BY fp)
        | SELECT f.doc_id, f.fp, st.keeper, st.n_copies,
        |   f.doc_id <> st.keeper AS is_dup
        | FROM f JOIN st USING (fp) ORDER BY f.doc_id""".stripMargin,
    "dedup_minhash_lsh" -> minhashLshOracleSql,
    "dedup_minhash_estimate" ->
      s"""$minhashPairsCte,
         | est AS (SELECT jp.doc_a, jp.doc_b, jp.jaccard,
         |   round((${(0 until Dedup.minhashParams.size)
               .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
               .mkString(" + ")}) / ${Dedup.minhashParams.size}.0, 4) AS est
         |   FROM jp JOIN sig a ON a.doc_id = jp.doc_a
         |   JOIN sig b ON b.doc_id = jp.doc_b)
         | SELECT doc_a, doc_b, jaccard, est, round(abs(est - jaccard), 4) AS abs_err
         | FROM est ORDER BY doc_a, doc_b""".stripMargin,
    "volume_benford" ->
      s"""${Tables.stocksCte},
         | dg AS (SELECT CAST(substring(CAST(volume AS VARCHAR), 1, 1) AS INTEGER) AS digit
         |        FROM stocks WHERE volume > 0),
         | c AS (SELECT digit, count(*) AS n FROM dg GROUP BY digit)
         | SELECT digit, n,
         |   round(n / (SUM(n) OVER ()), 6) AS obs_freq,
         |   round(log10(1.0 + 1.0 / digit), 6) AS benford_freq,
         |   round(round(n / (SUM(n) OVER ()), 6) - round(log10(1.0 + 1.0 / digit), 6), 6) AS diff
         | FROM c ORDER BY digit""".stripMargin,
    // the streaming replay reproduces the batch LSH pairs exactly
    // (under-cap buckets are arrival-order invariant), so it is held to
    // the identical oracle
    "stream_neardup_replay" -> minhashLshOracleSql,
    "dedup_simhash" ->
      s"$simhashSigSql SELECT doc_id, simhash FROM sig ORDER BY doc_id",
    "dedup_levenshtein" ->
      s"""WITH nrm AS (SELECT doc_id, lower(text) AS n FROM documents),
         | bnd AS (SELECT doc_id, 0 AS band, substr(n, 1, 12) AS bv FROM nrm
         |         UNION ALL
         |         SELECT doc_id, 1 AS band, substr(reverse(n), 1, 12) AS bv FROM nrm),
         | bstat AS (SELECT band, bv, count(*) AS bn, min(doc_id) AS bmin
         |           FROM bnd GROUP BY band, bv),
         | tb AS (SELECT b.doc_id, b.band, b.bv, s.bn, s.bmin
         |        FROM bnd b JOIN bstat s USING (band, bv)),
         | cand AS (SELECT DISTINCT doc_a, doc_b FROM (
         |   SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |   FROM tb a JOIN tb b
         |     ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
         |   WHERE a.bn <= ${Dedup.lshBucketCap}
         |   UNION ALL
         |   SELECT bmin AS doc_a, doc_id AS doc_b FROM tb
         |   WHERE bn > ${Dedup.lshBucketCap} AND doc_id <> bmin)),
         | v AS (SELECT c.doc_a, c.doc_b,
         |     levenshtein(substr(na.n, 1, 64), substr(nb.n, 1, 64)) AS lev
         |   FROM cand c
         |   JOIN nrm na ON na.doc_id = c.doc_a
         |   JOIN nrm nb ON nb.doc_id = c.doc_b)
         | SELECT doc_a, doc_b, lev FROM v WHERE lev <= 5
         | ORDER BY doc_a, doc_b""".stripMargin,
    // ordered-orientation triangle enumeration: a<b<c found once via
    // the (a,b)⋈(b,c) wedge closed by (a,c); all-integer until the one
    // rounded clustering ratio
    "graph_triangles" -> {
      s"""$minhashPairsCte,
         | e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM jp),
         | tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
         |   FROM e e1 JOIN e e2 ON e1.b = e2.a
         |   JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         | pn AS (SELECT doc_id, count(*) AS triangles FROM (
         |     SELECT a AS doc_id FROM tri UNION ALL SELECT b FROM tri
         |     UNION ALL SELECT c FROM tri) GROUP BY doc_id),
         | dg AS (SELECT doc_id, count(*) AS degree FROM (
         |     SELECT doc_a AS doc_id FROM jp UNION ALL SELECT doc_b FROM jp)
         |   GROUP BY doc_id)
         | SELECT dg.doc_id, degree, coalesce(triangles, 0) AS triangles,
         |   round(CASE WHEN degree >= 2
         |     THEN CAST(2 AS DOUBLE) * coalesce(triangles, 0) /
         |       (CAST(degree AS DOUBLE) * (CAST(degree AS DOUBLE) - CAST(1 AS DOUBLE)))
         |     ELSE CAST(0 AS DOUBLE) END, 6) AS clustering
         | FROM dg LEFT JOIN pn USING (doc_id) ORDER BY doc_id""".stripMargin
    },
    // PageRank unrolled: r_k mirrors the Spark iteration exactly —
    // contributions round(rank/deg, 12) sum as DECIMAL(20,12), new rank
    // = one fixed double tree (teleport + d·Σ) re-rounded, constants
    // through CAST so DuckDB can't route them through DECIMAL
    "graph_pagerank" -> {
      val d = "(CAST(85 AS DOUBLE) / CAST(100 AS DOUBLE))"
      val tele = s"((CAST(1 AS DOUBLE) - $d) / (SELECT n FROM nn))"
      val iters = (1 to 10).map { i =>
        s""" r$i AS (SELECT e.dst AS node,
           |     round($tele + $d * CAST(sum(CAST(round(r.rank / dg.deg, 12)
           |       AS DECIMAL(20,12))) AS DOUBLE), 12) AS rank
           |   FROM e JOIN r${i - 1} r ON r.node = e.src JOIN dg ON dg.src = e.src
           |   GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""$minhashPairsCte,
         | e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM jp
         |       UNION ALL SELECT doc_b AS src, doc_a AS dst FROM jp),
         | dg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
         | nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM dg),
         | r0 AS (SELECT src AS node,
         |     round(CAST(1 AS DOUBLE) / (SELECT n FROM nn), 12) AS rank FROM dg),
         |$iters
         | SELECT r10.node AS doc_id, dg.deg AS degree, r10.rank
         | FROM r10 JOIN dg ON dg.src = r10.node ORDER BY doc_id""".stripMargin
    },
    "dedup_winnow_pairs" ->
      s"""WITH wds AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         | sh AS (SELECT doc_id, i AS pos,
         |     md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]) AS h
         |   FROM wds, UNNEST(range(1, len(w) - 3)) t(i)),
         | wmn AS (SELECT doc_id, pos,
         |     min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
         |     max(pos) OVER (PARTITION BY doc_id) AS maxpos
         |   FROM sh),
         | fps AS (SELECT DISTINCT doc_id, wmin AS fp FROM wmn WHERE pos <= maxpos - 3),
         | wstat AS (SELECT fp, count(*) AS bn, min(doc_id) AS bmin FROM fps GROUP BY fp),
         | fw AS (SELECT f.doc_id, f.fp, s.bn, s.bmin FROM fps f JOIN wstat s USING (fp)),
         | cand AS (SELECT DISTINCT doc_a, doc_b FROM (
         |   SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |   FROM fw a JOIN fw b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |   WHERE a.bn <= ${Dedup.lshBucketCap}
         |   UNION ALL
         |   SELECT bmin AS doc_a, doc_id AS doc_b FROM fw
         |   WHERE bn > ${Dedup.lshBucketCap} AND doc_id <> bmin)),
         | shared AS (SELECT doc_a, doc_b, count(*) AS n_shared
         |   FROM cand
         |   JOIN fps fa ON fa.doc_id = doc_a
         |   JOIN fps fb ON fb.doc_id = doc_b AND fb.fp = fa.fp
         |   GROUP BY doc_a, doc_b)
         | SELECT doc_a, doc_b, n_shared FROM shared WHERE n_shared >= 2
         | ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""$simhashPairsCte
         | SELECT doc_a, doc_b, dist FROM dists WHERE dist <= 3
         | ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_simhash_pairs_full" ->
      s"""$simhashFullPairsCte
         | SELECT doc_a, doc_b, dist FROM dists WHERE dist <= 3
         | ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_substring_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, array_to_string(ws[i:i+7], ' ') AS gram
        |       FROM w, UNNEST(range(1, len(ws) - 6)) t(i)
        |       WHERE len(ws) >= 8),
        | df AS (SELECT gram FROM (
        |          SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram)
        |        WHERE df >= 2),
        | f AS (SELECT g.doc_id, g.pos FROM g JOIN df USING (gram)),
        | isl AS (SELECT doc_id, pos,
        |           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS k
        |         FROM f),
        | sp AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
        |          count(*) AS dup_grams
        |        FROM isl GROUP BY doc_id, k)
        | SELECT doc_id, span_start, span_end, dup_grams FROM sp
        | ORDER BY doc_id, span_start""".stripMargin,
    // bucketed suffix sort + adjacent-LCP longest-repeated-substring:
    // LCP = count of k with equal k-prefixes (monotone), rep_len =
    // max(LCP prev, LCP next) — exact integers end to end
    "dedup_suffix_repeats" ->
      s"""$suffixHitsCte,
        | rk AS (SELECT doc_id, pos, sw, rep_len,
        |     row_number() OVER (PARTITION BY doc_id ORDER BY rep_len DESC, pos) AS rn
        |   FROM hit),
        | agg AS (SELECT doc_id, max(rep_len) AS max_rep_len,
        |     count(*) AS n_dup_positions FROM hit GROUP BY doc_id)
        | SELECT a.doc_id, a.max_rep_len, a.n_dup_positions,
        |   r.pos AS top_pos, array_to_string(r.sw[1:r.rep_len], ' ') AS top_span
        | FROM agg a JOIN rk r ON r.doc_id = a.doc_id AND r.rn = 1
        | ORDER BY a.doc_id""".stripMargin,
    // the removal step: every position covered by a duplicated span is
    // dropped (ALL occurrences), survivors rejoin in order; docs with
    // nothing left emit ''
    "dedup_suffix_scrub" ->
      s"""$suffixHitsCte,
        | fp AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + rep_len)) AS p FROM hit),
        | wp AS (SELECT doc_id, CAST(i AS INTEGER) AS wpos, ws[i] AS word
        |        FROM w, UNNEST(range(1, len(ws)+1)) AS t(i)),
        | kept AS (SELECT wp.doc_id, wp.wpos, wp.word
        |          FROM wp LEFT JOIN fp ON fp.doc_id = wp.doc_id AND fp.p = wp.wpos
        |          WHERE fp.p IS NULL),
        | rebuilt AS (SELECT doc_id, count(*) AS n_kept,
        |     string_agg(word, ' ' ORDER BY wpos) AS cleaned_text
        |   FROM kept GROUP BY doc_id),
        | tot AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words FROM w)
        | SELECT t.doc_id, t.n_words,
        |   t.n_words - coalesce(r.n_kept, 0) AS n_removed,
        |   coalesce(r.cleaned_text, '') AS cleaned_text
        | FROM tot t LEFT JOIN rebuilt r USING (doc_id)
        | ORDER BY t.doc_id""".stripMargin,
    // per-source rollup of the scrub (docs join + one grouped agg)
    "dedup_span_by_source" ->
      s"""$suffixHitsCte,
        | fp AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + rep_len)) AS p FROM hit),
        | rm AS (SELECT doc_id, count(*) AS n_rm FROM fp GROUP BY doc_id),
        | tot AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words FROM w),
        | per AS (SELECT d.source, t.n_words, coalesce(rm.n_rm, 0) AS n_removed
        |         FROM tot t JOIN documents d ON d.doc_id = t.doc_id
        |         LEFT JOIN rm ON rm.doc_id = t.doc_id)
        | SELECT source, count(*) AS n_docs,
        |   CAST(sum(n_words) AS BIGINT) AS tokens_total,
        |   CAST(sum(n_removed) AS BIGINT) AS tokens_removed,
        |   CAST(sum(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_touched,
        |   CAST(sum(CASE WHEN n_removed = n_words THEN 1 ELSE 0 END) AS BIGINT) AS docs_emptied,
        |   round(sum(n_removed) / sum(n_words), 4) AS reduction_pct
        | FROM per GROUP BY source ORDER BY source""".stripMargin,
    "dedup_clusters" ->
      s"""${"WITH RECURSIVE " + simhashPairsCte.stripPrefix("WITH ")},
         | p AS (SELECT doc_a, doc_b FROM dists WHERE dist <= 3),
         | e AS (SELECT doc_a AS a, doc_b AS b FROM p
         |       UNION SELECT doc_b, doc_a FROM p),
         | reach(id, r) AS (
         |   SELECT a, a FROM e
         |   UNION
         |   SELECT e2.a, r.r FROM e e2 JOIN reach r ON e2.b = r.id),
         | lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
         | SELECT d.doc_id,
         |   coalesce(l.cluster, d.doc_id) AS cluster,
         |   coalesce(l.cluster, d.doc_id) = d.doc_id AS is_keeper
         | FROM documents d LEFT JOIN lab l ON d.doc_id = l.id
         | ORDER BY d.doc_id""".stripMargin,
    "dedup_keep_best" ->
      s"""${"WITH RECURSIVE " + simhashPairsCte.stripPrefix("WITH ")},
         | p AS (SELECT doc_a, doc_b FROM dists WHERE dist <= 3),
         | e AS (SELECT doc_a AS a, doc_b AS b FROM p
         |       UNION SELECT doc_b, doc_a FROM p),
         | reach(id, r) AS (
         |   SELECT a, a FROM e
         |   UNION
         |   SELECT e2.a, r.r FROM e e2 JOIN reach r ON e2.b = r.id),
         | lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
         | clu AS (SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cluster
         |         FROM documents d LEFT JOIN lab l ON d.doc_id = l.id),
         | q AS ($textQualityOracle),
         | rk AS (SELECT clu.doc_id, clu.cluster, q.quality_score,
         |          row_number() OVER (PARTITION BY clu.cluster
         |            ORDER BY q.quality_score DESC, clu.doc_id) AS rn
         |        FROM clu JOIN q ON q.doc_id = clu.doc_id)
         | SELECT doc_id, cluster, quality_score, rn = 1 AS keep
         | FROM rk ORDER BY doc_id""".stripMargin,
    "contamination_check" -> contaminationOracle,
    // the bloom pre-filter is recall-preserving and verified by an exact
    // join, so the 100 TB path must reproduce the naive oracle verbatim
    "contamination_bloom" -> contaminationOracle,
    "dedup_incremental" -> incrementalDedupOracle,
    // stored ≡ cached by construction (same index content, same
    // classify core) — the cached-path oracle applies verbatim
    "dedup_incremental_stored" -> incrementalDedupOracle,
    // build-on-<300 + append-300..399 ≡ build-on-<400 by construction
    // (raw fingerprints min-fold at read, per-doc shingles, read-time
    // band cap) — same oracle again
    "dedup_incremental_stored_append" -> incrementalDedupOracle,
    // verdicts are per-doc independent given the frozen index, so the
    // micro-batch replay's union shares the oracle verbatim
    "stream_dedup_incremental_replay" -> incrementalDedupOracle,
    // a masked (tombstoned) index classifies as one rebuilt on the
    // corpus minus the deleted docs — same CTE chain, filtered corpus
    "dedup_index_delete_classify" -> incrementalDedupOracleFor(
      s"doc_id < 400 AND doc_id NOT IN (${dedupTakedownIds.mkString(", ")})"),
    // compaction physically purges what the mask hid — identical
    // service, so the same filtered-corpus oracle
    "dedup_index_delete_compact" -> incrementalDedupOracleFor(
      s"doc_id < 400 AND doc_id NOT IN (${dedupTakedownIds.mkString(", ")})"),
    // the CDC replay's final index ≡ build on (base ∪ adds) minus
    // deletes in any drop order — the same filtered-corpus oracle
    "stream_dedup_cdc_replay" -> incrementalDedupOracleFor(
      s"doc_id < 400 AND doc_id NOT IN (${dedupTakedownIds.mkString(", ")})"),
    // sequential ingest loop, batch and streaming forms — one
    // unrolled two-step oracle (verdict1 → accepted1 → verdict2)
    "dedup_ingest_loop" -> dedupIngestLoopOracle,
    "stream_dedup_ingest_replay" -> dedupIngestLoopOracle,
    "source_overlap" -> {
      val gram8 = (0 until 8).map(j => if (j == 0) "ws[i]" else s"ws[i+$j]")
        .mkString(" || ' ' || ")
      s"""WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
         | g AS (SELECT DISTINCT source, $gram8 AS s
         |       FROM w, UNNEST(range(1, len(ws) - 6)) AS t(i)),
         | sizes AS (SELECT source, count(*) AS n FROM g GROUP BY source),
         | ov AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_grams
         |        FROM g a JOIN g b ON a.s = b.s AND a.source < b.source
         |        GROUP BY a.source, b.source)
         | SELECT ov.src_a, ov.src_b, ov.shared_grams, sa.n AS na, sb.n AS nb,
         |   round(ov.shared_grams * 1.0 / (sa.n + sb.n - ov.shared_grams), 4) AS jaccard
         | FROM ov JOIN sizes sa ON sa.source = ov.src_a
         |         JOIN sizes sb ON sb.source = ov.src_b
         | ORDER BY src_a, src_b""".stripMargin
    },
    "chunk_documents" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | n AS (SELECT doc_id, ws,
        |         CASE WHEN len(ws) <= 64 THEN 1
        |              ELSE CAST(ceil((len(ws) - 64) / 48.0) AS BIGINT) + 1 END AS nc
        |       FROM w),
        | c AS (SELECT doc_id, CAST(j AS INT) AS chunk_idx,
        |         list_slice(ws, CAST(j * 48 + 1 AS BIGINT), CAST(j * 48 + 64 AS BIGINT)) AS cw
        |       FROM n, UNNEST(range(0, nc)) AS t(j))
        | SELECT doc_id, chunk_idx, array_to_string(cw, ' ') AS chunk_text,
        |   CAST(len(cw) AS INT) AS n_words
        | FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "jsonl_export_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",
    "pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |     CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens FROM documents),
        | c AS (SELECT doc_id, tokens,
        |     CAST(coalesce(SUM(tokens) OVER (ORDER BY doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |   FROM t)
        | SELECT doc_id, tokens, tok_offset,
        |   CAST(tok_offset // 2048 AS BIGINT) AS pack_id,
        |   CAST(tok_offset % 2048 AS BIGINT) AS pack_pos,
        |   (tok_offset % 2048) + tokens > 2048 AS straddles
        | FROM c ORDER BY doc_id""".stripMargin,
    "dedup_source_matrix" ->
      s"""$minhashPairsCte,
         | sp AS (SELECT least(sa.source, sb.source) AS src_a,
         |          greatest(sa.source, sb.source) AS src_b
         |        FROM jp
         |        JOIN documents sa ON sa.doc_id = jp.doc_a
         |        JOIN documents sb ON sb.doc_id = jp.doc_b)
         | SELECT src_a, src_b, count(*) AS n_pairs
         | FROM sp GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin,
    "cv_folds" ->
      s"""WITH h AS (SELECT doc_id, lang, md5(text) AS m FROM documents),
         | b AS (SELECT doc_id, lang, ($hexPrefixSql) % 5 AS fold FROM h),
         | c AS (SELECT fold, lang, count(*) AS n_docs FROM b GROUP BY fold, lang),
         | lt AS (SELECT lang, count(*) AS lang_total FROM documents GROUP BY lang)
         | SELECT c.fold, c.lang, c.n_docs, lt.lang_total,
         |   round(c.n_docs * 5 * 1.0 / lt.lang_total, 4) AS ratio
         | FROM c JOIN lt ON lt.lang = c.lang
         | ORDER BY c.fold, c.lang""".stripMargin,
    "sample_split" ->
      s"""WITH h AS (SELECT doc_id, md5(text) AS m FROM documents),
         | b AS (SELECT doc_id, ($hexPrefixSql) % 100 AS bucket FROM h)
         | SELECT doc_id, bucket,
         |   CASE WHEN bucket < 90 THEN 'train'
         |        WHEN bucket < 95 THEN 'val'
         |        ELSE 'test' END AS split
         | FROM b ORDER BY doc_id""".stripMargin,
    "corpus_top_ngrams" -> {
      val gram5 = (0 until 5).map(j => if (j == 0) "ws[i]" else s"ws[i+$j]")
        .mkString(" || ' ' || ")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         | g AS (SELECT doc_id, $gram5 AS s
         |       FROM w, UNNEST(range(1, len(ws) - 3)) AS t(i))
         | SELECT s, count(*) AS occurrences, count(DISTINCT doc_id) AS n_docs
         | FROM g GROUP BY s ORDER BY occurrences DESC, s LIMIT 20""".stripMargin
    },
    // positional phrase search: postings pruned to phrase words, 3-way
    // adjacency join; gram-count columns ride along so `agree`
    // certifies both constructions in-row
    "text_phrase_search" ->
      """WITH w AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | g AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)),
        | wc AS (SELECT s, count(*) AS occurrences,
        |          count(DISTINCT doc_id) AS n_docs_gram FROM g GROUP BY s),
        | top AS (SELECT s, occurrences, n_docs_gram FROM wc
        |         ORDER BY occurrences DESC, s LIMIT 5),
        | ph AS (SELECT s, string_split(s, ' ') AS pw FROM top),
        | post AS MATERIALIZED (
        |   SELECT doc_id, i AS pos, ws[i] AS w
        |   FROM w, UNNEST(range(1, len(ws) + 1)) AS t(i)
        |   WHERE ws[i] IN (SELECT unnest(pw) FROM ph)),
        | hit AS (SELECT ph.s, a.doc_id
        |         FROM ph JOIN post a ON a.w = pw[1]
        |         JOIN post b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.w = pw[2]
        |         JOIN post c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2 AND c.w = pw[3]),
        | agg AS (SELECT s, count(*) AS n_hits, count(DISTINCT doc_id) AS n_docs_pos,
        |           min(doc_id) AS first_doc FROM hit GROUP BY s)
        | SELECT t.s AS phrase, a.n_hits, t.occurrences, a.n_docs_pos, t.n_docs_gram,
        |   a.first_doc,
        |   (a.n_hits = t.occurrences AND a.n_docs_pos = t.n_docs_gram) AS agree
        | FROM top t JOIN agg a ON a.s = t.s ORDER BY phrase""".stripMargin,
    "shuffle_shards" ->
      s"""WITH h AS (SELECT doc_id, md5(text) AS m FROM documents),
         | b AS (SELECT doc_id, m, ($hexPrefixSql) % 16 AS shard FROM h)
         | SELECT doc_id, shard,
         |   CAST(row_number() OVER (PARTITION BY shard ORDER BY m, doc_id) AS BIGINT) - 1 AS pos
         | FROM b ORDER BY doc_id""".stripMargin,
    "lang_quota" ->
      s"""WITH q AS ($textQualityOracle),
         | j AS (SELECT d.doc_id, d.lang, q.quality_score
         |       FROM documents d JOIN q ON d.doc_id = q.doc_id),
         | rk AS (SELECT doc_id, lang, quality_score,
         |   row_number() OVER (PARTITION BY lang ORDER BY quality_score DESC, doc_id) AS rn
         |   FROM j)
         | SELECT doc_id, lang, quality_score, rn FROM rk WHERE rn <= 20
         | ORDER BY lang, rn""".stripMargin,
    "lang_token_budget" ->
      s"""WITH q AS ($textQualityOracle),
         | base AS (SELECT d.doc_id, d.lang,
         |     CAST(len(string_split(d.text, ' ')) AS BIGINT) AS tokens, q.quality_score
         |   FROM documents d JOIN q ON d.doc_id = q.doc_id),
         | c AS (SELECT doc_id, lang, quality_score, tokens,
         |     CAST(SUM(tokens) OVER (PARTITION BY lang
         |       ORDER BY quality_score DESC, doc_id
         |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |   FROM base)
         | SELECT doc_id, lang, quality_score, tokens, cum_tokens
         | FROM c WHERE cum_tokens - tokens < 5000 ORDER BY lang, doc_id""".stripMargin,
    "embed_cosine_topk" -> embedTopkOracle(nQueries = 10, k = 5, bucketed = false),
    // power iteration unrolled: scatter cells → centered covariance →
    // two matvec+normalize rounds, every carrier mirrored (8dp DECIMAL
    // products, 10dp matvec terms, "+ 0.0" signed-zero guard)
    "embed_pca_power" ->
      s"""$pcaChainSql
         | SELECT v2.j AS dim, v2.vj AS loading,
         |   (SELECT eigenvalue FROM lam) AS eigenvalue
         | FROM v2 ORDER BY dim""".stripMargin,
    // ABTT: center + remove the dominant-direction projection; the
    // per-vector dot/norm fold 8dp DECIMAL terms of arbitrary doubles
    "embed_abtt" ->
      s"""$pcaChainSql,
         | model AS (SELECT mi.i, mi.m, v2.vj AS pc
         |           FROM means mi JOIN v2 ON v2.j = mi.i),
         | px AS (SELECT vec_id, CAST(embedding[t.i+1] AS DOUBLE) - model.m AS xc,
         |          model.pc
         |        FROM embeddings, UNNEST(range(0, 64)) AS t(i), model
         |        WHERE model.i = t.i),
         | agg AS (SELECT vec_id,
         |     CAST(SUM(CAST(round(xc * xc, 8) AS DECIMAL(18,8))) AS DOUBLE) AS sq,
         |     CAST(SUM(CAST(round(xc * pc, 8) AS DECIMAL(18,8))) AS DOUBLE) AS d
         |   FROM px GROUP BY vec_id)
         | SELECT vec_id, round(sqrt(sq), 6) AS orig_norm,
         |   round(sqrt(greatest(sq - d * d, 0.0)), 6) AS post_norm,
         |   CASE WHEN sq <> 0 THEN round(d * d / sq, 6) + 0.0
         |        ELSE 0.0 END AS removed_frac
         | FROM agg ORDER BY vec_id""".stripMargin,
    "embed_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qe
        |           FROM embeddings WHERE vec_id < 10),
        | p AS (SELECT qid, qlabel, vec_id, label,
        |         round(SUM(CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)) /
        |           (sqrt(SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) *
        |            sqrt(SUM(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 4) AS cos
        |       FROM q, embeddings, UNNEST(range(1, 65)) AS t(i)
        |       WHERE qlabel <> label GROUP BY ALL),
        | r AS (SELECT qid, qlabel, vec_id, label, cos,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
        |       FROM p)
        | SELECT qid, qlabel, CAST(rnk AS INTEGER) AS rnk, vec_id, label, cos
        | FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "embed_topk_bucketed" -> embedTopkOracle(nQueries = 10, k = 3, bucketed = true),
    "embed_quantize" ->
      """WITH m AS (SELECT vec_id, embedding,
        |     list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS max_abs
        |   FROM embeddings)
        | SELECT vec_id, max_abs,
        |   array_to_string(list_transform(embedding, x ->
        |     CAST(CAST(CASE WHEN max_abs = 0 THEN 0
        |                    ELSE floor(CAST(x AS DOUBLE) / max_abs * 127 + 0.5) END AS INT) AS VARCHAR)), ',') AS q_csv
        | FROM m ORDER BY vec_id""".stripMargin,
    "embed_sq8_topk" -> s"$sq8Cte $sq8RankSelect",
    "embed_ivf_sq8_topk" -> ivfSq8TopKOracle,
    // stored-path serving at nprobe 2 is result-identical to the
    // in-memory composed tier (one quantization scheme, one training,
    // one scoring tree) — oracle shared VERBATIM; SinkSpec pins the
    // row-for-row equality on the engine side
    "embed_ivf_sq8_stored_search" -> ivfSq8TopKOracle,
    "embed_ivfsq8_sized_search" -> ivfSq8SizedOracle,
    "embed_sq8_rerank" ->
      s"""$sq8Cte,
        | cand AS (SELECT qid, vec_id FROM r WHERE rnk <= 10),
        | qe AS (SELECT vec_id AS cq, embedding AS qe FROM embeddings WHERE vec_id < 10),
        | rer AS (SELECT cand.qid, cand.vec_id,
        |     round(SUM(CAST(q.qe[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)) /
        |       (sqrt(SUM(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) *
        |        sqrt(SUM(CAST(e2.embedding[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)))), 4) AS cos
        |   FROM cand JOIN qe q ON q.cq = cand.qid
        |        JOIN embeddings e2 ON e2.vec_id = cand.vec_id,
        |        UNNEST(range(1, 65)) t(i)
        |   GROUP BY cand.qid, cand.vec_id),
        | rr AS (SELECT qid, vec_id, cos,
        |     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk FROM rer)
        | SELECT qid, CAST(rnk AS INTEGER) AS rnk, vec_id, cos
        | FROM rr WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    "embed_sq8_recall" ->
      s"""$sq8Cte,
        | topk AS (SELECT qid, vec_id FROM r WHERE rnk <= 3),
        | qe AS (SELECT vec_id AS bq, embedding AS qe FROM embeddings WHERE vec_id < 10),
        | bfp AS (SELECT q.bq AS qid, e2.vec_id,
        |     round(SUM(CAST(q.qe[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)) /
        |       (sqrt(SUM(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) *
        |        sqrt(SUM(CAST(e2.embedding[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)))), 4) AS cos
        |   FROM qe q, embeddings e2, UNNEST(range(1, 65)) t(i)
        |   WHERE q.bq <> e2.vec_id GROUP BY q.bq, e2.vec_id),
        | bf AS (SELECT qid, vec_id FROM (
        |     SELECT qid, vec_id,
        |       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
        |     FROM bfp) WHERE rnk <= 3)
        | SELECT count(*) AS n_returned,
        |   CAST(sum(CASE WHEN bf.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |   round(sum(CASE WHEN bf.qid IS NOT NULL THEN 1 ELSE 0 END) / 30.0, 4) AS recall_at_k
        | FROM topk t LEFT JOIN bf ON bf.qid = t.qid AND bf.vec_id = t.vec_id""".stripMargin,
    "sample_cluster_balanced" ->
      s"""$kmeansCte,
        | pk AS (SELECT cell, vec_id,
        |     row_number() OVER (PARTITION BY cell
        |       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS pick
        |   FROM a2)
        | SELECT cell, CAST(pick AS INTEGER) AS pick, vec_id
        | FROM pk WHERE pick <= 10 ORDER BY cell, pick""".stripMargin,
    // c-TF-IDF topic labels: the kmeans cells + class-based tf-idf —
    // tf · ln((nc·f + tot)/(nc·f)) with the ln argument a single exact
    // integer ratio, 6dp-rounded BEFORE the tf multiply, term tiebreak
    "cluster_topics" ->
      s"""$kmeansCte,
        | asg AS (SELECT vec_id AS doc_id, cell FROM a2),
        | tk AS (SELECT asg.cell, w AS term
        |        FROM documents dd JOIN asg USING (doc_id),
        |             UNNEST(string_split(dd.text, ' ')) AS t(w)
        |        WHERE len(w) >= 3
        |          AND w NOT IN ('the','a','of','and','is','in','to','for','on','with')),
        | tf AS (SELECT cell, term, count(*) AS tf FROM tk GROUP BY cell, term),
        | tdf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS f FROM tf GROUP BY term),
        | tt AS (SELECT CAST(sum(tf) AS BIGINT) AS tot, count(DISTINCT cell) AS nc FROM tf),
        | sc AS (SELECT cell, term, tf,
        |     round(tf * round(ln(CAST(nc * f + tot AS DOUBLE) / CAST(nc * f AS DOUBLE)), 6), 6) AS score
        |   FROM tf JOIN tdf USING (term), tt),
        | rk2 AS (SELECT cell, term, tf, score,
        |     row_number() OVER (PARTITION BY cell ORDER BY score DESC, term) AS rnk FROM sc)
        | SELECT cell, CAST(rnk AS INTEGER) AS rnk, term, tf, score
        | FROM rk2 WHERE rnk <= 5 ORDER BY cell, rnk""".stripMargin,
    // hashed-vector twin: densify the hashing-trick histograms to
    // float[64] (exact integer counts — the float/double casts are
    // exact), then the same unrolled Lloyd's + md5 pick order
    "sample_cluster_hashed" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        | hb AS (SELECT doc_id, ($hexPrefixSql) % 64 AS bucket
        |        FROM (SELECT doc_id, md5(w) AS m FROM w)),
        | v AS (SELECT doc_id, bucket, count(*) AS cnt FROM hb GROUP BY doc_id, bucket),
        | grid AS (SELECT doc_id, i AS bucket
        |          FROM (SELECT DISTINCT doc_id FROM v), UNNEST(range(0, 64)) t(i)),
        | dense AS (SELECT g.doc_id AS vec_id,
        |     list(CAST(coalesce(v.cnt, 0) AS FLOAT) ORDER BY g.bucket) AS embedding
        |   FROM grid g LEFT JOIN v ON v.doc_id = g.doc_id AND v.bucket = g.bucket
        |   GROUP BY g.doc_id),
        | ${kmeansBody("dense")},
        | pk AS (SELECT cell, vec_id,
        |     row_number() OVER (PARTITION BY cell
        |       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS pick
        |   FROM a2)
        | SELECT cell, CAST(pick AS INTEGER) AS pick, vec_id
        | FROM pk WHERE pick <= 10 ORDER BY cell, pick""".stripMargin,
    "embed_binary_topk" ->
      """WITH sig AS (SELECT vec_id,
        |     array_to_string(list_transform(embedding,
        |       x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS s
        |   FROM embeddings),
        | q AS (SELECT vec_id AS qid, s AS qsig FROM sig WHERE vec_id < 10),
        | sc AS (SELECT q.qid, s.vec_id,
        |     CAST(hamming(q.qsig, s.s) AS INTEGER) AS hd
        |   FROM q JOIN sig s ON s.vec_id <> q.qid),
        | rk AS (SELECT qid, vec_id, hd,
        |     CAST(row_number() OVER (PARTITION BY qid ORDER BY hd, vec_id) AS INTEGER) AS rnk
        |   FROM sc)
        | SELECT qid, rnk, vec_id, hd FROM rk WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    "embed_kmeans_cells" ->
      s"$kmeansCte SELECT vec_id, cell, d FROM a2 ORDER BY vec_id",
    "orders_backlog" ->
      """WITH closes AS (SELECT l_orderkey AS okey, max(CAST(l_shipdate AS DATE)) AS close_date
        |               FROM lineitem GROUP BY l_orderkey),
        | opens AS (SELECT o_orderkey AS okey, CAST(o_orderdate AS DATE) AS open_date FROM orders),
        | j AS (SELECT open_date, close_date FROM opens JOIN closes USING (okey)),
        | deltas AS (SELECT date, CAST(sum(delta) AS BIGINT) AS net FROM (
        |     SELECT open_date AS date, 1 AS delta FROM j
        |     UNION ALL SELECT close_date, -1 FROM j) GROUP BY date)
        | SELECT date, net,
        |   CAST(sum(net) OVER (ORDER BY date ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open_orders
        | FROM deltas ORDER BY date""".stripMargin,
    "embed_mrl_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        | p AS (SELECT qid, vec_id,
        |         round(SUM(CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)) /
        |           (sqrt(SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) *
        |            sqrt(SUM(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 4) AS cos
        |       FROM q, embeddings, UNNEST(range(1, 17)) AS t(i)
        |       WHERE qid <> vec_id GROUP BY ALL),
        | r AS (SELECT qid, vec_id, cos,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
        |       FROM p)
        | SELECT qid, rnk, vec_id, cos FROM r WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    "embed_mrl_recall" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        | fp AS (SELECT qid, vec_id,
        |          round(SUM(CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)) /
        |            (sqrt(SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) *
        |             sqrt(SUM(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 4) AS cos
        |        FROM q, embeddings, UNNEST(range(1, 65)) AS t(i)
        |        WHERE qid <> vec_id GROUP BY ALL),
        | fk AS (SELECT qid, vec_id FROM (
        |          SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
        |          FROM fp) WHERE rnk <= 3),
        | pp AS (SELECT qid, vec_id,
        |          round(SUM(CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)) /
        |            (sqrt(SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) *
        |             sqrt(SUM(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 4) AS cos
        |        FROM q, embeddings, UNNEST(range(1, 17)) AS t(i)
        |        WHERE qid <> vec_id GROUP BY ALL),
        | pk AS (SELECT qid, vec_id FROM (
        |          SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
        |          FROM pp) WHERE rnk <= 3)
        | SELECT fk.qid,
        |   CAST(count(pk.vec_id) AS BIGINT) AS hits,
        |   round(count(pk.vec_id) / 3.0, 4) AS recall_at_3
        | FROM fk LEFT JOIN pk ON fk.qid = pk.qid AND fk.vec_id = pk.vec_id
        | GROUP BY fk.qid ORDER BY fk.qid""".stripMargin,
    "embed_pq_rerank" ->
      s"""$pqCte,
         | cand AS (SELECT qid, vec_id FROM rk WHERE rnk <= 10),
         | qv AS (SELECT vec_id AS cqid, embedding AS qe FROM embeddings WHERE vec_id < 10),
         | rr AS (SELECT c.qid, c.vec_id,
         |          round(SUM(CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) /
         |            (sqrt(SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) *
         |             sqrt(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))), 4) AS cos
         |        FROM cand c
         |        JOIN embeddings e ON c.vec_id = e.vec_id
         |        JOIN qv ON qv.cqid = c.qid, UNNEST(range(1, 65)) t(i)
         |        GROUP BY c.qid, c.vec_id),
         | rr2 AS (SELECT qid, vec_id, cos,
         |           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
         |         FROM rr)
         | SELECT qid, rnk, vec_id, cos FROM rr2 WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    "signal_islands" ->
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
         | ORDER BY symbol, valid_from""".stripMargin,
    "asof_nearest_ratio" ->
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
         | ORDER BY b.symbol, b.date""".stripMargin,
    "embed_pq_codes" ->
      s"$pqCte SELECT sub, vec_id, code, d FROM codes ORDER BY sub, vec_id",
    "embed_ivfpq_stored_search" -> ivfPqStoredOracle,
    "embed_ivfpq_append_search" -> ivfPqAppendOracle,
    "embed_ivfpq_delete_search" -> ivfPqDeleteOracle,
    // streamed drop-at-a-time PQ ingestion ≡ one-shot append: shares
    // the oracle verbatim (order-invariant against frozen artifacts)
    "stream_ivfpq_append_replay" -> ivfPqAppendOracle,
    // maintained PQ ingestion with no drifted drop ≡ one-shot append —
    // same oracle verbatim (and the cadence compaction changed nothing)
    "stream_ivfpq_maintain_replay" -> ivfPqAppendOracle,
    "stream_ivfsq8_maintain_replay" -> ivfSq8BaseSearchOracle,
    // sized-layout streaming maintain: the same append-regime identity
    // with the quantizer's k DERIVED from the base count (the sized
    // geometry); codes depend only on each vector's own max-abs and
    // the search tail is k-agnostic, so only the kmeans head changes
    "stream_ivfsq8_maintain_sized_replay" ->
      s"""${kmeansBaseTrainedCte(400,
             "SELECT greatest(CAST(ceil(count(*) / 64.0) AS BIGINT), 1) FROM eb")},
        | $sq8CodesBody,
        | $ivfSq8SearchTail""".stripMargin,
    "embed_ivfpq_code_drift" -> ivfPqCodeDriftOracle,
    "embed_pq_topk" ->
      s"""$pqCte
         | SELECT qid, rnk, vec_id, CAST(adist AS DOUBLE) AS adc_dist
         | FROM rk WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    "embed_pq_recall" ->
      s"""$pqCte,
         | ef AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |        FROM embeddings),
         | qf AS (SELECT vec_id AS qid, v AS qv FROM ef WHERE vec_id < 10),
         | bfd AS (SELECT qf.qid, ef.vec_id,
         |           round(SUM((qf.qv[i] - ef.v[i]) * (qf.qv[i] - ef.v[i])), 6) AS dist
         |         FROM qf JOIN ef ON qf.qid <> ef.vec_id, UNNEST(range(1, 65)) t(i)
         |         GROUP BY qf.qid, ef.vec_id),
         | bk AS (SELECT qid, vec_id FROM (
         |          SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rnk
         |          FROM bfd) WHERE rnk <= 3),
         | pk AS (SELECT qid, vec_id FROM rk WHERE rnk <= 3)
         | SELECT bk.qid,
         |   CAST(count(pk.vec_id) AS BIGINT) AS hits,
         |   round(count(pk.vec_id) / 3.0, 4) AS recall_at_3
         | FROM bk LEFT JOIN pk ON bk.qid = pk.qid AND bk.vec_id = pk.vec_id
         | GROUP BY bk.qid ORDER BY bk.qid""".stripMargin,
    "embed_ivf_topk" ->
      s"""$kmeansCte,
         | wc AS (SELECT emb.vec_id, emb.embedding, a2.cell
         |        FROM embeddings emb JOIN a2 USING (vec_id)),
         | q AS (SELECT vec_id AS qid, embedding AS qe, cell AS qcell
         |       FROM wc WHERE vec_id < 10),
         | p AS (SELECT qid, cell, wc.vec_id,
         |         round(SUM(CAST(qe[i] AS DOUBLE) * CAST(wc.embedding[i] AS DOUBLE)) /
         |           (sqrt(SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) *
         |            sqrt(SUM(CAST(wc.embedding[i] AS DOUBLE) * CAST(wc.embedding[i] AS DOUBLE)))), 4) AS cos
         |       FROM q JOIN wc ON q.qcell = wc.cell AND q.qid <> wc.vec_id,
         |            UNNEST(range(1, 65)) t(i)
         |       GROUP BY qid, cell, wc.vec_id),
         | r AS (SELECT qid, cell, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
         |       FROM p)
         | SELECT qid, cell, rnk, vec_id, cos FROM r WHERE rnk <= 3
         | ORDER BY qid, rnk""".stripMargin,
    "embed_kmeans_sampled" ->
      s"$kmeansSampledCte SELECT vec_id, cell, d FROM a2 ORDER BY vec_id",
    "embed_ivf_sampled_topk" ->
      s"""$kmeansSampledCte,
         | wc AS (SELECT emb.vec_id, emb.embedding, a2.cell
         |        FROM embeddings emb JOIN a2 USING (vec_id)),
         | q AS (SELECT vec_id AS qid, embedding AS qe, cell AS qcell
         |       FROM wc WHERE vec_id < 10),
         | p AS (SELECT qid, cell, wc.vec_id,
         |         round(SUM(CAST(qe[i] AS DOUBLE) * CAST(wc.embedding[i] AS DOUBLE)) /
         |           (sqrt(SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) *
         |            sqrt(SUM(CAST(wc.embedding[i] AS DOUBLE) * CAST(wc.embedding[i] AS DOUBLE)))), 4) AS cos
         |       FROM q JOIN wc ON q.qcell = wc.cell AND q.qid <> wc.vec_id,
         |            UNNEST(range(1, 65)) t(i)
         |       GROUP BY qid, cell, wc.vec_id),
         | r AS (SELECT qid, cell, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
         |       FROM p)
         | SELECT qid, cell, rnk, vec_id, cos FROM r WHERE rnk <= 3
         | ORDER BY qid, rnk""".stripMargin,
    "embed_sampled_recall" ->
      s"""$kmeansSampledCte,
         | wc AS (SELECT emb.vec_id, emb.embedding, a2.cell
         |        FROM embeddings emb JOIN a2 USING (vec_id)),
         | q AS (SELECT vec_id AS qid, embedding AS qe, cell AS qcell
         |       FROM wc WHERE vec_id < 10),
         | ip AS (SELECT qid, wc.vec_id,
         |         round(SUM(CAST(qe[i] AS DOUBLE) * CAST(wc.embedding[i] AS DOUBLE)) /
         |           (sqrt(SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) *
         |            sqrt(SUM(CAST(wc.embedding[i] AS DOUBLE) * CAST(wc.embedding[i] AS DOUBLE)))), 4) AS cos
         |       FROM q JOIN wc ON q.qcell = wc.cell AND q.qid <> wc.vec_id,
         |            UNNEST(range(1, 65)) t(i)
         |       GROUP BY qid, wc.vec_id),
         | ik AS (SELECT qid, vec_id FROM (
         |         SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
         |         FROM ip) WHERE rnk <= 3),
         | bp AS (SELECT qid, e2.vec_id,
         |         round(SUM(CAST(qe[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)) /
         |           (sqrt(SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) *
         |            sqrt(SUM(CAST(e2.embedding[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)))), 4) AS cos
         |       FROM q JOIN embeddings e2 ON q.qid <> e2.vec_id,
         |            UNNEST(range(1, 65)) t(i)
         |       GROUP BY qid, e2.vec_id),
         | bk AS (SELECT qid, vec_id FROM (
         |         SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
         |         FROM bp) WHERE rnk <= 3)
         | SELECT bk.qid,
         |   CAST(count(ik.vec_id) AS BIGINT) AS hits,
         |   round(count(ik.vec_id) / 3.0, 4) AS recall_at_3
         | FROM bk LEFT JOIN ik ON ik.qid = bk.qid AND ik.vec_id = bk.vec_id
         | GROUP BY bk.qid ORDER BY bk.qid""".stripMargin,
    // embedding QA: rounded-6dp norms, quantile_cont medians (the
    // percentile/quantile_cont interpolation identity), MAD rule on
    // the raw interpolated medians
    "embed_norm_quality" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        | b AS (SELECT vec_id,
        |     CAST(len(list_filter(v, x -> NOT isfinite(x))) AS INTEGER) AS n_bad,
        |     round(sqrt(list_sum(list_transform(v, x -> x * x))), 6) AS norm
        |   FROM e),
        | md AS (SELECT quantile_cont(norm, 0.5) AS m FROM b WHERE n_bad = 0),
        | ad AS (SELECT vec_id, n_bad, norm, m,
        |     round(abs(norm - m), 6) AS adev FROM b, md),
        | mm AS (SELECT quantile_cont(adev, 0.5) AS mad FROM ad WHERE n_bad = 0)
        | SELECT vec_id, norm, n_bad, norm = 0.0 AS is_zero,
        |   round(m, 6) AS median_norm, round(mad, 6) AS mad,
        |   (mad > 0.0 AND adev > 3.0 * mad) AS mag_outlier,
        |   (n_bad > 0 OR norm = 0.0 OR (mad > 0.0 AND adev > 3.0 * mad)) AS flagged
        | FROM ad, mm ORDER BY vec_id""".stripMargin,
    // append path: train on base, assign everything with the stored
    // centroids, serve the union — the search tail mirrors
    // embed_ivf_topk over the base-trained a2
    "embed_ivf_append_search" -> ivfAppendSearchOracle,
    "embed_ivf_delete_search" -> ivfDeleteSearchOracle,
    // drop-at-a-time streaming ingestion lands the identical index
    // (appends are an order-invariant set union against the frozen
    // centroids), so the replay shares the one-shot append oracle
    "stream_ivf_append_replay" -> ivfAppendSearchOracle,
    // the CDC replay never re-adds a deleted id, so its served set is
    // the one-shot delete path's — oracle shared verbatim
    "stream_ivf_delete_replay" -> ivfDeleteSearchOracle,
    // drift-AWARE maintained ingestion: with no drop drifting, every
    // micro-batch decision is an append (plus one cadence compaction,
    // provably result-free), so the served index — and this oracle —
    // are the one-shot append's VERBATIM
    "stream_ivf_maintain_replay" -> ivfAppendSearchOracle,
    // composed maintenance decision log: the drift-oracle PSI chain
    // over the branch's batch CTE, folded to the one-row log the
    // operator emits (action/threshold verdict/counts; compacted is
    // deterministically false — one append never reaches the
    // 4-files-per-cell cadence, and the retrain branch rewrites to one
    // file per cell by construction)
    "ivf_maintain_append" -> maintainLogOracle(
      "SELECT vec_id, cell FROM a2 WHERE vec_id >= 400"),
    "ivf_maintain_retrain" -> maintainLogOracle(
      "SELECT vec_id, cell FROM a2 WHERE vec_id >= 400 AND cell < 4"),
    // sized-layout maintenance: the same one-row log chain with k
    // DERIVED from the base count (ceil(N_base/64) — mirrors
    // the sized SQ8 write's resolved geometry; the int8 payload
    // encoding never enters the decision arithmetic)
    "ivfsq8_maintain_append_sized" -> maintainLogOracle(
      "SELECT vec_id, cell FROM a2 WHERE vec_id >= 400",
      "SELECT greatest(CAST(ceil(count(*) / 64.0) AS BIGINT), 1) FROM eb"),
    // the float tier under the same sized geometry — the decision
    // arithmetic never touches the payload encoding, so the chain is
    // the SQ8 sized oracle's verbatim
    "ivf_maintain_append_sized" -> maintainLogOracle(
      "SELECT vec_id, cell FROM a2 WHERE vec_id >= 400",
      "SELECT greatest(CAST(ceil(count(*) / 64.0) AS BIGINT), 1) FROM eb"),
    // the compressed tier: sized coarse k (ceil(N_base/64)); the four
    // per-subspace code chains keep their subspace-shaped geometry
    "ivfpq_maintain_append_sized" -> maintainPqLogOracle(
      "SELECT vec_id FROM e WHERE vec_id >= 400",
      "SELECT greatest(CAST(ceil(count(*) / 64.0) AS BIGINT), 1) FROM eb"),
    // the compressed tier's maintenance log: coarse + code PSI chains
    // over the same batch CTEs, either tripwire flips the branch
    "ivfpq_maintain_append" -> maintainPqLogOracle(
      "SELECT vec_id FROM e WHERE vec_id >= 400"),
    "ivfpq_maintain_retrain" -> maintainPqLogOracle(
      "SELECT vec_id FROM a2 WHERE vec_id >= 400 AND cell < 4"),
    // append pre-flight: stored vs incoming cell populations (both
    // against the stored centroids), smoothed PSI (sourceDrift
    // carrier: 8dp DECIMAL terms, 6dp total), retrain verdict
    "embed_ivf_append_drift" ->
      s"""${kmeansBaseTrainedCte(400)},
         | sc AS (SELECT cell, count(*) AS n_stored FROM a2 WHERE vec_id < 400 GROUP BY cell),
         | ncnt AS (SELECT cell, count(*) AS n_new FROM a2 WHERE vec_id >= 400 GROUP BY cell),
         | g AS (SELECT c1.cell, coalesce(sc.n_stored, 0) AS n_stored,
         |          coalesce(ncnt.n_new, 0) AS n_new
         |        FROM c1 LEFT JOIN sc USING (cell) LEFT JOIN ncnt USING (cell)),
         | tt AS (SELECT count(*) AS n_cells, CAST(sum(n_stored) AS BIGINT) AS t_stored,
         |          CAST(sum(n_new) AS BIGINT) AS t_new FROM g),
         | terms AS (SELECT cell, n_stored, n_new,
         |     CAST(round(((n_new + 1) / (t_new + n_cells) - (n_stored + 1) / (t_stored + n_cells))
         |       * ln(((n_new + 1) / (t_new + n_cells)) / ((n_stored + 1) / (t_stored + n_cells))), 8)
         |       AS DECIMAL(18,8)) AS term
         |   FROM g CROSS JOIN tt),
         | tot AS (SELECT round(CAST(sum(term) AS DOUBLE), 6) AS psi FROM terms),
         | nullv AS (SELECT round((n_cells - 1) *
         |     (1.0 / greatest(t_new, 1) + 1.0 / greatest(t_stored, 1)), 6) AS psi_null
         |   FROM tt)
         | SELECT cell, CAST(n_stored AS BIGINT) AS n_stored, CAST(n_new AS BIGINT) AS n_new,
         |   round(CAST(term AS DOUBLE), 6) AS psi_term, tot.psi AS psi,
         |   nullv.psi_null AS psi_null,
         |   tot.psi > 0.25 + nullv.psi_null AS retrain_due
         | FROM terms CROSS JOIN tot CROSS JOIN nullv ORDER BY cell""".stripMargin,
    // recall curve: the multiprobe chain per nprobe ∈ {1,2,4} vs the
    // brute-force top-3 ground truth
    "embed_probe_recall_curve" -> probeRecallCurveOracle,
    // the stored-index curve is the SAME oracle verbatim: stored-path
    // search at nprobe=n is result-identical to the in-memory
    // multiprobe at the same nprobe (SinkSpec proves the equivalence),
    // so the two curves must coincide row-for-row
    "embed_stored_recall_curve" -> probeRecallCurveOracle,
    // multi-probe: probe cells = top-2 by the SAME rounded L2 (d2) the
    // assignment used; candidates join a2 on cell
    "embed_ivf_multiprobe" ->
      s"""$kmeansCte,
         | qp AS (SELECT vec_id AS qid, cell, CAST(rn AS INTEGER) AS pn FROM (
         |          SELECT vec_id, cell,
         |            row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
         |          FROM d2 WHERE vec_id < 10) WHERE rn <= 2),
         | qe AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
         | wc AS (SELECT emb.vec_id, emb.embedding, a2.cell
         |        FROM embeddings emb JOIN a2 USING (vec_id)),
         | p AS (SELECT qp.qid, qp.cell, qp.pn, wc.vec_id,
         |         round(SUM(CAST(qe.qe[i] AS DOUBLE) * CAST(wc.embedding[i] AS DOUBLE)) /
         |           (sqrt(SUM(CAST(qe.qe[i] AS DOUBLE) * CAST(qe.qe[i] AS DOUBLE))) *
         |            sqrt(SUM(CAST(wc.embedding[i] AS DOUBLE) * CAST(wc.embedding[i] AS DOUBLE)))), 4) AS cos
         |       FROM qp JOIN qe USING (qid)
         |            JOIN wc ON wc.cell = qp.cell AND wc.vec_id <> qp.qid,
         |            UNNEST(range(1, 65)) t(i)
         |       GROUP BY qp.qid, qp.cell, qp.pn, wc.vec_id),
         | r AS (SELECT qid, cell, pn, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
         |       FROM p)
         | SELECT qid, CAST(rnk AS INTEGER) AS rnk, vec_id, cell, pn, cos
         | FROM r WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    // centroid classifier: rounded-6 centroid means (the
    // embed_label_centroids construction), cosine argmax per vector
    "embed_centroid_accuracy" ->
      """WITH cm AS (SELECT label AS clabel, i,
        |     round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
        |   FROM embeddings, UNNEST(range(1, 65)) AS t(i)
        |   GROUP BY label, i),
        | e AS (SELECT vec_id, label,
        |     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        | p AS (SELECT e.vec_id, e.label, cm.clabel,
        |     round(SUM(e.v[cm.i] * cm.m) /
        |       (sqrt(SUM(e.v[cm.i] * e.v[cm.i])) * sqrt(SUM(cm.m * cm.m))), 4) AS cos
        |   FROM e, cm
        |   GROUP BY e.vec_id, e.label, cm.clabel),
        | best AS (SELECT vec_id, label, clabel FROM (
        |     SELECT vec_id, label, clabel,
        |       row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rn
        |     FROM p) WHERE rn = 1)
        | SELECT label, count(*) AS n_vectors,
        |   CAST(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |   round(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
        |     AS accuracy
        | FROM best GROUP BY label ORDER BY label""".stripMargin,
    "embed_label_centroids" ->
      """SELECT label, CAST(i - 1 AS INT) AS i,
        |   round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m,
        |   count(*) AS n_vectors
        | FROM embeddings, UNNEST(range(1, 65)) AS t(i)
        | GROUP BY label, i ORDER BY label, i""".stripMargin,
    "embed_ivf_recall" ->
      s"""$kmeansCte,
         | wc AS (SELECT emb.vec_id, emb.embedding, a2.cell
         |        FROM embeddings emb JOIN a2 USING (vec_id)),
         | q AS (SELECT vec_id AS qid, embedding AS qe, cell AS qcell
         |       FROM wc WHERE vec_id < 10),
         | ip AS (SELECT qid, wc.vec_id,
         |         round(SUM(CAST(qe[i] AS DOUBLE) * CAST(wc.embedding[i] AS DOUBLE)) /
         |           (sqrt(SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) *
         |            sqrt(SUM(CAST(wc.embedding[i] AS DOUBLE) * CAST(wc.embedding[i] AS DOUBLE)))), 4) AS cos
         |       FROM q JOIN wc ON q.qcell = wc.cell AND q.qid <> wc.vec_id,
         |            UNNEST(range(1, 65)) t(i)
         |       GROUP BY qid, wc.vec_id),
         | ik AS (SELECT qid, vec_id FROM (
         |         SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
         |         FROM ip) WHERE rnk <= 3),
         | bp AS (SELECT qid, e.vec_id,
         |         round(SUM(CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) /
         |           (sqrt(SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) *
         |            sqrt(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))), 4) AS cos
         |       FROM q JOIN embeddings e ON q.qid <> e.vec_id,
         |            UNNEST(range(1, 65)) t(i)
         |       GROUP BY qid, e.vec_id),
         | bk AS (SELECT qid, vec_id FROM (
         |         SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
         |         FROM bp) WHERE rnk <= 3)
         | SELECT bk.qid,
         |   CAST(count(ik.vec_id) AS BIGINT) AS hits,
         |   round(count(ik.vec_id) / 3.0, 4) AS recall_at_3
         | FROM bk LEFT JOIN ik ON ik.qid = bk.qid AND ik.vec_id = bk.vec_id
         | GROUP BY bk.qid ORDER BY bk.qid""".stripMargin,
    "embed_neardup_pairs" ->
      s"""WITH $perturbedCorpusSql,
        | chunks AS (
        |   SELECT vec_id, (i - 1) // 16 AS c,
        |     string_agg(CASE WHEN embedding[CAST(i AS INT)] >= 0 THEN '1' ELSE '0' END, '' ORDER BY i) AS bv
        |   FROM corpus, UNNEST(range(1, 65)) t(i)
        |   GROUP BY vec_id, (i - 1) // 16),
        | vstat AS (SELECT c, bv, count(*) AS bn, min(vec_id) AS bmin
        |           FROM chunks GROUP BY c, bv),
        | vw AS (SELECT k.vec_id, k.c, k.bv, s.bn, s.bmin
        |        FROM chunks k JOIN vstat s USING (c, bv)),
        | cand AS (SELECT DISTINCT vec_a, vec_b FROM (
        |   SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |   FROM vw a JOIN vw b ON a.c = b.c AND a.bv = b.bv AND a.vec_id < b.vec_id
        |   WHERE a.bn <= ${Dedup.lshBucketCap}
        |   UNION ALL
        |   SELECT bmin AS vec_a, vec_id AS vec_b FROM vw
        |   WHERE bn > ${Dedup.lshBucketCap} AND vec_id <> bmin)),
        | scored AS (
        |   SELECT vec_a, vec_b,
        |     round(SUM(CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) /
        |       (sqrt(SUM(CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE))) *
        |        sqrt(SUM(CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))), 4) AS cos
        |   FROM cand JOIN corpus ea ON ea.vec_id = vec_a JOIN corpus eb ON eb.vec_id = vec_b,
        |        UNNEST(range(1, 65)) t(i)
        |   GROUP BY vec_a, vec_b)
        | SELECT vec_a, vec_b, cos FROM scored WHERE cos >= 0.99
        | ORDER BY vec_a, vec_b""".stripMargin,
    "embed_semdedup" ->
      s"""WITH $perturbedCorpusSql,
        | ${kmeansBody("corpus")},
        | rk AS (SELECT vec_id, cell, d,
        |          row_number() OVER (PARTITION BY cell ORDER BY d, vec_id) AS rk
        |        FROM a2),
        | pairs AS (SELECT b.vec_id,
        |     round(SUM(ea.v[i] * eb.v[i]) /
        |       (sqrt(SUM(ea.v[i] * ea.v[i])) * sqrt(SUM(eb.v[i] * eb.v[i]))), 4) AS cos
        |   FROM rk a JOIN rk b ON a.cell = b.cell AND a.rk < b.rk
        |   JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id,
        |   UNNEST(range(1, 65)) t(i)
        |   GROUP BY a.vec_id, b.vec_id),
        | dropped AS (SELECT DISTINCT vec_id FROM pairs WHERE cos >= 0.95)
        | SELECT r.vec_id, r.cell, r.d, r.rk, dr.vec_id IS NULL AS is_kept
        | FROM rk r LEFT JOIN dropped dr ON r.vec_id = dr.vec_id
        | ORDER BY r.vec_id""".stripMargin,
    // fixed-cell-SIZE semdedup: the flat oracle with k DERIVED from the
    // corpus count (ceil(N/64) — mirrors Similarity.semDedupSized) and
    // the hi-rank skew cap on the pair join's reference side
    "embed_semdedup_sized" ->
      s"""WITH $perturbedCorpusSql,
        | knum AS (SELECT greatest(CAST(ceil(count(*) / 64.0) AS BIGINT), 1) AS k
        |          FROM corpus),
        | ${kmeansBody("corpus", "(SELECT k FROM knum)")},
        | rk AS (SELECT vec_id, cell, d,
        |          row_number() OVER (PARTITION BY cell ORDER BY d, vec_id) AS rk
        |        FROM a2),
        | pairs AS (SELECT b.vec_id,
        |     round(SUM(ea.v[i] * eb.v[i]) /
        |       (sqrt(SUM(ea.v[i] * ea.v[i])) * sqrt(SUM(eb.v[i] * eb.v[i]))), 4) AS cos
        |   FROM rk a JOIN rk b ON a.cell = b.cell AND a.rk < b.rk AND a.rk <= 256
        |   JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id,
        |   UNNEST(range(1, 65)) t(i)
        |   GROUP BY a.vec_id, b.vec_id),
        | dropped AS (SELECT DISTINCT vec_id FROM pairs WHERE cos >= 0.95)
        | SELECT r.vec_id, r.cell, r.d, r.rk, dr.vec_id IS NULL AS is_kept
        | FROM rk r LEFT JOIN dropped dr ON r.vec_id = dr.vec_id
        | ORDER BY r.vec_id""".stripMargin,
    // two-level SemDeDup: the coarse Lloyd's chain (kmeansBody, k=4) is
    // round-for-round the flat oracle's; the fine pass re-runs the same
    // two unrolled rounds INDEPENDENTLY per coarse cell (f0 init = the 4
    // lowest vec_ids per pcell, fine cell = rank-1 — mirroring
    // Similarity.kmeansAssignWithin), and the pruning CTEs are verbatim
    // the flat ones over the composite cell pcell*4+fine.
    "embed_semdedup_2level" ->
      s"""WITH $perturbedCorpusSql,
        | ${kmeansBody("corpus", "4")},
        | p AS (SELECT vec_id, cell AS pcell FROM a2),
        | fe AS (SELECT e.vec_id, p.pcell, e.v FROM e JOIN p USING (vec_id)),
        | f0 AS (SELECT pcell, rn - 1 AS cell, v AS c FROM (
        |          SELECT pcell, vec_id, v,
        |            row_number() OVER (PARTITION BY pcell ORDER BY vec_id) AS rn
        |          FROM fe) WHERE rn <= 4),
        | fd1 AS (SELECT fe.vec_id, f0.cell,
        |           round(SUM((fe.v[i] - f0.c[i]) * (fe.v[i] - f0.c[i])), 6) AS d
        |         FROM fe JOIN f0 USING (pcell), UNNEST(range(1, 65)) t(i)
        |         GROUP BY fe.vec_id, f0.cell),
        | fa1 AS (SELECT vec_id, cell FROM (
        |           SELECT vec_id, cell,
        |             row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        |           FROM fd1) WHERE rn = 1),
        | fm1 AS (SELECT fe.pcell, fa1.cell, i, round(avg(fe.v[i]), 6) AS m
        |         FROM fa1 JOIN fe USING (vec_id), UNNEST(range(1, 65)) t(i)
        |         GROUP BY fe.pcell, fa1.cell, i),
        | fc1 AS (SELECT pcell, cell, list(m ORDER BY i) AS c
        |         FROM fm1 GROUP BY pcell, cell),
        | fd2 AS (SELECT fe.vec_id, fc1.cell,
        |           round(SUM((fe.v[i] - fc1.c[i]) * (fe.v[i] - fc1.c[i])), 6) AS d
        |         FROM fe JOIN fc1 USING (pcell), UNNEST(range(1, 65)) t(i)
        |         GROUP BY fe.vec_id, fc1.cell),
        | fa2 AS (SELECT vec_id, cell, d FROM (
        |           SELECT vec_id, cell, d,
        |             row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        |           FROM fd2) WHERE rn = 1),
        | comp AS (SELECT fa2.vec_id, p.pcell * 4 + fa2.cell AS cell, fa2.d AS d
        |          FROM fa2 JOIN p USING (vec_id)),
        | crk AS (SELECT vec_id, cell, d,
        |          row_number() OVER (PARTITION BY cell ORDER BY d, vec_id) AS rk
        |        FROM comp),
        | cpairs AS (SELECT b.vec_id,
        |     round(SUM(ea.v[i] * eb.v[i]) /
        |       (sqrt(SUM(ea.v[i] * ea.v[i])) * sqrt(SUM(eb.v[i] * eb.v[i]))), 4) AS cos
        |   FROM crk a JOIN crk b ON a.cell = b.cell AND a.rk < b.rk
        |   JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id,
        |   UNNEST(range(1, 65)) t(i)
        |   GROUP BY a.vec_id, b.vec_id),
        | cdropped AS (SELECT DISTINCT vec_id FROM cpairs WHERE cos >= 0.95)
        | SELECT r.vec_id, r.cell, r.d, r.rk, dr.vec_id IS NULL AS is_kept
        | FROM crk r LEFT JOIN cdropped dr ON r.vec_id = dr.vec_id
        | ORDER BY r.vec_id""".stripMargin,
    // the SIZED layout's two-level rung: the embed_semdedup_2level
    // chain with the geometry DERIVED from the corpus count exactly as
    // Similarity.semDedupSized derives it — cells = ceil(N/64), side =
    // greatest(2, ceil(sqrt(cells))) — coarse kmeansBody at k = side,
    // fine init = the `side` lowest vec_ids per pcell, composite cell
    // = pcell·side + fine, and the sized hiRankCap (4·64 = 256) as
    // a.rk <= 256 on the pair join's reference side
    "embed_semdedup_sized_twolevel" ->
      s"""WITH $perturbedCorpusSql,
        | knum AS (SELECT greatest(CAST(ceil(count(*) / 64.0) AS BIGINT), 1) AS cells
        |          FROM corpus),
        | sidec AS (SELECT greatest(2, CAST(ceil(sqrt(cells)) AS BIGINT)) AS side
        |           FROM knum),
        | ${kmeansBody("corpus", "(SELECT side FROM sidec)")},
        | p AS (SELECT vec_id, cell AS pcell FROM a2),
        | fe AS (SELECT e.vec_id, p.pcell, e.v FROM e JOIN p USING (vec_id)),
        | f0 AS (SELECT pcell, rn - 1 AS cell, v AS c FROM (
        |          SELECT pcell, vec_id, v,
        |            row_number() OVER (PARTITION BY pcell ORDER BY vec_id) AS rn
        |          FROM fe) WHERE rn <= (SELECT side FROM sidec)),
        | fd1 AS (SELECT fe.vec_id, f0.cell,
        |           round(SUM((fe.v[i] - f0.c[i]) * (fe.v[i] - f0.c[i])), 6) AS d
        |         FROM fe JOIN f0 USING (pcell), UNNEST(range(1, 65)) t(i)
        |         GROUP BY fe.vec_id, f0.cell),
        | fa1 AS (SELECT vec_id, cell FROM (
        |           SELECT vec_id, cell,
        |             row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        |           FROM fd1) WHERE rn = 1),
        | fm1 AS (SELECT fe.pcell, fa1.cell, i, round(avg(fe.v[i]), 6) AS m
        |         FROM fa1 JOIN fe USING (vec_id), UNNEST(range(1, 65)) t(i)
        |         GROUP BY fe.pcell, fa1.cell, i),
        | fc1 AS (SELECT pcell, cell, list(m ORDER BY i) AS c
        |         FROM fm1 GROUP BY pcell, cell),
        | fd2 AS (SELECT fe.vec_id, fc1.cell,
        |           round(SUM((fe.v[i] - fc1.c[i]) * (fe.v[i] - fc1.c[i])), 6) AS d
        |         FROM fe JOIN fc1 USING (pcell), UNNEST(range(1, 65)) t(i)
        |         GROUP BY fe.vec_id, fc1.cell),
        | fa2 AS (SELECT vec_id, cell, d FROM (
        |           SELECT vec_id, cell, d,
        |             row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        |           FROM fd2) WHERE rn = 1),
        | comp AS (SELECT fa2.vec_id,
        |            p.pcell * (SELECT side FROM sidec) + fa2.cell AS cell,
        |            fa2.d AS d
        |          FROM fa2 JOIN p USING (vec_id)),
        | crk AS (SELECT vec_id, cell, d,
        |          row_number() OVER (PARTITION BY cell ORDER BY d, vec_id) AS rk
        |        FROM comp),
        | cpairs AS (SELECT b.vec_id,
        |     round(SUM(ea.v[i] * eb.v[i]) /
        |       (sqrt(SUM(ea.v[i] * ea.v[i])) * sqrt(SUM(eb.v[i] * eb.v[i]))), 4) AS cos
        |   FROM crk a JOIN crk b ON a.cell = b.cell AND a.rk < b.rk AND a.rk <= 256
        |   JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id,
        |   UNNEST(range(1, 65)) t(i)
        |   GROUP BY a.vec_id, b.vec_id),
        | cdropped AS (SELECT DISTINCT vec_id FROM cpairs WHERE cos >= 0.95)
        | SELECT r.vec_id, r.cell, r.d, r.rk, dr.vec_id IS NULL AS is_kept
        | FROM crk r LEFT JOIN cdropped dr ON r.vec_id = dr.vec_id
        | ORDER BY r.vec_id""".stripMargin,
    // auto rung at verify scale resolves to the flat chain with
    // k = ceil(sqrt(N)) — computed IN SQL so the oracle follows the
    // corpus count exactly as Similarity.semDedupAuto does
    "embed_semdedup_auto" ->
      s"""WITH $perturbedCorpusSql,
        | ${kmeansBody("corpus",
            "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM corpus)")},
        | rk AS (SELECT vec_id, cell, d,
        |          row_number() OVER (PARTITION BY cell ORDER BY d, vec_id) AS rk
        |        FROM a2),
        | pairs AS (SELECT b.vec_id,
        |     round(SUM(ea.v[i] * eb.v[i]) /
        |       (sqrt(SUM(ea.v[i] * ea.v[i])) * sqrt(SUM(eb.v[i] * eb.v[i]))), 4) AS cos
        |   FROM rk a JOIN rk b ON a.cell = b.cell AND a.rk < b.rk
        |   JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id,
        |   UNNEST(range(1, 65)) t(i)
        |   GROUP BY a.vec_id, b.vec_id),
        | dropped AS (SELECT DISTINCT vec_id FROM pairs WHERE cos >= 0.95)
        | SELECT r.vec_id, r.cell, r.d, r.rk, dr.vec_id IS NULL AS is_kept
        | FROM rk r LEFT JOIN dropped dr ON r.vec_id = dr.vec_id
        | ORDER BY r.vec_id""".stripMargin,
    "text_langid" ->
      s"""WITH m(mlang, marker) AS (VALUES ${TextOps.markers.map {
           case (l, w) => s"('$l', '$w')" }.mkString(", ")}),
         | wrds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         | hits AS (SELECT doc_id, mlang, count(*) AS hits
         |          FROM wrds JOIN m ON word = marker GROUP BY doc_id, mlang),
         | best AS (SELECT doc_id, mlang, hits,
         |            row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, mlang) AS rn
         |          FROM hits)
         | SELECT d.doc_id, d.lang,
         |   coalesce(b.mlang, 'unknown') AS predicted,
         |   CAST(coalesce(b.hits, 0) AS BIGINT) AS marker_hits,
         |   coalesce(b.mlang, 'unknown') = d.lang AS is_match
         | FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
         |   ON d.doc_id = b.doc_id
         | ORDER BY d.doc_id""".stripMargin,
    "lang_confusion" ->
      s"""WITH m(mlang, marker) AS (VALUES ${TextOps.markers.map {
           case (l, w) => s"('$l', '$w')" }.mkString(", ")}),
         | wrds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         | hits AS (SELECT doc_id, mlang, count(*) AS hits
         |          FROM wrds JOIN m ON word = marker GROUP BY doc_id, mlang),
         | best AS (SELECT doc_id, mlang, hits,
         |            row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, mlang) AS rn
         |          FROM hits),
         | lc AS (SELECT d.lang, coalesce(b.mlang, 'unknown') AS predicted
         |        FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
         |          ON d.doc_id = b.doc_id),
         | g AS (SELECT lang, predicted, count(*) AS n FROM lc GROUP BY lang, predicted)
         | SELECT lang, predicted, n,
         |   round(n / sum(n) OVER (PARTITION BY lang), 4) AS row_frac
         | FROM g ORDER BY lang, predicted""".stripMargin,
    "text_nb_langid" ->
      s"""$nbScoresCte
         | SELECT doc_id, lang, nb_pred, n_tokens, nb_logp, margin, is_match
         | FROM nbres ORDER BY doc_id""".stripMargin,
    "text_nb_confusion" ->
      s"""$nbScoresCte,
         | m6 AS (SELECT lang, nb_pred,
         |     CAST(round(margin, 6) AS DECIMAL(18,6)) AS m6 FROM nbres),
         | g AS (SELECT lang, nb_pred, count(*) AS n,
         |     round(CAST(sum(m6) AS DOUBLE) / count(*), 4) AS avg_margin
         |   FROM m6 GROUP BY lang, nb_pred),
         | r AS (SELECT lang, nb_pred, n,
         |     round(n / sum(n) OVER (PARTITION BY lang), 4) AS row_frac, avg_margin,
         |     row_number() OVER (PARTITION BY lang ORDER BY n DESC, nb_pred) AS rk
         |   FROM g)
         | SELECT lang, nb_pred, n, row_frac, avg_margin
         | FROM r WHERE rk <= 10 ORDER BY lang, nb_pred""".stripMargin,
    "events_l28" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        | m AS (SELECT max(day) AS max_day FROM days),
        | iw AS (SELECT user_id, day FROM days, m WHERE day > max_day - INTERVAL 28 DAY),
        | ua AS (SELECT user_id, count(*) AS days_active FROM iw GROUP BY user_id)
        | SELECT days_active, count(*) AS n_users
        | FROM ua GROUP BY days_active ORDER BY days_active""".stripMargin,
    // √-token weights: sqrt is IEEE-exact in both engines; the 6dp
    // DECIMAL carrier makes the denominator sum fold-order free; boost
    // repeats the two rounded ratios verbatim
    // largest-remainder apportionment on exact integers: num = budget*s
    // in HUGEINT, base = num // stot, remainder ranking on the integer
    // numerators (same denominator => same order as the fractions)
    "mix_allocation" ->
      """WITH ps AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t
        |            FROM documents GROUP BY source),
        | q AS (SELECT source, t,
        |     CAST(CAST(round(sqrt(CAST(t AS DOUBLE)), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS s
        |   FROM ps),
        | tot AS (SELECT CAST(sum(s) AS HUGEINT) AS stot FROM q),
        | b AS (SELECT source, t, s,
        |     CASE WHEN stot = 0 THEN 0 ELSE (CAST(1000000 AS HUGEINT) * s) // stot END AS base,
        |     CASE WHEN stot = 0 THEN 0 ELSE (CAST(1000000 AS HUGEINT) * s) % stot END AS rem
        |   FROM q, tot),
        | sb AS (SELECT CAST(sum(base) AS BIGINT) AS sb FROM b),
        | rk AS (SELECT source, row_number() OVER (ORDER BY rem DESC, source) AS rnk FROM b),
        | tt AS (SELECT b.source, b.t, b.s,
        |     CAST(b.base + CASE WHEN rk.rnk <= 1000000 - sb.sb THEN 1 ELSE 0 END AS BIGINT)
        |       AS target_tokens
        |   FROM b JOIN rk USING (source), sb)
        | SELECT source, t AS n_tokens, s AS w_scaled, target_tokens,
        |   CASE WHEN t <> 0
        |        THEN round(CAST(target_tokens AS DOUBLE) / CAST(t AS DOUBLE), 4) + 0.0
        |   END AS epochs
        | FROM tt ORDER BY source""".stripMargin,
    // the apportionment EMITTED: full epochs via a lateral range, the
    // partial epoch via an md5-ordered running sum with the boundary
    // doc truncated (LEAST) so per-source output is exactly the quota
    "mix_materialize" ->
      """WITH ps AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t
        |            FROM documents GROUP BY source),
        | q AS (SELECT source, t,
        |     CAST(CAST(round(sqrt(CAST(t AS DOUBLE)), 6) AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS s
        |   FROM ps),
        | tot AS (SELECT CAST(sum(s) AS HUGEINT) AS stot FROM q),
        | b AS (SELECT source, t, s,
        |     CASE WHEN stot = 0 THEN 0 ELSE (CAST(1000000 AS HUGEINT) * s) // stot END AS base,
        |     CASE WHEN stot = 0 THEN 0 ELSE (CAST(1000000 AS HUGEINT) * s) % stot END AS rem0
        |   FROM q, tot),
        | sb AS (SELECT CAST(sum(base) AS BIGINT) AS sb FROM b),
        | rk AS (SELECT source, row_number() OVER (ORDER BY rem0 DESC, source) AS rnk FROM b),
        | al AS (SELECT b.source, b.t,
        |     CAST(b.base + CASE WHEN rk.rnk <= 1000000 - sb.sb THEN 1 ELSE 0 END AS BIGINT)
        |       AS target
        |   FROM b JOIN rk USING (source), sb),
        | al2 AS (SELECT source, t, target // t AS full_epochs, target % t AS rem FROM al),
        | dt AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
        |        FROM documents),
        | fe AS (SELECT dt.source, e.epoch, dt.tokens AS toks_out
        |        FROM dt JOIN al2 USING (source), UNNEST(range(0, al2.full_epochs)) AS e(epoch)),
        | pc AS (SELECT source, doc_id, tokens,
        |          COALESCE(SUM(tokens) OVER (PARTITION BY source
        |            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |        FROM dt),
        | pe AS (SELECT pc.source, al2.full_epochs AS epoch,
        |          LEAST(pc.tokens, al2.rem - pc.prev) AS toks_out
        |        FROM pc JOIN al2 USING (source) WHERE pc.prev < al2.rem),
        | un AS (SELECT * FROM fe UNION ALL SELECT * FROM pe)
        | SELECT source, epoch, count(*) AS n_docs,
        |   CAST(sum(toks_out) AS BIGINT) AS n_tokens
        | FROM un GROUP BY source, epoch ORDER BY source, epoch""".stripMargin,
    // materialize → shard → pack: the doc-level emission (fe/pe with
    // doc_id kept), instance-keyed md5 shard + position, per-shard
    // running-sum pack layout at capacity 2048; tok_offset is CAST
    // back to BIGINT (DuckDB window sums widen to HUGEINT)
    "mix_pack_shard" ->
      s"""$mixPackCtes
        | SELECT shard, CAST(pos AS BIGINT) AS pos, doc_id, epoch, source,
        |   toks_out, tok_offset,
        |   tok_offset // 2048 AS pack_id, tok_offset % 2048 AS pack_pos,
        |   (tok_offset % 2048) + toks_out > 2048 AS straddles
        | FROM pk ORDER BY shard, pos""".stripMargin,
    // token-level packing: the pk chain's instances split at every
    // 2048-token pack boundary — one row per (instance, pack)
    // intersection via a per-row range explode — so each pack sums to
    // exactly `capacity` except the shard's final partial pack
    // (PackingSpec pins the invariant; this oracle pins the rows)
    "mix_pack_split" ->
      s"""$mixPackCtes,
        | sg AS (SELECT shard, pos, doc_id, epoch, source, toks_out, tok_offset,
        |          tok_offset // 2048 AS first_pack,
        |          (tok_offset + toks_out - 1) // 2048 AS last_pack
        |        FROM pk)
        | SELECT shard, CAST(pos AS BIGINT) AS pos, doc_id, epoch, source,
        |   p.pack_id,
        |   CAST(p.pack_id - first_pack AS BIGINT) AS seg_index,
        |   CAST(last_pack - first_pack + 1 AS BIGINT) AS n_segs,
        |   CAST(greatest(tok_offset, p.pack_id * 2048) - p.pack_id * 2048 AS BIGINT) AS pack_pos,
        |   CAST(least(tok_offset + toks_out, (p.pack_id + 1) * 2048)
        |      - greatest(tok_offset, p.pack_id * 2048) AS BIGINT) AS seg_tokens
        | FROM sg, UNNEST(range(sg.first_pack, sg.last_pack + 1)) p(pack_id)
        | ORDER BY shard, pos, seg_index""".stripMargin,
    "source_mix_weights" ->
      """WITH s AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t
        |           FROM documents GROUP BY source),
        | q AS (SELECT source, t,
        |     CAST(round(sqrt(CAST(t AS DOUBLE)), 6) AS DECIMAL(24,6)) AS sq FROM s),
        | tot AS (SELECT CAST(sum(t) AS BIGINT) AS tot, sum(sq) AS sq_tot FROM q)
        | SELECT source, t AS n_tokens,
        |   round(CAST(t AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS w_prop,
        |   round(CAST(sq AS DOUBLE) / CAST(sq_tot AS DOUBLE), 6) AS w_temp,
        |   round(round(CAST(sq AS DOUBLE) / CAST(sq_tot AS DOUBLE), 6) /
        |         round(CAST(t AS DOUBLE) / CAST(tot AS DOUBLE), 6), 4) AS boost
        | FROM q, tot ORDER BY source""".stripMargin,
    // KMV: the bottom-k rows and the estimator constants (127·2⁵⁶ has
    // 7 significant bits — exact as a double) mirror Sketch verbatim;
    // the hash is the md5's leading 14 nibbles assembled base-16
    // (uniform on [0, 2⁵⁶) — the ascii polynomial is lumpy and would
    // bias the order statistic)
    "sketch_kmv_ngrams" -> {
      val nibbleSql = (1 to 14).map { i =>
        s"(CAST(ascii(substr(m, $i, 1)) AS BIGINT) - CASE WHEN ascii(substr(m, $i, 1)) >= 97 THEN 87 ELSE 48 END) * ${1L << (4 * (14 - i))}"
      }.mkString(" + ")
      s"""WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
         | g AS (SELECT DISTINCT source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
         |       FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         | h AS (SELECT DISTINCT source, ($nibbleSql) AS h
         |       FROM (SELECT source, md5(s) AS m FROM g)),
         | r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
         | sk AS (SELECT source, max(h) AS h_k, count(*) AS k_eff FROM r WHERE rn <= 128 GROUP BY source),
         | e AS (SELECT source, count(*) AS exact_distinct FROM g GROUP BY source),
         | j AS (SELECT source, exact_distinct, k_eff, h_k,
         |   round(CASE WHEN k_eff < 128 THEN CAST(k_eff AS DOUBLE)
         |     ELSE CAST(127 AS DOUBLE) * 72057594037927936.0 / CAST(h_k AS DOUBLE) END, 2) AS est_distinct
         |   FROM sk JOIN e USING (source))
         | SELECT source, exact_distinct, k_eff, h_k, est_distinct,
         |   round((est_distinct - CAST(exact_distinct AS DOUBLE)) /
         |         CAST(exact_distinct AS DOUBLE), 4) AS rel_err
         | FROM j ORDER BY source""".stripMargin
    },
    // KMV set algebra: the merged sketch is window-limited to k rows
    // per pair; estimators mirror Sketch verbatim (inter from the two
    // rounded factors)
    "sketch_kmv_overlap" -> {
      val nibbleSql = (1 to 14).map { i =>
        s"(CAST(ascii(substr(m, $i, 1)) AS BIGINT) - CASE WHEN ascii(substr(m, $i, 1)) >= 97 THEN 87 ELSE 48 END) * ${1L << (4 * (14 - i))}"
      }.mkString(" + ")
      s"""WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
         | g AS (SELECT DISTINCT source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
         |       FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         | h AS (SELECT DISTINCT source, ($nibbleSql) AS h
         |       FROM (SELECT source, md5(s) AS m FROM g)),
         | r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
         | sk AS (SELECT source, h FROM r WHERE rn <= 128),
         | srcs AS (SELECT DISTINCT source FROM sk),
         | pairs AS (SELECT a.source AS sa, b.source AS sb
         |           FROM srcs a, srcs b WHERE a.source < b.source),
         | un AS (SELECT sa, sb, h,
         |     max(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS in_a,
         |     max(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS in_b
         |   FROM (
         |     SELECT p.sa, p.sb, s.h, 'a' AS side FROM pairs p JOIN sk s ON s.source = p.sa
         |     UNION ALL
         |     SELECT p.sa, p.sb, s.h, 'b' AS side FROM pairs p JOIN sk s ON s.source = p.sb)
         |   GROUP BY sa, sb, h),
         | rr AS (SELECT sa, sb, h, in_a, in_b,
         |     row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn FROM un),
         | agg AS (SELECT sa, sb, max(h) AS kth, count(*) AS m_k,
         |     sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS c_both
         |   FROM rr WHERE rn <= 128 GROUP BY sa, sb),
         | est AS (SELECT sa, sb,
         |     round(CASE WHEN m_k < 128 THEN CAST(m_k AS DOUBLE)
         |       ELSE CAST(127 AS DOUBLE) * 72057594037927936.0 / CAST(kth AS DOUBLE) END, 2) AS union_est,
         |     round(CAST(c_both AS DOUBLE) / CAST(m_k AS DOUBLE), 6) AS jaccard_est
         |   FROM agg)
         | SELECT sa AS src_a, sb AS src_b, union_est, jaccard_est,
         |   round(jaccard_est * union_est, 2) AS inter_est
         | FROM est ORDER BY src_a, src_b""".stripMargin
    },
    // HLL: registers from the top-9/low-47 bit split of the uniform
    // 56-bit hash; rank via the bin-length log2 trick; the register
    // sum is the EXACT integer Σ 2^(48−M_b) so both engines' doubles
    // start from identical operands. α and the estimator chain are
    // written as all-DOUBLE casts (a bare 0.7197… literal is DECIMAL
    // in DuckDB and its arithmetic rounds differently); the mults
    // are exact power-of-two scalings so the one rounding is the
    // final division — IEEE-identical to the Spark side.
    "sketch_hll_distinct" -> {
      val nibbleSql = (1 to 14).map { i =>
        s"(CAST(ascii(substr(m, $i, 1)) AS BIGINT) - CASE WHEN ascii(substr(m, $i, 1)) >= 97 THEN 87 ELSE 48 END) * ${1L << (4 * (14 - i))}"
      }.mkString(" + ")
      s"""WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
         | g AS (SELECT DISTINCT source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
         |       FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         | h AS (SELECT DISTINCT source, ($nibbleSql) AS h
         |       FROM (SELECT source, md5(s) AS m FROM g)),
         | br AS (SELECT source, h // 140737488355328 AS b, h % 140737488355328 AS w56 FROM h),
         | rk AS (SELECT source, b, CASE WHEN w56 = 0 THEN 48 ELSE 48 - length(bin(w56)) END AS r FROM br),
         | reg AS (SELECT source, b, max(r) AS m_b FROM rk GROUP BY source, b),
         | sk AS (SELECT source, CAST(sum(CAST(power(2, 48 - m_b) AS BIGINT)) AS BIGINT) AS s_present,
         |               count(*) AS n_present FROM reg GROUP BY source),
         | est0 AS (SELECT source,
         |     s_present + (512 - n_present) * CAST(281474976710656 AS BIGINT) AS s_int,
         |     512 - n_present AS v_zero FROM sk),
         | est AS (SELECT source, s_int, v_zero,
         |     (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(512 AS DOUBLE)))
         |       * 512.0 * 512.0 * 281474976710656.0 / CAST(s_int AS DOUBLE) AS e_raw
         |   FROM est0),
         | fin AS (SELECT source, s_int, v_zero,
         |     CASE WHEN e_raw <= 1280.0 AND v_zero > 0 THEN 1 ELSE 0 END AS corrected,
         |     round(CASE WHEN e_raw <= 1280.0 AND v_zero > 0
         |                THEN 512.0 * ln(512.0 / CAST(v_zero AS DOUBLE))
         |                ELSE e_raw END, 2) AS est_distinct
         |   FROM est),
         | e AS (SELECT source, count(*) AS exact_distinct FROM g GROUP BY source)
         | SELECT source, exact_distinct, v_zero, s_int, corrected, est_distinct,
         |   round((est_distinct - CAST(exact_distinct AS DOUBLE)) / CAST(exact_distinct AS DOUBLE), 4) AS rel_err
         | FROM fin JOIN e USING (source) ORDER BY source""".stripMargin
    },
    // HLL union: the oracle computes the GLOBAL register file straight
    // from the corpus; the Spark side max-merges the per-source files —
    // a hash match proves the merge, not just the formula
    "sketch_hll_union" -> {
      val nibbleSql = (1 to 14).map { i =>
        s"(CAST(ascii(substr(m, $i, 1)) AS BIGINT) - CASE WHEN ascii(substr(m, $i, 1)) >= 97 THEN 87 ELSE 48 END) * ${1L << (4 * (14 - i))}"
      }.mkString(" + ")
      s"""WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
         | g AS (SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
         |       FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         | h AS (SELECT DISTINCT ($nibbleSql) AS h
         |       FROM (SELECT md5(s) AS m FROM g)),
         | br AS (SELECT h // 140737488355328 AS b, h % 140737488355328 AS w56 FROM h),
         | rk AS (SELECT b, CASE WHEN w56 = 0 THEN 48 ELSE 48 - length(bin(w56)) END AS r FROM br),
         | reg AS (SELECT b, max(r) AS m_b FROM rk GROUP BY b),
         | sk AS (SELECT CAST(sum(CAST(power(2, 48 - m_b) AS BIGINT)) AS BIGINT) AS s_present,
         |               count(*) AS n_present FROM reg),
         | est0 AS (SELECT
         |     s_present + (512 - n_present) * CAST(281474976710656 AS BIGINT) AS s_int,
         |     512 - n_present AS v_zero FROM sk),
         | est AS (SELECT s_int, v_zero,
         |     (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(512 AS DOUBLE)))
         |       * 512.0 * 512.0 * 281474976710656.0 / CAST(s_int AS DOUBLE) AS e_raw
         |   FROM est0),
         | fin AS (SELECT s_int, v_zero,
         |     CASE WHEN e_raw <= 1280.0 AND v_zero > 0 THEN 1 ELSE 0 END AS corrected,
         |     round(CASE WHEN e_raw <= 1280.0 AND v_zero > 0
         |                THEN 512.0 * ln(512.0 / CAST(v_zero AS DOUBLE))
         |                ELSE e_raw END, 2) AS est_distinct
         |   FROM est),
         | e AS (SELECT count(*) AS exact_distinct FROM g)
         | SELECT exact_distinct, v_zero, s_int, corrected, est_distinct,
         |   round((est_distinct - CAST(exact_distinct AS DOUBLE)) / CAST(exact_distinct AS DOUBLE), 4) AS rel_err
         | FROM fin, e""".stripMargin
    },
    // Count-Min: exact-BIGINT cell grid, point query = min over the
    // depth cells; est ≥ exact is the sketch's one-sided guarantee
    "sketch_cms_heavy" -> {
      s"""WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
         | g AS (SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
         |       FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         | wc AS (SELECT s, count(*) AS cnt FROM g GROUP BY s),
         | hx AS (SELECT s, cnt, ($minhashBaseSql) % ${Dedup.minhashP} AS x
         |        FROM (SELECT s, cnt, md5(s) AS m FROM wc)),
         | hb AS (SELECT s, cnt, d, $cmsBucketCaseSql AS b
         |        FROM hx, UNNEST(['0','1','2','3']) AS t(d)),
         | sk AS (SELECT d, b, sum(cnt) AS c FROM hb GROUP BY d, b),
         | top AS (SELECT s, cnt FROM wc ORDER BY cnt DESC, s LIMIT 20),
         | pt AS (SELECT t.s, t.cnt, min(sk.c) AS est
         |        FROM top t JOIN hb ON hb.s = t.s JOIN sk ON sk.d = hb.d AND sk.b = hb.b
         |        GROUP BY t.s, t.cnt)
         | SELECT s AS gram, cnt AS exact_cnt, CAST(est AS BIGINT) AS est_cnt,
         |        CAST(est - cnt AS BIGINT) AS overcount
         | FROM pt ORDER BY exact_cnt DESC, gram""".stripMargin
    },
    // CMS inner product: per-depth Σc² with min over depths — the
    // one-sided join-size estimator; all cells exact BIGINT
    "sketch_cms_join_size" -> {
      s"""WITH kc AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
         | hx AS (SELECT cnt, ($minhashBaseSql) % ${Dedup.minhashP} AS x
         |        FROM (SELECT cnt, md5(CAST(user_id AS VARCHAR)) AS m FROM kc)),
         | hb AS (SELECT cnt, d, $cmsBucketCaseSql AS b
         |        FROM hx, UNNEST(['0','1','2','3']) AS t(d)),
         | cells AS (SELECT d, b, CAST(sum(cnt) AS BIGINT) AS c FROM hb GROUP BY d, b),
         | pd AS (SELECT d, CAST(sum(c * c) AS BIGINT) AS est_d FROM cells GROUP BY d),
         | est AS (SELECT min(est_d) AS est_size FROM pd),
         | ex AS (SELECT CAST(sum(cnt * cnt) AS BIGINT) AS exact_size,
         |          count(*) AS n_keys FROM kc)
         | SELECT n_keys, exact_size, est_size,
         |   est_size - exact_size AS overcount,
         |   round((est_size - exact_size) * 1.0 / exact_size, 6) AS rel_err
         | FROM est, ex""".stripMargin
    },
    // grouped quantile sketch: one register file per event_type
    "sketch_hist_by_type" -> histByTypeOracle,
    // the per-group streaming replay accumulates the same per-type
    // registers across micro-batches, so it shares the batch oracle
    // verbatim (the mergeability proof, per group)
    "stream_hist_by_type_replay" -> histByTypeOracle,
    // skew pre-flight: quantiles of the key-count distribution read
    // from the log-bucket register file; exact integer ranks and salts
    "skew_key_stats" ->
      """WITH kc AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        | hist AS (SELECT (cnt >> sh) << sh AS lo, count(*) AS nk
        |   FROM (SELECT cnt,
        |           greatest(CAST(length(bin(cnt)) AS INTEGER) - 1 - 4, 0) AS sh
        |         FROM kc)
        |   GROUP BY (cnt >> sh) << sh),
        | tot AS (SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows FROM kc),
        | cum AS (SELECT lo, nk, sum(nk) OVER (ORDER BY lo) AS cum FROM hist),
        | p50 AS (SELECT lo AS p50_cnt FROM cum, tot
        |         WHERE cum >= (n_keys + 1) // 2 AND cum - nk < (n_keys + 1) // 2),
        | p99 AS (SELECT lo AS p99_cnt FROM cum, tot
        |         WHERE cum >= (99 * n_keys + 99) // 100
        |           AND cum - nk < (99 * n_keys + 99) // 100),
        | top AS (SELECT user_id, cnt FROM kc ORDER BY cnt DESC, user_id LIMIT 5)
        | SELECT t.user_id, t.cnt, round(t.cnt * 1.0 / n_rows, 6) AS share,
        |   n_keys, round(n_rows * 1.0 / n_keys, 2) AS mean_cnt,
        |   p50_cnt, p99_cnt, (t.cnt + p50_cnt - 1) // p50_cnt AS suggested_salt
        | FROM top t, tot, p50, p99
        | ORDER BY t.cnt DESC, t.user_id""".stripMargin,
    // HDR log-bucket quantile sketch: the oracle histograms the WHOLE
    // table directly while Spark merges per-returnflag partials — the
    // hash match proves sum-merge associativity (hllUnion pattern).
    // Ranks are exact integers ((num·n+den−1)//den); the quantile_cont
    // twin follows the events_percentiles precedent
    "sketch_hist_quantiles" -> histQuantilesOracle,
    "sketch_hist_rel_err" -> histRelErrOracle,
    // the streaming replay accumulates the same registers across
    // micro-batches, so it shares the batch oracle verbatim
    "stream_hist_replay" -> histQuantilesOracle,
    // ES weighted sample: content-hash uniform -> ln(u)/w key, rounded
    // 8dp before the rank with doc_id tiebreak (ordering never touches
    // a raw computed float)
    "sample_weighted_tokens" ->
      s"""WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS w,
         |             md5(text) AS m FROM documents),
         | u AS (SELECT doc_id, w,
         |         (($minhashBaseSql) % ${Dedup.minhashP} + 1.0) / ${Dedup.minhashP + 1}.0 AS u
         |       FROM t WHERE w > 0),
         | k AS (SELECT doc_id, w, round(ln(u) / w, 8) AS es_key FROM u)
         | SELECT doc_id, w, es_key FROM k
         | ORDER BY es_key DESC, doc_id LIMIT 50""".stripMargin,
    // DSIR: bucket counts are exact ints; each bucket's log-ratio
    // (fixed tree, α=½, αB=4096) rounds to an 8dp DECIMAL carrier so
    // the per-doc sum is fold-order free
    "dsir_weights" ->
      s"""$dsirCoreCte
         | SELECT d.doc_id, s.source, n_tokens, dsir_logw
         | FROM d JOIN (SELECT doc_id, source FROM documents) s ON d.doc_id = s.doc_id
         | ORDER BY d.doc_id""".stripMargin,
    // DSIR log-weights fed straight into the ES sampler in LOG space:
    // rank ln(−ln u) − lw ascending (≡ u^(1/exp(lw)) descending, the
    // Gumbel identity) — no exp() anywhere, so arbitrary-magnitude
    // importance weights sample without overflow or cross-engine
    // last-ulp risk
    "sample_dsir_weighted" ->
      s"""$dsirCoreCte,
         | m2 AS (SELECT doc_id, md5(text) AS m FROM documents),
         | u2 AS (SELECT doc_id,
         |         (($minhashBaseSql) % ${Dedup.minhashP} + 1.0) / ${Dedup.minhashP + 1}.0 AS u
         |       FROM m2),
         | k2 AS (SELECT d.doc_id, d.dsir_logw AS lw,
         |         round(ln(-ln(u)) - d.dsir_logw, 8) AS es_key
         |       FROM d JOIN u2 USING (doc_id))
         | SELECT doc_id, lw, es_key FROM k2
         | ORDER BY es_key, doc_id LIMIT 50""".stripMargin,
    "events_cohort_ltv" ->
      """WITH e AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week, value FROM events),
        | fs AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id),
        | sz AS (SELECT cohort_week, count(*) AS cohort_users FROM fs GROUP BY cohort_week),
        | cells AS (SELECT fs.cohort_week,
        |     CAST(date_diff('day', fs.cohort_week, e.week) / 7 AS BIGINT) AS age_week,
        |     count(DISTINCT e.user_id) AS n_active,
        |     sum(CAST(e.value AS DECIMAL(18,4))) AS v
        |   FROM e JOIN fs USING (user_id)
        |   GROUP BY fs.cohort_week, CAST(date_diff('day', fs.cohort_week, e.week) / 7 AS BIGINT)),
        | cum AS (SELECT cohort_week, age_week, n_active, v,
        |     sum(v) OVER (PARTITION BY cohort_week ORDER BY age_week) AS cum_v
        |   FROM cells)
        | SELECT cohort_week, age_week, cohort_users, n_active,
        |   CAST(v AS DOUBLE) AS value_sum,
        |   round(CAST(cum_v AS DOUBLE) / cohort_users, 4) AS ltv_per_user
        | FROM cum JOIN sz USING (cohort_week)
        | ORDER BY cohort_week, age_week""".stripMargin,
    "events_growth" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        | c AS (SELECT day,
        |     CASE WHEN lag(day, 1) OVER wu IS NULL THEN 'new'
        |          WHEN date_diff('day', lag(day, 1) OVER wu, day) > 7 THEN 'resurrected'
        |          ELSE 'returning' END AS status
        |   FROM d WINDOW wu AS (PARTITION BY user_id ORDER BY day))
        | SELECT day, status, count(*) AS n_users
        | FROM c GROUP BY day, status ORDER BY day, status""".stripMargin,
    // the streaming replay shares the batch oracle verbatim (k is
    // calibrated with the identical formula; day-cut drops keep every
    // hour inside one micro-batch)
    "stream_cusum_replay" -> eventsCusumOracle,
    // CUSUM replayed as a recursive CTE — bit-exact integer recursion
    "events_cusum" -> eventsCusumOracle,
    "events_hourly_top" ->
      """WITH c AS (SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
        |           FROM events GROUP BY date_trunc('hour', ts), event_type),
        | rk AS (SELECT hour, event_type, n,
        |     CAST(row_number() OVER (PARTITION BY hour ORDER BY n DESC, event_type)
        |       AS INTEGER) AS rnk
        |   FROM c)
        | SELECT hour, rnk, event_type, n FROM rk WHERE rnk <= 3
        | ORDER BY hour, rnk""".stripMargin,
    "text_quality_score" -> s"$textQualityOracle ORDER BY doc_id",
    "text_hash_vectors" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        | hb AS (SELECT doc_id, ($hexPrefixSql) % 64 AS bucket
        |        FROM (SELECT doc_id, md5(w) AS m FROM w))
        | SELECT doc_id, bucket, count(*) AS cnt
        | FROM hb GROUP BY doc_id, bucket ORDER BY doc_id, bucket""".stripMargin,
    "text_hash_neighbors" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        | hb AS (SELECT doc_id, ($hexPrefixSql) % 64 AS bucket
        |        FROM (SELECT doc_id, md5(w) AS m FROM w)),
        | v AS (SELECT doc_id, bucket, count(*) AS cnt FROM hb GROUP BY doc_id, bucket),
        | n2 AS (SELECT doc_id, CAST(sum(cnt * cnt) AS BIGINT) AS n2 FROM v GROUP BY doc_id),
        | q AS (SELECT doc_id AS qid, bucket, cnt AS qcnt FROM v WHERE doc_id < 5),
        | qn AS (SELECT doc_id AS qid, n2 AS qn2 FROM n2 WHERE doc_id < 5),
        | dt AS (SELECT q.qid, v.doc_id, CAST(sum(q.qcnt * v.cnt) AS BIGINT) AS dot
        |   FROM q JOIN v USING (bucket) WHERE q.qid <> v.doc_id
        |   GROUP BY q.qid, v.doc_id),
        | sc AS (SELECT dt.qid, dt.doc_id,
        |     round(CAST(dot AS DOUBLE) /
        |       (sqrt(CAST(qn.qn2 AS DOUBLE)) * sqrt(CAST(n2.n2 AS DOUBLE))), 4) + 0.0 AS cos
        |   FROM dt JOIN qn USING (qid) JOIN n2 ON n2.doc_id = dt.doc_id),
        | rk AS (SELECT qid, doc_id, cos,
        |     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rnk FROM sc)
        | SELECT qid, CAST(rnk AS INTEGER) AS rnk, doc_id, cos
        | FROM rk WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    "text_rake_keyphrases" ->
      """WITH wl AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | tok AS (SELECT doc_id, i AS pos, ws[i] AS w
        |         FROM wl, UNNEST(range(1, len(ws) + 1)) t(i)),
        | ns AS (SELECT doc_id, pos, w,
        |     pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |   FROM tok WHERE w NOT IN ('the', 'a', 'of', 'and', 'is', 'in', 'to', 'for', 'on', 'with') AND w <> ''),
        | ph AS (SELECT doc_id, isl,
        |     string_agg(w, ' ' ORDER BY pos) AS phrase,
        |     count(*) AS len
        |   FROM ns GROUP BY doc_id, isl),
        | mem AS (SELECT unnest(string_split(phrase, ' ')) AS w, len FROM ph),
        | st AS (SELECT w, count(*) AS freq, CAST(sum(len) AS BIGINT) AS deg
        |        FROM mem GROUP BY w),
        | stw AS (SELECT w,
        |     CAST(round(CAST(deg AS DOUBLE) / freq, 6) AS DECIMAL(18,6)) AS wscore
        |   FROM st),
        | dp AS (SELECT phrase, CAST(len AS BIGINT) AS len, count(*) AS n_occur
        |        FROM ph WHERE len >= 2 GROUP BY phrase, len),
        | mem2 AS (SELECT phrase, len, n_occur,
        |     unnest(string_split(phrase, ' ')) AS w FROM dp),
        | sc AS (SELECT m.phrase, m.len, m.n_occur,
        |     CAST(sum(stw.wscore) AS DOUBLE) AS score
        |   FROM mem2 m JOIN stw USING (w)
        |   GROUP BY m.phrase, m.len, m.n_occur)
        | SELECT phrase, len, CAST(n_occur AS BIGINT) AS n_occur, score
        | FROM sc ORDER BY score DESC, phrase LIMIT 20""".stripMargin,
    "text_pmi_collocations" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        | uni AS (SELECT w, count(*) AS cw FROM w GROUP BY w),
        | tt AS (SELECT count(*) AS t FROM w),
        | wl AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | big AS (SELECT ws[i] || ' ' || ws[i+1] AS s
        |         FROM wl, UNNEST(range(1, len(ws))) t(i)),
        | tb AS (SELECT t - (SELECT count(*) FROM documents) AS b FROM tt),
        | cb AS (SELECT s, count(*) AS n_pair FROM big GROUP BY s
        |        HAVING count(*) >= 5),
        | j AS (SELECT cb.s, cb.n_pair, ua.cw AS n_a, ub.cw AS n_b
        |   FROM cb JOIN uni ua ON ua.w = string_split(cb.s, ' ')[1]
        |        JOIN uni ub ON ub.w = string_split(cb.s, ' ')[2]),
        | sc AS (SELECT s AS bigram, n_pair, n_a, n_b,
        |     round(ln((CAST(n_pair AS DOUBLE) * t * t) /
        |       (CAST(b AS DOUBLE) * n_a * n_b)), 6) AS pmi
        |   FROM j, tt, tb)
        | SELECT bigram, n_pair, n_a, n_b, pmi FROM sc
        | ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin,
    "text_quality_calibrate" ->
      s"""WITH q AS ($textQualityOracle),
        | s AS (SELECT d.lang, q.quality_score AS score
        |       FROM q JOIN documents d USING (doc_id)),
        | h AS (SELECT lang, score, count(*) AS c FROM s GROUP BY lang, score),
        | cum AS (SELECT lang, score,
        |     CAST(SUM(c) OVER (PARTITION BY lang ORDER BY score DESC
        |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |   FROM h),
        | tot AS (SELECT lang, count(*) AS n_docs FROM s GROUP BY lang),
        | j AS (SELECT cum.lang, cum.score, cum.cum, tot.n_docs,
        |     CAST(floor(CAST(0.7 AS DOUBLE) * tot.n_docs) AS BIGINT) AS kcut
        |   FROM cum JOIN tot USING (lang))
        | SELECT lang, n_docs, kcut,
        |   min(CASE WHEN cum <= kcut THEN score END) AS thr,
        |   CAST(coalesce(max(CASE WHEN cum <= kcut THEN cum END), 0) AS BIGINT) AS n_keep,
        |   round(coalesce(max(CASE WHEN cum <= kcut THEN cum END), 0) * 1.0 / n_docs, 4) AS keep_rate
        | FROM j GROUP BY lang, n_docs, kcut ORDER BY lang""".stripMargin,
    "text_lm_score" ->
      s"$lmScoreCte SELECT doc_id, n_bigrams, avg_logp FROM lmres ORDER BY doc_id",
    // CCNet-style perplexity binning: head/middle/tail thirds by the
    // bigram-LM score (Wenzek et al. 2020) — deterministic ntile over
    // the rounded score with a doc_id tiebreak
    "ccnet_buckets" ->
      s"""$lmScoreCte
         | SELECT doc_id, avg_logp,
         |   ntile(3) OVER (ORDER BY avg_logp DESC NULLS LAST, doc_id) AS bucket,
         |   CASE ntile(3) OVER (ORDER BY avg_logp DESC NULLS LAST, doc_id)
         |     WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ccnet_bin
         | FROM lmres ORDER BY doc_id""".stripMargin,
    "word_entropy" ->
      """WITH wrds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        | c AS (SELECT doc_id, w, count(*) AS c FROM wrds GROUP BY doc_id, w),
        | t AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS t, count(*) AS n_distinct FROM c GROUP BY doc_id),
        | terms AS (
        |   SELECT c.doc_id, t.t, t.n_distinct,
        |     CAST(round((c.c * 1.0 / t.t) * ln(c.c * 1.0 / t.t), 6) AS DECIMAL(18,6)) AS term
        |   FROM c JOIN t USING (doc_id))
        | SELECT doc_id, max(t) AS n_words, max(n_distinct) AS n_distinct,
        |   round(CAST(sum(term) * -1 AS DOUBLE), 6) AS entropy
        | FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // BPE training unrolled: five (pair-count → argmax → merge) rounds
    // as CTE chains — the recursive-CTE-precedent family (EWM, Keltner,
    // Lloyd's). See [[bpeChainSql]] for the shared chain.
    "bpe_train_merges" -> {
      val rows = (1 to 5).map { i =>
        s"SELECT $i AS iter, pair_left, pair_right, pair_left || pair_right AS merged, n FROM b$i"
      }.mkString("\n UNION ALL\n ")
      s"""WITH ${bpeChainSql(5)}
         | SELECT * FROM ($rows) ORDER BY iter""".stripMargin
    },
    // batched BPE: three unrolled rounds of the greedy kept-set
    // selection chain; iter numbers the selected merges in
    // (round, rank) order
    "bpe_train_merges_batched" ->
      s"""WITH ${bpeBatchChainSql(3, 3)},
         | ${bpePhaseMergesSql(Seq(("documents", 3)))}""".stripMargin,
    // the stored-tokenizer EXTEND leg: phase 1 trains on the original
    // corpus (doc_id < 400), phase 2 continues on the new-domain docs
    // with phase 1's merges applied first — the merge table the engine
    // persists and appends ([[graft.operators.Sink.extendBpeTokenizer]])
    "bpe_store_extend" ->
      s"""WITH ${bpePhaseChainSql(bpeExtendPhases, 3)},
         | ${bpePhaseMergesSql(bpeExtendPhases)}""".stripMargin,
    // encode the FULL corpus with the extended tokenizer: a 0-round
    // third phase applies both phases' merges to the full-corpus
    // vocabulary (f3_s0), then the standard encode tail
    "bpe_store_extend_encode" ->
      s"""WITH ${bpePhaseChainSql(bpeExtendPhases :+ (("documents", 0)), 3)},
         |${bpeEncodeTailSql("f3_s0")}""".stripMargin,
    // stored-tokenizer token counts through the concat-then-chunk pack
    // layout: the encode chain's per-doc BPE counts replace the
    // pack_sequences oracle's whitespace tokens; the pack tail is
    // otherwise verbatim
    "pack_bpe_stored" ->
      s"""WITH ${bpeBatchChainSql(3, 3)},
         | enc AS (SELECT word,
         |       len(string_split(substr(state, 2, length(state) - 2), '··')) AS n_toks
         |       FROM s3),
         | dw AS (SELECT doc_id, word, count(*) AS occ
         |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |       GROUP BY doc_id, word),
         | t AS (SELECT doc_id, CAST(sum(occ * n_toks) AS BIGINT) AS tokens
         |       FROM dw JOIN enc USING (word) GROUP BY doc_id),
         | c AS (SELECT doc_id, tokens,
         |     CAST(coalesce(SUM(tokens) OVER (ORDER BY doc_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
         |   FROM t)
         | SELECT doc_id, tokens, tok_offset,
         |   CAST(tok_offset // 2048 AS BIGINT) AS pack_id,
         |   CAST(tok_offset % 2048 AS BIGINT) AS pack_pos,
         |   (tok_offset % 2048) + tokens > 2048 AS straddles
         | FROM c ORDER BY doc_id""".stripMargin,
    // streaming extend replay: the two drops extend sequentially in
    // mtime order — phases 2 and 3 of the same chain, one round each
    "stream_bpe_extend_replay" ->
      s"""WITH ${bpePhaseChainSql(bpeStreamPhases, 3)},
         | ${bpePhaseMergesSql(bpeStreamPhases)}""".stripMargin,
    // BPE encode: apply the learned chain's final state per vocab word,
    // join back to per-doc occurrence counts — train→apply end-to-end
    "bpe_encode" ->
      s"""WITH ${bpeChainSql(5)},
         | enc AS (SELECT word,
         |       len(string_split(substr(state, 2, length(state) - 2), '··')) AS n_toks
         |       FROM s5),
         | dw AS (SELECT doc_id, word, count(*) AS occ
         |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |       GROUP BY doc_id, word),
         | j AS (SELECT doc_id,
         |       CAST(sum(occ) AS BIGINT) AS n_words,
         |       CAST(sum(occ * length(word)) AS BIGINT) AS n_char_tokens,
         |       CAST(sum(occ * n_toks) AS BIGINT) AS n_bpe_tokens
         |       FROM dw JOIN enc USING (word) GROUP BY doc_id)
         | SELECT doc_id, n_words, n_char_tokens, n_bpe_tokens,
         |   round(CAST(n_char_tokens AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE), 4) AS compression
         | FROM j ORDER BY doc_id""".stripMargin,
    // encode over the batched chain's final state (s3) — the bpe_encode
    // tail verbatim on the batched merge table's rewrite
    "bpe_encode_batched" -> bpeEncodeBatchedOracle,
    // stored-tokenizer encode: write + load + encode is train-once ≡
    // the inline batched train→encode by construction, so the oracle
    // is SHARED verbatim (the dedup_incremental_stored convention)
    "bpe_store_encode" -> bpeEncodeBatchedOracle,
    // tokenizer-bias diagnostic: the encode chain rolled up per lang
    "bpe_fertility_by_lang" ->
      s"""WITH ${bpeChainSql(5)},
         | enc AS (SELECT word,
         |       len(string_split(substr(state, 2, length(state) - 2), '··')) AS n_toks
         |       FROM s5),
         | dw AS (SELECT doc_id, word, count(*) AS occ
         |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |       GROUP BY doc_id, word),
         | j AS (SELECT doc_id,
         |       CAST(sum(occ) AS BIGINT) AS n_words,
         |       CAST(sum(occ * length(word)) AS BIGINT) AS n_char_tokens,
         |       CAST(sum(occ * n_toks) AS BIGINT) AS n_bpe_tokens
         |       FROM dw JOIN enc USING (word) GROUP BY doc_id)
         | SELECT d.lang, count(*) AS n_docs,
         |   CAST(sum(j.n_words) AS BIGINT) AS n_words,
         |   CAST(sum(j.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
         |   round(CAST(sum(j.n_bpe_tokens) AS DOUBLE) /
         |     CAST(sum(j.n_words) AS DOUBLE), 4) AS fertility,
         |   round(CAST(sum(j.n_char_tokens) AS DOUBLE) /
         |     CAST(sum(j.n_bpe_tokens) AS DOUBLE), 4) AS char_compression
         | FROM j JOIN (SELECT doc_id, lang FROM documents) d ON d.doc_id = j.doc_id
         | GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "bpe_pair_counts" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        | wc AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
        | p AS (SELECT substring(word, CAST(i AS INTEGER), 2) AS pair, cnt
        |       FROM wc, UNNEST(range(1, length(word))) t(i)
        |       WHERE length(word) >= 2)
        | SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
        | FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "source_drift_psi" ->
      """WITH b AS (SELECT source,
        |             CAST(length(bin(len(string_split(text, ' ')))) - 1 AS INTEGER) AS bucket
        |           FROM documents),
        | bs AS (SELECT source, bucket, count(*) AS c FROM b GROUP BY source, bucket),
        | bb AS (SELECT bucket, count(*) AS ct FROM b GROUP BY bucket),
        | st AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_src FROM bs GROUP BY source),
        | tot AS (SELECT count(*) AS total FROM documents),
        | nbk AS (SELECT count(*) AS nb FROM bb),
        | grid AS (SELECT st.source, st.n_src, bb.bucket, bb.ct FROM st CROSS JOIN bb),
        | cells AS (SELECT g.source, g.n_src, g.bucket, g.ct, coalesce(bs.c, 0) AS c
        |           FROM grid g LEFT JOIN bs ON g.source = bs.source AND g.bucket = bs.bucket),
        | terms AS (SELECT source, n_src,
        |             CAST(round(((c + 1) / (n_src + nb) - (ct - c + 1) / (total - n_src + nb))
        |               * ln(((c + 1) / (n_src + nb)) / ((ct - c + 1) / (total - n_src + nb))), 8)
        |               AS DECIMAL(18,8)) AS term
        |           FROM cells CROSS JOIN tot CROSS JOIN nbk)
        | SELECT source, max(n_src) AS n_docs, round(CAST(sum(term) AS DOUBLE), 6) AS psi
        | FROM terms GROUP BY source ORDER BY source""".stripMargin,
    "source_gini" ->
      """WITH t AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t
        |           FROM documents GROUP BY source),
        | r AS (SELECT source, t, CAST(row_number() OVER (ORDER BY t, source) AS BIGINT) AS i FROM t),
        | a AS (SELECT count(*) AS n_sources, CAST(sum(t) AS BIGINT) AS total_tokens,
        |         CAST(sum(i * t) AS BIGINT) AS swi FROM r)
        | SELECT n_sources, total_tokens,
        |   round(2.0 * swi / (n_sources * total_tokens) - (n_sources + 1.0) / n_sources, 6) AS gini
        | FROM a""".stripMargin,
    "packing_efficiency" ->
      """WITH t AS (SELECT doc_id,
        |     CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens FROM documents),
        | c AS (SELECT doc_id, tokens,
        |     CAST(coalesce(SUM(tokens) OVER (ORDER BY doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |   FROM t),
        | p AS (SELECT tokens,
        |     CAST(tok_offset // 2048 AS BIGINT) AS pack_id,
        |     (tok_offset % 2048) + tokens > 2048 AS straddles
        |   FROM c),
        | agg AS (SELECT count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS total_tokens,
        |           CAST(max(pack_id) + 1 AS BIGINT) AS n_packs,
        |           CAST(sum(CASE WHEN straddles THEN 1 ELSE 0 END) AS BIGINT) AS n_straddles
        |         FROM p)
        | SELECT n_docs, total_tokens, n_packs, n_straddles,
        |   round(n_straddles / n_docs, 6) AS straddle_frac,
        |   n_packs * 2048 - total_tokens AS tail_waste
        | FROM agg""".stripMargin,
    // BM25: every float is rounded before reuse; per-term scores sum as
    // exact DECIMAL(18,6) and the ranking orders by that exact sum
    "text_bm25_topk" ->
      s"""$bm25Cte
        | SELECT rnk, doc_id, n_terms, score FROM rk WHERE rnk <= 20 ORDER BY rnk""".stripMargin,
    // RRF hybrid: the BM25 chain and a single-query cosine ranking
    // fused by Σ 1/(60 + rank) — 8dp DECIMAL reciprocals summed exact,
    // ranked on the exact sum with id tiebreak
    "retrieval_rrf_hybrid" ->
      s"""$bm25Cte,
        | lexr AS (SELECT doc_id AS id, rnk AS lex_rnk FROM rk WHERE rnk <= 20),
        | qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        | semsc AS (SELECT e.vec_id,
        |     round(SUM(CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) /
        |       (sqrt(SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) *
        |        sqrt(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))), 4) AS cos
        |   FROM embeddings e, qv, UNNEST(range(1, 65)) t(i)
        |   WHERE e.vec_id <> 0 GROUP BY e.vec_id),
        | semr AS (SELECT id, sem_rnk FROM (
        |     SELECT vec_id AS id,
        |       row_number() OVER (ORDER BY cos DESC, vec_id) AS sem_rnk
        |     FROM semsc) WHERE sem_rnk <= 20),
        | f AS (SELECT coalesce(l.id, s.id) AS id, l.lex_rnk, s.sem_rnk,
        |     coalesce(CAST(round(1.0 / (60 + l.lex_rnk), 8) AS DECIMAL(12,8)),
        |       CAST(0.0 AS DECIMAL(12,8))) +
        |     coalesce(CAST(round(1.0 / (60 + s.sem_rnk), 8) AS DECIMAL(12,8)),
        |       CAST(0.0 AS DECIMAL(12,8))) AS rrf
        |   FROM lexr l FULL OUTER JOIN semr s ON l.id = s.id),
        | fused AS (SELECT row_number() OVER (ORDER BY rrf DESC, id) AS rrf_rank,
        |     id, lex_rnk, sem_rnk, CAST(rrf AS DOUBLE) AS rrf_score FROM f)
        | SELECT rrf_rank, id, lex_rnk, sem_rnk, rrf_score
        | FROM fused WHERE rrf_rank <= 10 ORDER BY rrf_rank""".stripMargin,
    // RRF with the semantic side from the IVF index: candidates =
    // query 0's top-2 cells by the trained-centroid distance (d2),
    // ranked by the same 4dp cosine; fusion identical to the exact
    // variant
    "retrieval_rrf_ivf" -> rrfIvfOracle,
    // the stored-index fusion shares the oracle verbatim: the semantic
    // side served by searchIvfIndex(nprobe=2) over the persisted index
    // is result-identical to the in-memory multiprobe the oracle
    // mirrors (SinkSpec equivalence), so the fused lists coincide
    "retrieval_rrf_stored" -> rrfIvfOracle,
    "vocab_prune" ->
      """WITH wrds AS (SELECT DISTINCT doc_id, word FROM
        |   (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)),
        | dfq AS (SELECT word, count(*) AS df FROM wrds GROUP BY word),
        | n AS (SELECT count(*) AS nd FROM documents)
        | SELECT row_number() OVER (ORDER BY df DESC, word) AS rnk, word, df
        | FROM dfq
        | WHERE df >= 5 AND df <= floor(0.78 * (SELECT nd FROM n))
        | ORDER BY rnk""".stripMargin,
    "source_vocab_stats" ->
      """WITH wrds AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
        | c AS (SELECT source, word, count(*) AS c FROM wrds GROUP BY source, word),
        | v AS (SELECT source, count(*) AS n_types, CAST(sum(c) AS BIGINT) AS n_tokens,
        |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
        |       FROM c GROUP BY source),
        | nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
        | SELECT v.source, nd.n_docs, v.n_tokens, v.n_types, v.hapax,
        |   round(v.n_types / v.n_tokens, 6) AS ttr,
        |   round(v.hapax / v.n_types, 6) AS hapax_frac
        | FROM v JOIN nd USING (source) ORDER BY v.source""".stripMargin,
    "gopher_quality" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | m AS (
        |   SELECT doc_id,
        |     CAST(len(ws) AS BIGINT) AS n_words,
        |     round(list_sum(list_transform(ws, x -> length(x))) * 1.0 / len(ws), 4) AS mean_word_len,
        |     round(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(ws), 4) AS alpha_frac,
        |     CAST(len(list_filter(ws, x -> x IN ('the','be','to','of','and','that','have','with','a','in'))) AS BIGINT) AS n_stop_hits
        |   FROM w)
        | SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stop_hits,
        |   (n_words BETWEEN 20 AND 1000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |     AND alpha_frac >= 0.8 AND n_stop_hits >= 2 AS gopher_pass
        | FROM m ORDER BY doc_id""".stripMargin,
    "doc_length_histogram" ->
      """WITH t AS (
        |   SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |     CAST(length(bin(len(string_split(text, ' ')))) - 1 AS INTEGER) AS bucket
        |   FROM documents)
        | SELECT lang, bucket, count(*) AS n_docs,
        |   CAST(sum(n) AS BIGINT) AS total_tokens,
        |   min(n) AS min_tokens, max(n) AS max_tokens
        | FROM t GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    "template_prefix_groups" ->
      """WITH u AS (
        |   SELECT doc_id, text FROM documents
        |   UNION ALL
        |   SELECT doc_id + 40000 AS doc_id,
        |     array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')
        |       || ' planted tail variant ' || CAST(doc_id AS VARCHAR) AS text
        |   FROM documents WHERE doc_id < 12),
        | p AS (SELECT doc_id,
        |         array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') AS prefix
        |       FROM u)
        | SELECT prefix, count(*) AS n_docs,
        |   min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        | FROM p GROUP BY prefix HAVING count(*) > 1 ORDER BY prefix""".stripMargin,
    "text_tfidf" ->
      """WITH wrds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        | tf AS (SELECT doc_id, word, count(*) AS tf FROM wrds GROUP BY doc_id, word),
        | dl AS (SELECT doc_id, count(*) AS n_words FROM wrds GROUP BY doc_id),
        | dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        | n AS (SELECT count(*) AS nd FROM documents),
        | sc AS (SELECT t.doc_id, t.word, t.tf, dfq.df,
        |     round(round(t.tf * 1.0 / dl.n_words, 6) * round(ln(n.nd * 1.0 / dfq.df), 6), 6) AS tfidf
        |   FROM tf t JOIN dl USING (doc_id) JOIN dfq USING (word), n),
        | rk AS (SELECT doc_id, word, tf, df, tfidf,
        |     row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rnk
        |   FROM sc)
        | SELECT doc_id, rnk, word, tf, df, tfidf FROM rk WHERE rnk <= 3
        | ORDER BY doc_id, rnk""".stripMargin,
    "token_count" ->
      s"""SELECT doc_id, lang,
         | CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         | CAST(len(regexp_extract_all(text, '${TextOps.tokenPattern}')) AS BIGINT) AS re_tokens
         | FROM documents ORDER BY doc_id""".stripMargin,
    "token_stats_by_lang" ->
      s"""SELECT lang, count(*) AS n_docs,
         | CAST(sum(len(regexp_extract_all(text, '${TextOps.tokenPattern}'))) AS BIGINT) AS total_tokens,
         | round(avg(len(regexp_extract_all(text, '${TextOps.tokenPattern}'))), 4) AS avg_tokens
         | FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "doc_fingerprint" ->
      """WITH lowered AS (SELECT doc_id, lower(text) AS text FROM documents),
        | words AS (SELECT doc_id, string_split(text, ' ') AS w FROM lowered),
        | sh AS (SELECT DISTINCT doc_id,
        |          w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS s
        |        FROM words, UNNEST(range(1, len(w) - 3)) AS t(i)),
        | win AS (SELECT doc_id, min(md5(s)) AS winnow_min FROM sh GROUP BY doc_id)
        | SELECT d.doc_id, md5(lower(d.text)) AS content_md5, w.winnow_min
        | FROM documents d LEFT JOIN win w ON d.doc_id = w.doc_id ORDER BY d.doc_id""".stripMargin,
    "text_repetition" ->
      """WITH docs2 AS (
        |   SELECT doc_id,
        |     CASE WHEN doc_id % 7 = 0 THEN text || repeat(' buy now click here', 12)
        |          ELSE text END AS text
        |   FROM documents),
        | wds AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs2),
        | wc AS (SELECT doc_id, word, count(*) AS c
        |        FROM (SELECT doc_id, unnest(w) AS word FROM wds) GROUP BY doc_id, word),
        | wagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |            count(*) AS n_distinct_words, max(c) AS top_word
        |          FROM wc GROUP BY doc_id),
        | bc AS (SELECT doc_id, s, count(*) AS c
        |        FROM (SELECT doc_id, w[i] || ' ' || w[i+1] AS s
        |              FROM wds, UNNEST(range(1, len(w))) AS t(i))
        |        GROUP BY doc_id, s),
        | bagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bigram
        |          FROM bc GROUP BY doc_id),
        | tagg AS (SELECT doc_id, count(*) AS n_trigrams, count(DISTINCT s) AS n_distinct_trigrams
        |          FROM (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |                FROM wds, UNNEST(range(1, len(w) - 1)) AS t(i))
        |          GROUP BY doc_id)
        | SELECT d.doc_id, wagg.n_words,
        |   round(n_distinct_words / n_words, 4) AS distinct_word_ratio,
        |   round(top_word / n_words, 4) AS top_word_share,
        |   round(top_bigram / n_bigrams, 4) AS top_bigram_share,
        |   round(1.0 - n_distinct_trigrams / n_trigrams, 4) AS dup_trigram_ratio,
        |   (coalesce(round(top_bigram / n_bigrams, 4) > 0.18, false)
        |    OR coalesce(round(1.0 - n_distinct_trigrams / n_trigrams, 4) > 0.3, false)) AS flag_repetitive
        | FROM documents d
        | LEFT JOIN wagg USING (doc_id)
        | LEFT JOIN bagg USING (doc_id)
        | LEFT JOIN tagg USING (doc_id)
        | ORDER BY d.doc_id""".stripMargin,
    // eval harness: the full MinHash chain over the augmented corpus
    // (mangled-twin CTE + sh3Body("base")), then recall vs the planted
    // truth pairs
    "dedup_eval_planted" -> {
      val aug =
        """WITH base AS (
          |   SELECT doc_id, text FROM documents
          |   UNION ALL
          |   SELECT m.doc_id + 70000 AS doc_id, m.text FROM (
          |     SELECT doc_id,
          |       string_agg(CASE WHEN i % 17 = 0
          |           THEN 'zz' || CAST(doc_id AS VARCHAR) ELSE w[i] END,
          |         ' ' ORDER BY i) AS text
          |     FROM (SELECT doc_id, string_split(text, ' ') AS w
          |           FROM documents WHERE doc_id < 25),
          |       UNNEST(range(1, len(w) + 1)) t(i)
          |     GROUP BY doc_id) m),
          | """.stripMargin
      s"""${minhashPairsCteFrom(aug + sh3Body("base"))},
         | truth AS (SELECT doc_id AS doc_a, doc_id + 70000 AS doc_b
         |           FROM documents WHERE doc_id < 25),
         | hit AS (SELECT count(*) AS n_recalled
         |         FROM truth t JOIN jp ON jp.doc_a = t.doc_a AND jp.doc_b = t.doc_b),
         | crs AS (SELECT count(*) AS n_cross FROM jp
         |         WHERE doc_b >= 70000 AND doc_b <> doc_a + 70000),
         | tc AS (SELECT count(*) AS n_truth FROM truth)
         | SELECT tc.n_truth, hit.n_recalled,
         |   round(hit.n_recalled * 1.0 / tc.n_truth, 4) AS recall, crs.n_cross
         | FROM tc, hit, crs""".stripMargin
    },
    // IVF cell balance off the trained assignment
    "embed_ivf_cell_stats" ->
      s"""$kmeansCte,
         | sizes AS (SELECT cell, count(*) AS n_vectors FROM a2 GROUP BY cell),
         | tot AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS n_total,
         |           count(*) AS n_cells FROM sizes)
         | SELECT cell, n_vectors,
         |   round(n_vectors * 1.0 / n_total, 4) AS share,
         |   round(n_vectors * n_cells * 1.0 / n_total, 4) AS imbalance
         | FROM sizes, tot ORDER BY cell""".stripMargin,
    // containment: shared-gram candidates with the winnow-style cap,
    // exact |A∩B| on candidates only; both ratios per pair
    "dedup_containment" ->
      s"""WITH base AS (
         |   SELECT doc_id, text FROM documents
         |   UNION ALL
         |   SELECT doc_id + 60000 AS doc_id,
         |     array_to_string(list_slice(string_split(text, ' '), 1, 40), ' ')
         |       || ' quoted commentary chunk ' || CAST(doc_id AS VARCHAR) AS text
         |   FROM documents WHERE doc_id < 8),
         | w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM base),
         | sh AS (SELECT DISTINCT doc_id,
         |     ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
         |     ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] AS s
         |   FROM w, UNNEST(range(1, len(ws) - 6)) t(i)),
         | hb AS (SELECT doc_id, md5(s) AS bv FROM sh),
         | bstat AS (SELECT bv, count(*) AS bn, min(doc_id) AS bmin FROM hb GROUP BY bv),
         | fw AS (SELECT h.doc_id, h.bv, s.bn, s.bmin FROM hb h JOIN bstat s USING (bv)),
         | cand AS (SELECT DISTINCT doc_a, doc_b FROM (
         |   SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |   FROM fw a JOIN fw b ON a.bv = b.bv AND a.doc_id < b.doc_id
         |   WHERE a.bn <= ${Dedup.lshBucketCap}
         |   UNION ALL
         |   SELECT bmin AS doc_a, doc_id AS doc_b FROM fw
         |   WHERE bn > ${Dedup.lshBucketCap} AND doc_id <> bmin)),
         | sizes AS (SELECT doc_id, count(*) AS nsz FROM sh GROUP BY doc_id),
         | inter AS (SELECT doc_a, doc_b, count(*) AS n_common FROM cand
         |   JOIN sh sa ON sa.doc_id = doc_a
         |   JOIN sh sb ON sb.doc_id = doc_b AND sb.s = sa.s
         |   GROUP BY doc_a, doc_b)
         | SELECT i.doc_a, i.doc_b, i.n_common, za.nsz AS na, zb.nsz AS nb,
         |   round(i.n_common * 1.0 / least(za.nsz, zb.nsz), 4) AS containment,
         |   round(i.n_common * 1.0 / (za.nsz + zb.nsz - i.n_common), 4) AS jaccard
         | FROM inter i JOIN sizes za ON za.doc_id = i.doc_a
         |              JOIN sizes zb ON zb.doc_id = i.doc_b
         | WHERE round(i.n_common * 1.0 / least(za.nsz, zb.nsz), 4) >= 0.5
         | ORDER BY i.doc_a, i.doc_b""".stripMargin,
    // manifest = the clean chain (uninjected) × the cluster-keeper
    // chain, one row per doc
    "corpus_manifest" ->
      s"""$manifestCoreCte
         | SELECT doc_id, keep, is_keeper, include, manifest_reasons
         | FROM mrow ORDER BY doc_id""".stripMargin,
    // manifest + the suffix-span scrub: the scrub chain (shared CTE
    // text with dedup_suffix_scrub) joins the manifest row PK-wise;
    // span_scrubbed appends to the reasons without affecting include
    "corpus_manifest_scrubbed" ->
      s"""$manifestScrubbedCte
         | SELECT doc_id, keep, is_keeper, include, manifest_reasons,
         |   n_words, n_removed, cleaned_text
         | FROM mscrub ORDER BY doc_id""".stripMargin,
    // staged funnel: first-drop attribution over the manifest chain,
    // quality gate calibrated on the include set (the survivors)
    "corpus_funnel" ->
      s"""$manifestCoreCte,
         | tq AS MATERIALIZED ($textQualityOracle),
         | finc AS (SELECT doc_id FROM mrow WHERE include),
         | fcs AS (SELECT d.lang, tq.quality_score AS score
         |         FROM tq JOIN documents d USING (doc_id) JOIN finc USING (doc_id)),
         | fch AS (SELECT lang, score, count(*) AS c FROM fcs GROUP BY lang, score),
         | fccum AS (SELECT lang, score,
         |     CAST(SUM(c) OVER (PARTITION BY lang ORDER BY score DESC
         |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |   FROM fch),
         | fctot AS (SELECT lang, count(*) AS n_docs FROM fcs GROUP BY lang),
         | fthr AS (SELECT fccum.lang,
         |     min(CASE WHEN fccum.cum <=
         |           CAST(floor(CAST(0.7 AS DOUBLE) * fctot.n_docs) AS BIGINT)
         |         THEN fccum.score END) AS thr
         |   FROM fccum JOIN fctot USING (lang) GROUP BY fccum.lang),
         | staged AS MATERIALIZED (SELECT m.doc_id,
         |     CASE WHEN m.manifest_reasons LIKE '%too_short%' THEN 1
         |          WHEN m.manifest_reasons LIKE '%repetitive%' THEN 2
         |          WHEN m.manifest_reasons LIKE '%exact_dup%' THEN 3
         |          WHEN m.manifest_reasons LIKE '%near_dup%' THEN 4
         |          WHEN t.thr IS NULL OR tq.quality_score < t.thr THEN 5
         |          ELSE 6 END AS stage
         |   FROM mrow m JOIN documents d USING (doc_id)
         |        JOIN tq USING (doc_id)
         |        LEFT JOIN fthr t ON t.lang = d.lang),
         | fcnt AS (SELECT stage, count(*) AS c FROM staged GROUP BY stage),
         | fgrid(stage, stage_name) AS (VALUES (1, 'too_short'), (2, 'repetitive'),
         |     (3, 'exact_dup'), (4, 'near_dup'), (5, 'low_quality')),
         | ff AS (SELECT g.stage, g.stage_name, CAST(coalesce(c.c, 0) AS BIGINT) AS c
         |   FROM fgrid g LEFT JOIN fcnt c USING (stage)),
         | ft AS (SELECT count(*) AS n FROM staged)
         | SELECT stage, stage_name,
         |   CAST(n - SUM(c) OVER (ORDER BY stage ROWS UNBOUNDED PRECEDING) + c AS BIGINT) AS n_in,
         |   c AS n_dropped,
         |   CAST(n - SUM(c) OVER (ORDER BY stage ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_out
         | FROM ff, ft ORDER BY stage""".stripMargin,
    // the funnel + the embedding stage: the text survivors' embeddings
    // run the unrolled two-round Lloyd's (k = ceil(sqrt(N_survivors)),
    // init = the k LOWEST surviving vec_ids — rank form, the ids are
    // not dense over a subset) + intra-cell cosine pruning at 0.4; the
    // quality calibration runs on the semantic keepers only
    // funnel keepers labeled: the survivor semdedup chain's KEPT rows
    // (cell retained) feed the cluster_topics c-TF-IDF tail verbatim
    "corpus_funnel_topics" ->
      s"""$manifestCoreCte,
         | $survivorSemDedupCtes,
         | kept AS (SELECT s2.vec_id AS doc_id, s2.cell FROM srk s2
         |          LEFT JOIN sdrop dr ON s2.vec_id = dr.vec_id
         |          WHERE dr.vec_id IS NULL),
         | tk AS (SELECT kept.cell, w AS term
         |        FROM documents dd JOIN kept USING (doc_id),
         |             UNNEST(string_split(dd.text, ' ')) AS t(w)
         |        WHERE len(w) >= 3
         |          AND w NOT IN ('the','a','of','and','is','in','to','for','on','with')),
         | tf AS (SELECT cell, term, count(*) AS tf FROM tk GROUP BY cell, term),
         | tdf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS f FROM tf GROUP BY term),
         | tt AS (SELECT CAST(sum(tf) AS BIGINT) AS tot, count(DISTINCT cell) AS nc FROM tf),
         | sc AS (SELECT cell, term, tf,
         |     round(tf * round(ln(CAST(nc * f + tot AS DOUBLE) / CAST(nc * f AS DOUBLE)), 6), 6) AS score
         |   FROM tf JOIN tdf USING (term), tt),
         | rk2 AS (SELECT cell, term, tf, score,
         |     row_number() OVER (PARTITION BY cell ORDER BY score DESC, term) AS rnk FROM sc)
         | SELECT cell, CAST(rnk AS INTEGER) AS rnk, term, tf, score
         | FROM rk2 WHERE rnk <= 5 ORDER BY cell, rnk""".stripMargin,
    "corpus_funnel_embed" ->
      s"""$manifestCoreCte,
         | tq AS MATERIALIZED ($textQualityOracle),
         | $survivorSemDedupCtes,
         | skept AS MATERIALIZED (SELECT s2.vec_id AS doc_id, dr.vec_id IS NULL AS sem_kept
         |           FROM srk s2 LEFT JOIN sdrop dr ON s2.vec_id = dr.vec_id),
         | fcs AS (SELECT d.lang, tq.quality_score AS score
         |         FROM tq JOIN documents d USING (doc_id)
         |              JOIN mrow m3 USING (doc_id)
         |              LEFT JOIN skept USING (doc_id)
         |         WHERE m3.include AND coalesce(skept.sem_kept, TRUE)),
         | fch AS (SELECT lang, score, count(*) AS c FROM fcs GROUP BY lang, score),
         | fccum AS (SELECT lang, score,
         |     CAST(SUM(c) OVER (PARTITION BY lang ORDER BY score DESC
         |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |   FROM fch),
         | fctot AS (SELECT lang, count(*) AS n_docs FROM fcs GROUP BY lang),
         | fthr AS (SELECT fccum.lang,
         |     min(CASE WHEN fccum.cum <=
         |           CAST(floor(CAST(0.7 AS DOUBLE) * fctot.n_docs) AS BIGINT)
         |         THEN fccum.score END) AS thr
         |   FROM fccum JOIN fctot USING (lang) GROUP BY fccum.lang),
         | staged AS MATERIALIZED (SELECT m.doc_id,
         |     CASE WHEN m.manifest_reasons LIKE '%too_short%' THEN 1
         |          WHEN m.manifest_reasons LIKE '%repetitive%' THEN 2
         |          WHEN m.manifest_reasons LIKE '%exact_dup%' THEN 3
         |          WHEN m.manifest_reasons LIKE '%near_dup%' THEN 4
         |          WHEN NOT coalesce(k2.sem_kept, TRUE) THEN 5
         |          WHEN t.thr IS NULL OR tq.quality_score < t.thr THEN 6
         |          ELSE 7 END AS stage
         |   FROM mrow m JOIN documents d USING (doc_id)
         |        JOIN tq USING (doc_id)
         |        LEFT JOIN skept k2 USING (doc_id)
         |        LEFT JOIN fthr t ON t.lang = d.lang),
         | fcnt AS (SELECT stage, count(*) AS c FROM staged GROUP BY stage),
         | fgrid(stage, stage_name) AS (VALUES (1, 'too_short'), (2, 'repetitive'),
         |     (3, 'exact_dup'), (4, 'near_dup'), (5, 'semantic_dup'),
         |     (6, 'low_quality')),
         | ff AS (SELECT g.stage, g.stage_name, CAST(coalesce(c.c, 0) AS BIGINT) AS c
         |   FROM fgrid g LEFT JOIN fcnt c USING (stage)),
         | ft AS (SELECT count(*) AS n FROM staged)
         | SELECT stage, stage_name,
         |   CAST(n - SUM(c) OVER (ORDER BY stage ROWS UNBOUNDED PRECEDING) + c AS BIGINT) AS n_in,
         |   c AS n_dropped,
         |   CAST(n - SUM(c) OVER (ORDER BY stage ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_out
         | FROM ff, ft ORDER BY stage""".stripMargin,
    // one-row corpus health report: the aggregate a data-mix owner
    // reads — include rate, per-reason counts, scrub burden
    "corpus_report" ->
      s"""$manifestScrubbedCte
         | SELECT count(*) AS n_docs,
         |   CAST(sum(CASE WHEN include THEN 1 ELSE 0 END) AS BIGINT) AS n_include,
         |   round(sum(CASE WHEN include THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS include_rate,
         |   CAST(sum(CASE WHEN manifest_reasons LIKE '%exact_dup%' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
         |   CAST(sum(CASE WHEN manifest_reasons LIKE '%near_dup%' THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
         |   CAST(sum(CASE WHEN manifest_reasons LIKE '%too_short%' THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short,
         |   CAST(sum(CASE WHEN manifest_reasons LIKE '%repetitive%' THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
         |   CAST(sum(CASE WHEN manifest_reasons LIKE '%span_scrubbed%' THEN 1 ELSE 0 END) AS BIGINT) AS n_span_scrubbed,
         |   CAST(sum(n_words) AS BIGINT) AS tokens_total,
         |   CAST(sum(n_removed) AS BIGINT) AS tokens_scrubbed,
         |   round(sum(n_removed) * 1.0 / sum(n_words), 4) AS scrub_rate
         | FROM mscrub""".stripMargin,
    "corpus_clean" ->
      """WITH docs2 AS (
        |   SELECT doc_id,
        |     CASE WHEN doc_id % 7 = 0 THEN text || repeat(' buy now click here', 12)
        |          ELSE text END AS text
        |   FROM documents),
        | wds AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs2),
        | wagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words
        |          FROM (SELECT doc_id, word, count(*) AS c
        |                FROM (SELECT doc_id, unnest(w) AS word FROM wds)
        |                GROUP BY doc_id, word)
        |          GROUP BY doc_id),
        | bagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bigram
        |          FROM (SELECT doc_id, s, count(*) AS c
        |                FROM (SELECT doc_id, w[i] || ' ' || w[i+1] AS s
        |                      FROM wds, UNNEST(range(1, len(w))) AS t(i))
        |                GROUP BY doc_id, s)
        |          GROUP BY doc_id),
        | tagg AS (SELECT doc_id, count(*) AS n_trigrams, count(DISTINCT s) AS n_distinct_trigrams
        |          FROM (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |                FROM wds, UNNEST(range(1, len(w) - 1)) AS t(i))
        |          GROUP BY doc_id),
        | sig AS (SELECT d.doc_id,
        |           wagg.n_words,
        |           (coalesce(round(top_bigram / n_bigrams, 4) > 0.18, false)
        |            OR coalesce(round(1.0 - n_distinct_trigrams / n_trigrams, 4) > 0.3, false)) AS flag,
        |           d.doc_id <> min(d.doc_id) OVER (PARTITION BY md5(d.text)) AS is_dup
        |         FROM docs2 d
        |         LEFT JOIN wagg USING (doc_id)
        |         LEFT JOIN bagg USING (doc_id)
        |         LEFT JOIN tagg USING (doc_id))
        | SELECT doc_id,
        |   (concat_ws(',', CASE WHEN is_dup THEN 'exact_dup' END,
        |                   CASE WHEN n_words IS NULL OR n_words < 30 THEN 'too_short' END,
        |                   CASE WHEN flag AND n_words >= 30 THEN 'repetitive' END) = '') AS keep,
        |   concat_ws(',', CASE WHEN is_dup THEN 'exact_dup' END,
        |                  CASE WHEN n_words IS NULL OR n_words < 30 THEN 'too_short' END,
        |                  CASE WHEN flag AND n_words >= 30 THEN 'repetitive' END) AS reasons
        | FROM sig ORDER BY doc_id""".stripMargin,
    // Luhn via list_sum over the reversed digit string — the same
    // integer CASE tree as the Spark higher-order aggregate
    "pii_luhn_cards" ->
      """WITH f AS (
        |   SELECT doc_id,
        |     CASE WHEN doc_id % 7 = 0 THEN t2 || ' ref 4532015112830367 tracking'
        |          ELSE t2 END AS text
        |   FROM (SELECT doc_id,
        |           CASE WHEN doc_id % 11 = 0 THEN text || ' card 4532015112830366 on file'
        |                ELSE text END AS t2
        |         FROM documents)),
        | c AS (SELECT doc_id, unnest(regexp_extract_all(text, '\b\d{13,19}\b')) AS cand
        |       FROM f),
        | v AS (SELECT doc_id,
        |         list_sum(list_transform(range(1, length(cand) + 1), i ->
        |           CASE WHEN i % 2 = 0
        |             THEN CASE WHEN 2 * (ascii(substr(reverse(cand), CAST(i AS INTEGER), 1)) - 48) > 9
        |                  THEN 2 * (ascii(substr(reverse(cand), CAST(i AS INTEGER), 1)) - 48) - 9
        |                  ELSE 2 * (ascii(substr(reverse(cand), CAST(i AS INTEGER), 1)) - 48) END
        |             ELSE ascii(substr(reverse(cand), CAST(i AS INTEGER), 1)) - 48 END)) % 10 = 0 AS ok
        |       FROM c),
        | g AS (SELECT doc_id, count(*) AS n_candidates,
        |         CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_luhn_valid
        |       FROM v GROUP BY doc_id)
        | SELECT f.doc_id,
        |   coalesce(g.n_candidates, 0) AS n_candidates,
        |   coalesce(g.n_luhn_valid, 0) AS n_luhn_valid,
        |   coalesce(g.n_luhn_valid, 0) > 0 AS has_card_pii
        | FROM f LEFT JOIN g ON g.doc_id = f.doc_id
        | ORDER BY f.doc_id""".stripMargin,
    // Zipf OLS: 6dp DECIMAL logs, exact moment sums, rounded trees
    "corpus_zipf_fit" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        | counts AS (SELECT w, count(*) AS cnt FROM w GROUP BY w),
        | tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens,
        |           count(*) AS vocab_size FROM counts),
        | top AS (SELECT w, cnt FROM counts ORDER BY cnt DESC, w LIMIT 100),
        | pts AS (SELECT
        |     CAST(round(ln(CAST(row_number() OVER (ORDER BY cnt DESC, w) AS DOUBLE)), 6)
        |       AS DECIMAL(18,6)) AS lx,
        |     CAST(round(ln(CAST(cnt AS DOUBLE)), 6) AS DECIMAL(18,6)) AS ly
        |   FROM top),
        | s AS (SELECT count(*) AS n, sum(lx) AS sx, sum(ly) AS sy,
        |         sum(lx * ly) AS sxy, sum(lx * lx) AS sxx FROM pts),
        | fit AS (SELECT n,
        |     CASE WHEN n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
        |       THEN round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |         (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4) + 0.0
        |     END AS slope,
        |     sx, sy FROM s)
        | SELECT n, total_tokens, vocab_size, slope,
        |   CASE WHEN slope IS NOT NULL
        |     THEN round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n, 4) + 0.0
        |   END AS intercept
        | FROM fit, tot""".stripMargin,
    "corpus_heaps_fit" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        | fd AS (SELECT w, min(doc_id) AS fd FROM w GROUP BY w),
        | dt AS (SELECT doc_id, count(*) AS nt FROM w GROUP BY doc_id),
        | b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
        | g AS (SELECT k, lo + ((hi - lo + 1) * k) // 10 AS cut
        |       FROM b, UNNEST(range(1, 11)) t(k)),
        | tt AS (SELECT g.k, CAST(sum(dt.nt) AS BIGINT) AS t_tokens
        |        FROM g JOIN dt ON dt.doc_id < g.cut GROUP BY g.k),
        | vv AS (SELECT g.k, count(*) AS v_vocab
        |        FROM g JOIN fd ON fd.fd < g.cut GROUP BY g.k),
        | pts AS (SELECT t_tokens, v_vocab,
        |     CAST(round(ln(CAST(t_tokens AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lx,
        |     CAST(round(ln(CAST(v_vocab AS DOUBLE)), 6) AS DECIMAL(18,6)) AS ly
        |   FROM tt JOIN vv USING (k)),
        | s AS (SELECT count(*) AS n, sum(lx) AS sx, sum(ly) AS sy,
        |         sum(lx * ly) AS sxy, sum(lx * lx) AS sxx,
        |         max(t_tokens) AS total_tokens,
        |         CAST(max(v_vocab) AS BIGINT) AS vocab_size FROM pts),
        | fit2 AS (SELECT n, total_tokens, vocab_size,
        |     CASE WHEN n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
        |       THEN round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |         (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4) + 0.0
        |     END AS beta,
        |     sx, sy FROM s)
        | SELECT n, total_tokens, vocab_size, beta,
        |   CASE WHEN beta IS NOT NULL
        |     THEN round((CAST(sy AS DOUBLE) - beta * CAST(sx AS DOUBLE)) / n, 4) + 0.0
        |   END AS log_k
        | FROM fit2""".stripMargin,
    // cluster-size distribution over the recursive-CTE labels
    "dedup_cluster_sizes" ->
      s"""${"WITH RECURSIVE " + simhashPairsCte.stripPrefix("WITH ")},
         | p AS (SELECT doc_a, doc_b FROM dists WHERE dist <= 3),
         | e2 AS (SELECT doc_a AS a, doc_b AS b FROM p
         |        UNION SELECT doc_b, doc_a FROM p),
         | reach(id, r) AS (
         |   SELECT a, a FROM e2
         |   UNION
         |   SELECT e3.a, r.r FROM e2 e3 JOIN reach r ON e3.b = r.id),
         | lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
         | clu AS (SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cluster
         |         FROM documents d LEFT JOIN lab l ON d.doc_id = l.id),
         | sz AS (SELECT cluster, count(*) AS sz FROM clu GROUP BY cluster)
         | SELECT sz, count(*) AS n_clusters,
         |   CAST(sz * count(*) AS BIGINT) AS n_docs
         | FROM sz GROUP BY sz ORDER BY sz""".stripMargin,
    "pii_redact" ->
      s"""WITH f AS (
         |   SELECT doc_id,
         |     CASE WHEN doc_id % 5 = 0
         |          THEN text || ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-0142'
         |          ELSE text END AS text
         |   FROM documents)
         | SELECT doc_id,
         |   CAST(len(regexp_extract_all(text, '${TextOps.emailPattern}')) AS BIGINT) AS n_emails,
         |   CAST(len(regexp_extract_all(text, '${TextOps.phonePattern}')) AS BIGINT) AS n_phones,
         |   md5(regexp_replace(regexp_replace(text, '${TextOps.emailPattern}', '<EMAIL>', 'g'),
         |       '${TextOps.phonePattern}', '<PHONE>', 'g')) AS redacted_md5
         | FROM f ORDER BY doc_id""".stripMargin,
    "multimodal_features" ->
      """SELECT doc_id,
        | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        | CASE WHEN doc_id % 3 = 0 THEN CAST(16 + doc_id % 48 AS INT)
        |      ELSE CAST(octet_length(encode(text)) % 640 AS INT) END AS width,
        | CASE WHEN doc_id % 3 = 0 THEN CAST(16 + (doc_id * 7) % 32 AS INT)
        |      ELSE CAST(octet_length(encode(text)) % 480 AS INT) END AS height,
        | CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 256 AS INT) END AS px_r,
        | CASE WHEN doc_id % 3 = 0 THEN CAST((doc_id * 3) % 256 AS INT) END AS px_g,
        | CASE WHEN doc_id % 3 = 0 THEN CAST((doc_id * 5) % 256 AS INT) END AS px_b
        | FROM documents ORDER BY doc_id""".stripMargin,
    "multimodal_audio" ->
      """WITH a AS (
        |   SELECT doc_id,
        |     CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |          WHEN 2 THEN 22050 ELSE 44100 END AS sample_rate,
        |     CAST(1 + doc_id % 2 AS INT) AS n_channels,
        |     CAST(16 AS INT) AS bits_per_sample,
        |     CAST(100 + (doc_id * 13) % 400 AS INT) AS n_samples
        |   FROM documents WHERE doc_id % 3 = 1)
        | SELECT doc_id, CAST(sample_rate AS INT) AS sample_rate, n_channels,
        |   bits_per_sample, n_samples,
        |   CAST(n_samples AS BIGINT) * 1000000 // sample_rate AS duration_us,
        |   CAST(44 + n_samples * n_channels * 2 AS BIGINT) AS n_bytes
        | FROM a ORDER BY doc_id""".stripMargin,
    "multimodal_video" ->
      """WITH v AS (
        |   SELECT doc_id,
        |     CAST(8 + doc_id % 24 AS INT) AS width,
        |     CAST(8 + (doc_id * 5) % 16 AS INT) AS height,
        |     CAST(2 + (doc_id * 11) % 14 AS INT) AS n_frames,
        |     CAST(4 + doc_id % 12 AS BIGINT) AS delay_cs
        |   FROM documents WHERE doc_id % 3 = 2)
        | SELECT doc_id, width, height, n_frames,
        |   n_frames * delay_cs * 10000 AS duration_us
        | FROM v ORDER BY doc_id""".stripMargin,
    "multimodal_frames" ->
      """WITH m AS (
        |   SELECT doc_id, lang, text,
        |     octet_length(encode(text)) AS len FROM documents),
        | r AS (
        |   SELECT doc_id, lang, text,
        |     LEAST(GREATEST(1, CAST(floor(len * 0.25) AS INT)), len) AS keep FROM m),
        | f AS (
        |   SELECT doc_id, lang, text, keep, CAST(i AS INT) AS frame_id,
        |     CAST(CAST(keep AS BIGINT) * i // 4 AS INT) AS off
        |   FROM r, UNNEST(range(0, 4)) t(i))
        | SELECT doc_id, frame_id, lang,
        |   substr(text, off + 1, LEAST(8, keep - off)) AS frame
        | FROM f ORDER BY doc_id, frame_id""".stripMargin,
    "events_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        | count(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum,
        | count(DISTINCT user_id) AS n_users
        | FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_hourly_replay" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        | count(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
        | FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_interval_join" ->
      """WITH iv AS (SELECT event_id AS interval_id, event_type,
        |              ts AS start_ts, ts + INTERVAL 2 HOUR AS end_ts
        |            FROM events WHERE event_id % 50 = 0)
        | SELECT iv.interval_id, iv.event_type,
        |   count(e.event_id) AS n_inside,
        |   CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
        | FROM iv LEFT JOIN events e
        |   ON e.event_type = iv.event_type
        |  AND e.ts BETWEEN iv.start_ts AND iv.end_ts
        | GROUP BY iv.interval_id, iv.event_type
        | ORDER BY iv.interval_id""".stripMargin,
    "events_anomaly" ->
      """WITH h AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |             count(*) AS n_events,
        |             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
        |           FROM events GROUP BY 1, 2),
        | s AS (SELECT hour, event_type, n_events, value_sum,
        |         avg(value_sum) OVER (PARTITION BY event_type) AS m,
        |         stddev_samp(value_sum) OVER (PARTITION BY event_type) AS sd
        |       FROM h),
        | z AS (SELECT hour, event_type, n_events, value_sum,
        |         CASE WHEN sd > 0 THEN round((value_sum - m) / sd, 4) END AS z
        |       FROM s)
        | SELECT hour, event_type, n_events, value_sum, z,
        |   coalesce(abs(z) > 3.0, FALSE) AS is_anomaly
        | FROM z ORDER BY hour, event_type""".stripMargin,
    // each event lands in exactly two 2h/1h-slide windows: the ones
    // starting at floor(ts, 1h) and one hour earlier
    "events_sliding" ->
      """WITH cand AS (
        |   SELECT date_trunc('hour', ts) AS w0, event_type, value FROM events),
        | x AS (
        |   SELECT w0 AS ws, event_type, value FROM cand
        |   UNION ALL
        |   SELECT w0 - INTERVAL 1 HOUR, event_type, value FROM cand)
        | SELECT CAST(ws AS TIMESTAMP) AS window_start,
        |   CAST(ws + INTERVAL 2 HOUR AS TIMESTAMP) AS window_end,
        |   event_type, count(*) AS n_events,
        |   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
        | FROM x GROUP BY ws, event_type ORDER BY window_start, event_type""".stripMargin,
    "events_prop_stats" ->
      """WITH k AS (SELECT event_type,
        |     CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
        |   FROM events)
        | SELECT event_type, count(*) AS n_events,
        |   CAST(sum(k) AS BIGINT) AS k_sum,
        |   round(avg(k), 4) AS k_avg,
        |   min(k) AS k_min, max(k) AS k_max
        | FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,
    // paths: sessionize gap rule, then conditional-aggregate the first
    // three ranked types; ties rank by path text
    "events_top_paths" ->
      """WITH g AS (
        |   SELECT user_id, ts, event_id, event_type,
        |     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |   FROM events),
        | s AS (
        |   SELECT user_id, ts, event_id, event_type,
        |     CASE WHEN prev_ts IS NULL
        |            OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |          THEN 1 ELSE 0 END AS is_start
        |   FROM g),
        | sq AS (
        |   SELECT user_id, ts, event_id, event_type,
        |     SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS UNBOUNDED PRECEDING) AS session_seq
        |   FROM s),
        | rk AS (
        |   SELECT user_id, session_seq, event_type,
        |     row_number() OVER (PARTITION BY user_id, session_seq ORDER BY ts, event_id) AS rn
        |   FROM sq),
        | p AS (
        |   SELECT user_id, session_seq, concat_ws(' > ',
        |       max(CASE WHEN rn = 1 THEN event_type END),
        |       max(CASE WHEN rn = 2 THEN event_type END),
        |       max(CASE WHEN rn = 3 THEN event_type END)) AS path
        |   FROM rk WHERE rn <= 3 GROUP BY user_id, session_seq)
        | SELECT path, count(*) AS n_sessions FROM p GROUP BY path
        | ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin,
    "events_sessionize" ->
      """WITH g AS (
        |   SELECT user_id, ts, event_id, value,
        |     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |   FROM events),
        | s AS (
        |   SELECT user_id, ts, event_id, value,
        |     CASE WHEN prev_ts IS NULL
        |            OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |          THEN 1 ELSE 0 END AS is_start
        |   FROM g),
        | sq AS (
        |   SELECT user_id, ts, value,
        |     CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |   FROM s)
        | SELECT user_id, session_seq,
        |   CAST(min(ts) AS TIMESTAMP) AS session_start,
        |   CAST(max(ts) AS TIMESTAMP) AS session_end,
        |   count(*) AS n_events,
        |   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
        | FROM sq GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,
    // the streaming replay must reproduce the batch sessionizer exactly
    // — identical oracle SQL to events_sessionize
    "stream_sessions_replay" ->
      """WITH g AS (
        |   SELECT user_id, ts, event_id, value,
        |     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |   FROM events),
        | s AS (
        |   SELECT user_id, ts, event_id, value,
        |     CASE WHEN prev_ts IS NULL
        |            OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |          THEN 1 ELSE 0 END AS is_start
        |   FROM g),
        | sq AS (
        |   SELECT user_id, ts, value,
        |     CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |   FROM s)
        | SELECT user_id, session_seq,
        |   CAST(min(ts) AS TIMESTAMP) AS session_start,
        |   CAST(max(ts) AS TIMESTAMP) AS session_end,
        |   count(*) AS n_events,
        |   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
        | FROM sq GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,
    // exact interpolated percentiles: Spark `percentile` ≡ DuckDB
    // quantile_cont (rank p·(n-1), linear interpolation — selection +
    // one IEEE op, no fold-order noise)
    "events_percentiles" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 6) AS p50,
        | round(quantile_cont(value, 0.9), 6) AS p90,
        | round(quantile_cont(value, 0.99), 6) AS p99,
        | count(value) AS n_values
        | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "asof_anchor_ratio" ->
      s"""${Tables.stocksCte},
         | anchors AS (SELECT symbol, date AS adate, close AS anchor_close
         |             FROM stocks WHERE day(date) = 1)
         | SELECT s.symbol, s.date, s.close, a.anchor_close,
         |   round(s.close / a.anchor_close, 4) AS ratio
         | FROM stocks s ASOF LEFT JOIN anchors a
         |   ON s.symbol = a.symbol AND s.date >= a.adate
         | ORDER BY s.symbol, s.date""".stripMargin,
    "asof_salted_ratio" ->
      s"""${Tables.stocksCte},
         | anchors AS (SELECT symbol, date AS adate, close AS anchor_close
         |             FROM stocks WHERE day(date) = 1)
         | SELECT s.symbol, s.date, s.close, a.anchor_close,
         |   round(s.close / a.anchor_close, 4) AS ratio
         | FROM stocks s ASOF LEFT JOIN anchors a
         |   ON s.symbol = a.symbol AND s.date >= a.adate
         | ORDER BY s.symbol, s.date""".stripMargin,
    "asof_forward_ratio" ->
      s"""${Tables.stocksCte},
         | anchors AS (SELECT symbol, date AS adate, close AS anchor_close
         |             FROM stocks WHERE day(date) = 1)
         | SELECT s.symbol, s.date, s.close, a.anchor_close,
         |   round(s.close / a.anchor_close, 4) AS ratio
         | FROM stocks s ASOF LEFT JOIN anchors a
         |   ON s.symbol = a.symbol AND s.date <= a.adate
         | ORDER BY s.symbol, s.date""".stripMargin,
    "market_basket" ->
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
        | ORDER BY n_both DESC, part1, part2 LIMIT 20""".stripMargin,
    "sql_tpch_q1" -> tpchQ1Sql,
    "sql_tpch_q6" -> tpchQ6Sql,
    "sql_tpch_q3" -> tpchQ3Sql,
    "sql_tpch_q5" -> tpchQ5Sql,
    "sql_tpch_q18" -> tpchQ18Sql,
    "sql_tpch_q21" -> tpchQ21Sql,
    "sql_tpch_q7" -> tpchQ7Sql,
    "sql_tpch_q14" -> tpchQ14Sql,
    "sql_tpch_q19" -> tpchQ19Sql,
    "sql_tpch_q4" -> tpchQ4Sql,
    "sql_tpch_q10" -> tpchQ10Sql,
    "sql_tpch_q17" -> tpchQ17Sql,
    "sql_tpch_q22" -> tpchQ22Sql,
    "sql_tpch_q13" -> tpchQ13Sql,
    "sql_tpch_q15" -> tpchQ15Sql,
    "sql_tpch_q20" -> tpchQ20Sql,
    "sql_tpch_q2" -> tpchQ2Sql,
    "sql_tpch_q8" -> tpchQ8Sql,
    "sql_tpch_q9" -> tpchQ9Sql,
    "sql_tpch_q11" -> tpchQ11Sql,
    "sql_tpch_q12" -> tpchQ12Sql,
    "sql_tpch_q16" -> tpchQ16Sql,
    "customer_rfm" ->
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
        | FROM a ORDER BY custkey""".stripMargin,
    "stocks_melt" ->
      s"""${Tables.stocksCte},
         | m AS (
         |   SELECT symbol, date, 'open' AS field, open AS value FROM stocks
         |   UNION ALL SELECT symbol, date, 'high', high FROM stocks
         |   UNION ALL SELECT symbol, date, 'low', low FROM stocks
         |   UNION ALL SELECT symbol, date, 'close', close FROM stocks)
         | SELECT symbol, date, field, value FROM m
         | ORDER BY symbol, date, field""".stripMargin,
    "events_dau_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        | dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
        | contrib AS (SELECT DISTINCT user_id, day + CAST(i AS INTEGER) AS day
        |             FROM ud, UNNEST(range(0, 7)) t(i)),
        | wau AS (SELECT day, count(*) AS wau FROM contrib GROUP BY day)
        | SELECT dau.day, dau.dau, wau.wau, round(dau.dau / wau.wau, 4) AS stickiness
        | FROM dau JOIN wau ON dau.day = wau.day ORDER BY dau.day""".stripMargin,
    "return_moments" ->
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
         | FROM c ORDER BY symbol""".stripMargin,
    "events_transitions" ->
      """WITH t AS (
        |   SELECT event_type AS from_type,
        |     lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |   FROM events),
        | c AS (SELECT from_type, to_type, count(*) AS n
        |       FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
        | SELECT from_type, to_type, n,
        |   round(n / (SUM(n) OVER (PARTITION BY from_type)), 4) AS p
        | FROM c ORDER BY from_type, to_type""".stripMargin,
    "zorder_layout" -> {
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
    },
    "events_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY user_id),
        | s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.user_id
        |        WHERE e.event_type = 'click' AND epoch_us(e.ts) >= epoch_us(s1.t) GROUP BY e.user_id),
        | s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.user_id
        |        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= epoch_us(s2.t) GROUP BY e.user_id),
        | c AS (SELECT 1 AS stage, 'view' AS event_type, count(*) AS n_users FROM s1
        |       UNION ALL SELECT 2, 'click', count(*) FROM s2
        |       UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
        | SELECT stage, event_type, n_users,
        |   round(n_users / lag(n_users, 1) OVER (ORDER BY stage), 4) AS conv_from_prev,
        |   round(n_users / first_value(n_users) OVER (ORDER BY stage ROWS UNBOUNDED PRECEDING), 4) AS conv_from_first
        | FROM c ORDER BY stage""".stripMargin,
    "events_retention" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id),
        | a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        | cs AS (SELECT cohort_day, count(*) AS cohort_size FROM f GROUP BY cohort_day),
        | cell AS (SELECT f.cohort_day, date_diff('day', f.cohort_day, a.day) AS day_offset,
        |            count(*) AS n_users
        |          FROM a JOIN f USING (user_id)
        |          GROUP BY f.cohort_day, date_diff('day', f.cohort_day, a.day))
        | SELECT cell.cohort_day, day_offset, n_users, cohort_size,
        |   round(n_users / cohort_size, 4) AS retention
        | FROM cell JOIN cs ON cell.cohort_day = cs.cohort_day
        | ORDER BY cell.cohort_day, day_offset""".stripMargin,
    "stocks_weekly" ->
      s"""${Tables.stocksCte}
         | SELECT symbol, CAST(date_trunc('week', date) AS DATE) AS week,
         |   arg_min(open, date) AS open, max(high) AS high, min(low) AS low,
         |   arg_max(close, date) AS close,
         |   CAST(sum(volume) AS BIGINT) AS volume, count(*) AS n_days
         | FROM stocks
         | GROUP BY symbol, CAST(date_trunc('week', date) AS DATE)
         | ORDER BY symbol, week""".stripMargin,
    "stocks_monthly" ->
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
         | FROM m ORDER BY symbol, month""".stripMargin,
    // The odd-n doubling is folded per-row (× DECIMAL(1,0)) so the sum
    // chains stay ≤38 digits at scale 8 on both engines (a post-sum ×int
    // rescaled Spark's result to scale 6 past the cap); `+ 0.0` on rob_z
    // normalizes DuckDB's round(−tiny) = −0.0 vs Spark's BigDecimal +0.0.
    "return_outliers_mad" ->
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
         | FROM d JOIN md USING (symbol) ORDER BY d.symbol, d.date""".stripMargin,
    "risk_var_cvar" ->
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
         | FROM t GROUP BY symbol ORDER BY symbol""".stripMargin,
    "rolling_sharpe" ->
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
         | FROM s ORDER BY symbol, date""".stripMargin,
    "trend_ols" ->
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
         | FROM a ORDER BY symbol""".stripMargin,
    "corr_matrix" ->
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
         | FROM g ORDER BY symbol_a, symbol_b""".stripMargin,
    "leadlag_corr" ->
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
         | FROM g ORDER BY lag""".stripMargin,
    "backtest_sma" ->
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
         | ORDER BY symbol, date""".stripMargin,
    "snapshot_diff" ->
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
         | ORDER BY symbol, date""".stripMargin,
    "seasonality_dow" ->
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
         | ORDER BY symbol, dow""".stripMargin,
    "volume_profile" ->
      s"""${Tables.stocksCte},
         | b AS (SELECT symbol, CAST(floor(close / 1000.0) AS BIGINT) AS bucket,
         |         volume
         |       FROM stocks),
         | g AS (SELECT symbol, bucket, count(*) AS n_days,
         |         CAST(sum(volume) AS BIGINT) AS volume
         |       FROM b GROUP BY symbol, bucket)
         | SELECT symbol, bucket, n_days, volume,
         |   round(volume / sum(volume) OVER (PARTITION BY symbol), 6) AS vol_share
         | FROM g ORDER BY symbol, bucket""".stripMargin,
    "wealth_index" ->
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
         | FROM lg ORDER BY symbol, date""".stripMargin,
    "stocks_ffill_calendar" ->
      s"""${Tables.stocksCte},
         | b AS (SELECT symbol, min(date) AS d0, max(date) AS d1 FROM stocks GROUP BY symbol),
         | cal AS (SELECT symbol, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS date FROM b),
         | j AS (SELECT cal.symbol, cal.date, s.close
         |       FROM cal LEFT JOIN stocks s ON s.symbol = cal.symbol AND s.date = cal.date)
         | SELECT symbol, date,
         |   last_value(close IGNORE NULLS) OVER (PARTITION BY symbol ORDER BY date
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ffill,
         |   close IS NULL AS is_gap
         | FROM j ORDER BY symbol, date""".stripMargin,
    // extended indicators — window mirrors; the corr/beta oracles
    // repeat the Spark expression tree verbatim over the same exact
    // DECIMAL sums, so the final doubles are bit-identical
    "atr" ->
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
         | ORDER BY symbol, date""".stripMargin,
    // Donchian: max/min are selections (exact); the breakout CASE
    // compares today's close to YESTERDAY'S gated band, like the Spark
    // side
    "donchian" ->
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
         | ORDER BY symbol, date""".stripMargin,
    // range vol: the two 8dp DECIMAL log carriers make the window sums
    // exact; 0.6931471805599453 is the double nearest ln 2 — the same
    // bit pattern Scala's math.log(2.0) folds into the plan
    "range_vol" ->
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
         | FROM a ORDER BY symbol, date""".stripMargin,
    // ACF: one lag layer, one grouped block of 5×6 exact DECIMAL sums,
    // unioned per lag — the Pearson tree repeats the Spark expressions
    // verbatim on identical doubles
    "return_acf" -> {
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
    },
    // Roll: Δp carries as 6dp DECIMAL so the monthly power sums are
    // exact; the covariance/spread tree repeats the Spark expressions
    // on identical doubles
    "roll_spread" ->
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
         | FROM g ORDER BY symbol, month""".stripMargin,
    // candlesticks: pure comparisons on stored doubles; label priority
    // mirrors the Spark CASE order
    "candlesticks" ->
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
         | ORDER BY symbol, date""".stripMargin,
    // Amihud: the 10dp DECIMAL daily-ratio carrier makes the monthly
    // mean fold-order free
    "amihud_illiq" ->
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
         | FROM d GROUP BY symbol, month ORDER BY symbol, month""".stripMargin,
    "tpch_q13_custdist" ->
      """WITH oc AS (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey),
        | j AS (SELECT coalesce(cnt, 0) AS c_count
        |       FROM customer LEFT JOIN oc ON c_custkey = o_custkey)
        | SELECT c_count, count(*) AS custdist FROM j
        | GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // the mean accumulates in DECIMAL and divides once, so the
    // threshold double is bit-identical in both engines
    "tpch_q22_idle_rich" ->
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
        | GROUP BY n_name ORDER BY n_name""".stripMargin,
    // the quantity threshold compares on the exact DECIMAL sum
    "tpch_q18_big_orders" ->
      """WITH q AS (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |           FROM lineitem GROUP BY l_orderkey
        |           HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
        | SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |   o_totalprice, CAST(qty AS DOUBLE) AS sum_qty
        | FROM orders JOIN q ON o_orderkey = l_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,
    "promo_revenue" ->
      """SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
        | CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        |   THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE) AS promo_revenue,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue,
        | round(100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        |     THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE) /
        |   CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS promo_share_pct
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | GROUP BY strftime(CAST(l_shipdate AS DATE), '%Y-%m')
        | ORDER BY ship_month""".stripMargin,
    // the EWM midline replays the EwmMean recursion bit-for-bit
    // (num' = typ + d·num, den' = 1 + d·den — the ema_macd precedent);
    // constants go through CAST(n AS DOUBLE) so DuckDB can't route them
    // through DECIMAL arithmetic
    "keltner_channels" -> {
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
    },
    // replays HoltLinear's update tree bit-for-bit: constants through
    // CAST divisions so DuckDB computes the same doubles as the Scala
    // literals (2/10 = 0.2's nearest double, etc.)
    "holt_forecast" -> {
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
    },
    "overnight_gaps" ->
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
         | FROM g3 WHERE gap_dir <> 'none' ORDER BY symbol, date""".stripMargin,
    "ship_delay_stats" ->
      """WITH d AS (SELECT o.o_orderpriority AS priority,
        |     date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS delay
        |   FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        | SELECT priority, count(*) AS n_items,
        |   round(CAST(sum(delay) AS BIGINT) / count(*), 6) AS mean_days,
        |   round(quantile_cont(delay, 0.5), 6) AS p50,
        |   round(quantile_cont(delay, 0.9), 6) AS p90,
        |   round(quantile_cont(delay, 0.99), 6) AS p99
        | FROM d GROUP BY priority ORDER BY priority""".stripMargin,
    "events_interarrival" ->
      """WITH g AS (SELECT event_type,
        |     epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |       PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |   FROM events),
        | gg AS (SELECT * FROM g WHERE gap_us IS NOT NULL)
        | SELECT event_type, count(*) AS n_gaps,
        |   round(CAST(sum(gap_us) AS BIGINT) / count(*) / CAST(1000000 AS DOUBLE), 6) AS mean_s,
        |   round(quantile_cont(gap_us, 0.5) / CAST(1000000 AS DOUBLE), 6) AS p50_s,
        |   round(quantile_cont(gap_us, 0.9) / CAST(1000000 AS DOUBLE), 6) AS p90_s
        | FROM gg GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stochastic_osc" ->
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
         | ORDER BY symbol, date""".stripMargin,
    "obv" ->
      s"""${Tables.stocksCte},
         | t AS (
         |   SELECT symbol, date, volume,
         |     CASE WHEN close - lag(close, 1) OVER w > 0 THEN volume
         |          WHEN close - lag(close, 1) OVER w < 0 THEN -volume
         |          ELSE 0 END AS step
         |   FROM stocks WINDOW w AS (PARTITION BY symbol ORDER BY date))
         | SELECT symbol, date, volume,
         |   CAST(sum(step) OVER (PARTITION BY symbol ORDER BY date ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
         | FROM t ORDER BY symbol, date""".stripMargin,
    "vwap_20" ->
      s"""${Tables.stocksCte}
         | SELECT symbol, date, close,
         |   round(CAST(sum(CAST(close AS DECIMAL(18,2)) * CAST(volume AS DECIMAL(18,0))) OVER f AS DOUBLE)
         |       / CAST(sum(CAST(volume AS DECIMAL(18,0))) OVER f AS DOUBLE), 6) AS vwap
         | FROM stocks
         | WINDOW f AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         | ORDER BY symbol, date""".stripMargin,
    "drawdown" ->
      s"""${Tables.stocksCte}
         | SELECT symbol, date, close,
         |   max(close) OVER cum AS peak,
         |   round((close / max(close) OVER cum - 1.0) * 100.0, 6) AS drawdown_pct
         | FROM stocks
         | WINDOW cum AS (PARTITION BY symbol ORDER BY date ROWS UNBOUNDED PRECEDING)
         | ORDER BY symbol, date""".stripMargin,
    "max_drawdown" ->
      s"""${Tables.stocksCte},
         | dd AS (
         |   SELECT symbol,
         |     round((close / max(close) OVER cum - 1.0) * 100.0, 6) AS d
         |   FROM stocks
         |   WINDOW cum AS (PARTITION BY symbol ORDER BY date ROWS UNBOUNDED PRECEDING))
         | SELECT symbol, min(d) AS max_drawdown_pct,
         |   CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS days_underwater,
         |   count(*) AS trading_days
         | FROM dd GROUP BY symbol ORDER BY symbol""".stripMargin,
    "ma_crossover" ->
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
         | ORDER BY symbol, date""".stripMargin,
    "pair_corr" ->
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
         | FROM s ORDER BY date""".stripMargin,
    // rolling beta: same market/carrier recipe as beta_market; the
    // widened DECIMAL(24,8) cast keeps the window products on DuckDB's
    // int128 path
    "rolling_beta" ->
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
         | FROM a ORDER BY symbol, date""".stripMargin,
    "beta_market" ->
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
         | FROM a ORDER BY symbol""".stripMargin,
    // truncated-convolution EWM mirror (same bound as ema_macd_checked):
    // num = Σ d^j·x over the last 700 rows, den closed-form
    "stream_ema_replay" ->
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
         | FROM wl ORDER BY symbol, date""".stripMargin,
    "skew_salted_join" ->
      s"""${Tables.stocksCte}
         | SELECT s.symbol, count(*) AS n, max(d.peak_volume) AS peak_volume
         | FROM stocks s
         | JOIN (SELECT symbol, max(volume) AS peak_volume FROM stocks GROUP BY symbol) d
         |   ON s.symbol = d.symbol
         | GROUP BY s.symbol ORDER BY s.symbol""".stripMargin,
    "ingest_normalize" ->
      """SELECT event_id, upper(trim(event_type)) AS symbol,
        | CAST(ts AS DATE) AS date,
        | strftime(ts, '%Y-%m') AS month,
        | coalesce(CASE WHEN value < 1.0 THEN NULL ELSE value END, 0.0) AS close,
        | coalesce(user_id, 0) AS volume
        | FROM events ORDER BY event_id""".stripMargin)

  private def embedTopkOracle(nQueries: Int, k: Int, bucketed: Boolean): String = {
    val qCols = if (bucketed) ", label AS qlabel" else ""
    val joinCond = if (bucketed) "qlabel = label AND qid <> vec_id" else "qid <> vec_id"
    val outLabel = if (bucketed) ", label" else ""
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe$qCols FROM embeddings WHERE vec_id < $nQueries),
       | p AS (SELECT qid$outLabel, vec_id,
       |         round(SUM(CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)) /
       |           (sqrt(SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) *
       |            sqrt(SUM(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 4) AS cos
       |       FROM q, embeddings, UNNEST(range(1, 65)) AS t(i)
       |       WHERE $joinCond GROUP BY ALL),
       | r AS (SELECT qid$outLabel, vec_id, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
       |       FROM p)
       | SELECT qid$outLabel, rnk, vec_id, cos FROM r WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin
  }
}
