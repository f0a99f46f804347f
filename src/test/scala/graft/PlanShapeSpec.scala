package graft

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{ExplainMode, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Plan-shape regression tests: the physical properties the 100 TB
  * design claims (pushdown, pruning, broadcast dims, TakeOrdered
  * top-k, no cartesian products, whole-stage codegen) asserted on the
  * actual compiled plans, so a refactor that silently loses one fails
  * here instead of in a cluster bill. Plans are INSPECTED, not
  * executed — the suite runs in seconds.
  */
class PlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  /** A session of its own for the stocks-layout tests: in a full run
    * the shared session's stocks handle can be left no longer cached by
    * earlier specs, and its plan then recomputes the derivation.
    */
  private lazy val stocksSession = spark.newSession()

  /** Exchanges (shuffle or broadcast) and global sorts in a query's
    * physical plan, planned over the materialized stocks cache. Until
    * the cache is built its plan is still adaptive and reports no
    * partitioning, so a query planned earlier shuffles. The cached scan
    * is a leaf here: the exchange inside its cached plan is paid once.
    */
  private def exchangesAndGlobalSorts(name: String): (Seq[SparkPlan], SparkPlan) = {
    Tables.stocks(stocksSession, dir).count()
    val p = SparkEntry.queries(name)(stocksSession, dir).queryExecution.executedPlan
    (collect(p) {
      case e: Exchange => e
      case s: SortExec if s.global => s
    }, p)
  }

  test("the stocks cache is range-partitioned on symbol") {
    // the layout every ordered stocks read relies on: it clusters each
    // symbol for the per-symbol windows and orders the partitions for a
    // trailing orderBy("symbol", "date"). Read off the cached scan: the
    // adaptive wrapper around it reports no partitioning until it runs.
    val stocks = Tables.stocks(stocksSession, dir)
    stocks.count()
    val p = stocks.queryExecution.executedPlan
    val scans = collect(p) { case s: InMemoryTableScanExec => s }
    assert(scans.size == 1, p.treeString)
    scans.head.outputPartitioning match {
      case RangePartitioning(Seq(order), _) =>
        assert(order.child.asInstanceOf[Attribute].name == "symbol" &&
          order.isAscending, order)
      case other => fail(s"stocks cache partitioning is $other:\n${p.treeString}")
    }
  }

  test("ordered stocks indicators plan with no exchange and no global sort") {
    // one job each: a Window over the cached scan, already in
    // (symbol, date) order
    Seq("sma", "ema_macd", "ingest_adaptive", "stocks_derive").foreach { q =>
      val (found, p) = exchangesAndGlobalSorts(q)
      assert(found.isEmpty, s"$q:\n${p.treeString}")
    }
  }

  test("compare_pivot plans with at most one exchange") {
    val (found, p) = exchangesAndGlobalSorts("compare_pivot")
    assert(found.count(_.isInstanceOf[Exchange]) <= 1, p.treeString)
  }

  test("stocks operators stay on the cached layout instead of joining or unioning") {
    // a join keyed on symbol or a union of stocks-derived frames loses
    // the range partitioning; these operators avoid both
    Seq("return_outliers_mad", "risk_var_cvar", "window_chunked_sma").foreach { q =>
      val (found, p) = exchangesAndGlobalSorts(q)
      assert(!found.exists(_.isInstanceOf[Exchange]), s"$q:\n${p.treeString}")
    }
    // an as-of join unions its sides, so it pays one range shuffle, and
    // the trailing orderBy reuses it; both directions share that one
    Seq("asof_anchor_ratio", "asof_nearest_ratio").foreach { q =>
      val (found, p) = exchangesAndGlobalSorts(q)
      assert(found.count(_.isInstanceOf[Exchange]) == 1 &&
        !found.exists(_.isInstanceOf[SortExec]), s"$q:\n${p.treeString}")
    }
  }

  test("events scan prunes unused columns (props never read)") {
    val p = plan("events_hourly")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("props"), "events_hourly must not read the props column")
  }

  test("tpch q6 pushes its lineitem filters into the parquet scan") {
    val p = plan("sql_tpch_q6")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_quantity") && p.contains("l_discount"))
    assert(!p.contains("PushedFilters: []"))
  }

  test("tpch q5 six-table join broadcasts dims and never goes cartesian") {
    val p = plan("sql_tpch_q5")
    assert(p.contains("BroadcastHashJoin"), "dim sides must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("tpch q18 plans the HAVING subquery as a join filter, not a rescan-per-row") {
    val p = plan("sql_tpch_q18")
    // the IN subquery must become a (semi) join against the grouped
    // aggregate — never a correlated per-row re-aggregation — and the
    // global LIMIT must compile to top-k, not sort-everything
    assert(p.contains("LeftSemi") || p.contains("leftsemi"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), "LIMIT 100 must plan as top-k")
    assert(!p.contains("CartesianProduct"))
  }

  test("tpch q21 plans EXISTS as semi-join and NOT EXISTS as anti-join") {
    val p = plan("sql_tpch_q21")
    assert(p.contains("LeftSemi") || p.contains("leftsemi"),
      "EXISTS must become a left-semi join")
    assert(p.contains("LeftAnti") || p.contains("leftanti"),
      "NOT EXISTS must become a left-anti join")
    // supplier and nation are dims — they must broadcast
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("tpch q4 plans its EXISTS probe as a semi-join and q10 as top-k") {
    val p4 = plan("sql_tpch_q4")
    assert(p4.contains("LeftSemi") || p4.contains("leftsemi"), p4.take(600))
    assert(!p4.contains("CartesianProduct"))
    val p10 = plan("sql_tpch_q10")
    assert(p10.contains("TakeOrderedAndProject"), "LIMIT 20 must plan as top-k")
    assert(p10.contains("BroadcastHashJoin") && !p10.contains("CartesianProduct"))
  }

  test("tpch q17 decorrelates the scalar subquery to one aggregate + join") {
    val p = plan("sql_tpch_q17")
    // the correlated avg must become ONE per-partkey aggregate joined
    // back — never a per-outer-row rescan of lineitem (nested loop) —
    // so the plan carries exactly two lineitem scans: the fact side
    // and the decorrelated aggregate side
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "correlated scalar subquery planned as a per-row rescan")
    val lineitemScans = p.split("Scan parquet").toSeq.tail
      .map(b => b.take(math.max(b.indexOf("ReadSchema"), 0)))
      .count(_.contains("lineitem"))
    assert(lineitemScans == 2,
      s"expected 2 lineitem scans (fact + decorrelated agg), got $lineitemScans")
  }

  test("drift check's plan contains NO stored-index scan at all") {
    // ivfAppendDrift's stored-side populations come from the
    // generation-cached driver map (storedCellCounts — scanned once per
    // index generation, seeded arithmetically after appends), so the
    // DRIFT PLAN itself must not touch the assignment tree. The
    // maintenance loop's per-drop cost is then bounded by the batch,
    // never by index data or files.
    // assert on the scans' Location lines specifically: every parquet
    // scan's detail section carries exactly one, and bounding the match
    // to that line keeps an unrelated later occurrence of the substring
    // (a column alias, a subquery name) from failing the test. The
    // Location line IS subject to spark.sql.maxMetadataStringLength
    // (default 100, head-kept — a deep temp dir could truncate the
    // trailing '/assignment' and mask a regression), so raise it for
    // the duration of the plan build.
    val prevLen = spark.conf.get("spark.sql.maxMetadataStringLength")
    val p =
      try {
        spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
        plan("embed_ivf_append_drift")
      } finally spark.conf.set("spark.sql.maxMetadataStringLength", prevLen)
    val locations = p.linesIterator
      .filter(_.trim.startsWith("Location")).toSeq
    assert(!locations.exists(_.contains("assignment")),
      s"drift plan still scans the stored assignment:\n${locations.mkString("\n")}")
    // the verdict is computed on the driver when the drift check is
    // called (the batch counted in one collect): its plan is the local
    // relation of the verdict rows, with no parquet scan left in it
    assert(p.contains("LocalTableScan") && !p.contains("Scan parquet"),
      s"drift plan must be a local relation with no parquet scan:\n${p.take(800)}")
  }

  test("tpch q20 decorrelates both nesting levels — no per-row rescan anywhere") {
    val p = plan("sql_tpch_q20")
    // the IN over ps must become a semi-join, and the correlated
    // scalar aggregate INSIDE it must become one per-(part,supp)
    // aggregate joined back — a naive plan re-scans lineitem per
    // (part, supplier) row via a nested loop
    assert(p.contains("LeftSemi") || p.contains("leftsemi"), p.take(600))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "nested correlated scalar aggregate planned as a per-row rescan")
  }

  test("tpch q2 decorrelates the MIN-over-dimension-chain to one aggregate + join") {
    val p = plan("sql_tpch_q2")
    // the correlated MIN drags supplier→nation→region with it; the
    // rewrite must evaluate that join chain ONCE as a per-part
    // aggregate, never re-running it per outer row
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "correlated MIN subquery planned as a per-row rescan")
  }

  test("tpch q16 plans NOT IN as null-aware anti-join, q12/q8/q9 never go cartesian") {
    val p16 = plan("sql_tpch_q16")
    assert(p16.contains("LeftAnti") || p16.contains("leftanti"),
      "NOT IN must become a (null-aware) anti-join")
    assert(!p16.contains("CartesianProduct"))
    Seq("sql_tpch_q12", "sql_tpch_q8", "sql_tpch_q9").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q went cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q nested-loops")
    }
  }

  test("tpch q22 plans NOT EXISTS as anti-join; scalar thresholds evaluate once") {
    val p = plan("sql_tpch_q22")
    assert(p.contains("LeftAnti") || p.contains("leftanti"),
      "NOT EXISTS must become a left-anti join")
    assert(!p.contains("CartesianProduct"))
    // the two uncorrelated scalar subqueries must plan as one-time
    // Subquery nodes, not per-row rescans of customer
    assert(p.contains("Subquery"), p.take(600))
  }

  test("tpch q13 keeps the in-join predicate on the outer join; q15 reuses the view") {
    val p13 = plan("sql_tpch_q13")
    // the priority filter must ride the LEFT OUTER join condition (a
    // post-filter would drop zero-order customers); the join itself
    // stays a hash join on custkey
    assert(p13.contains("LeftOuter") || p13.contains("leftouter"), p13.take(600))
    assert(!p13.contains("CartesianProduct"))
    val p15 = plan("sql_tpch_q15")
    // the scalar max must evaluate once (Subquery), never per row
    assert(p15.contains("Subquery"), p15.take(600))
    assert(!p15.contains("CartesianProduct") &&
      !p15.contains("BroadcastNestedLoopJoin"))
  }

  test("tpch q19 disjunctive-predicate join stays an equi hash join") {
    val p = plan("sql_tpch_q19")
    // the three OR branches must ride the p_partkey = l_partkey hash
    // join as a residual filter — never a nested-loop/cartesian plan
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("weighted sample compiles to TakeOrderedAndProject, not sort-all") {
    val p = plan("sample_weighted_tokens")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("suffix miner shuffles by bucket — no global single-partition sort") {
    // uncached path: the cached one explains as a checkpoint scan
    val df = graft.operators.Dedup.suffixRepeats(
      Tables.documents(spark, dir), 5, 20, corpusKey = None)
    val p = df.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("hashpartitioning(bucket"),
      "the suffix sort must partition by bucket")
    assert(!p.contains("CartesianProduct"))
  }

  test("global top-k compiles to TakeOrderedAndProject, not sort-all") {
    val p = plan("corpus_top_ngrams")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("indicator windows stay inside whole-stage codegen") {
    // codegen ids only appear on the FINAL adaptive plan, and only on
    // the DataFrame's OWN QueryExecution — a .write spawns a separate
    // one, so execute via collect() (sf0.001 — tiny) before explaining
    val df = SparkEntry.queries("rsi")(spark, dir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("codegen id"), p.take(500))
  }

  test("stored IVF search scans the co-located index, never rejoining the corpus") {
    // the assignment layout carries the vectors in the cell partitions,
    // so the only scan of the embeddings table is the nQueries-bounded
    // query side — at 100 TB the old emb.join(assignment) shape dragged
    // the whole corpus through a shuffle join per search
    val p = plan("embed_ivf_append_search")
    assert(p.contains("assignment"), "search must scan the stored index")
    assert(!p.contains("SortMergeJoin"),
      s"search must not shuffle-join anything:\n${p.take(1200)}")
    // every scan of the raw embeddings table must be the query side —
    // i.e. carry the vec_id bound pushed into the scan. The formatted
    // detail section lists one block per scan node; split on them.
    val blocks = p.split("Scan parquet").toSeq.tail
      // a scan node's details end at its ReadSchema line — drop the
      // rest of each split chunk so we only inspect that scan's lines
      .map(b => b.take(math.max(b.indexOf("ReadSchema"), 0)))
    val embBlocks = blocks.filter(_.contains("embeddings.parquet"))
    assert(embBlocks.nonEmpty, "query side must scan the embeddings table")
    embBlocks.foreach { b =>
      val pushed = b.linesIterator.find(_.trim.startsWith("PushedFilters"))
      assert(pushed.exists(_.contains("vec_id")),
        s"an embeddings scan without a vec_id bound = a corpus-sized scan " +
          s"in the serving path; scan details:\n$b")
    }
    // the index scan must read ONLY the probed cell SUBDIRECTORIES —
    // round 15 moved the pruning from a literal partition filter into
    // the file listing itself (readProbedCells: a root-path read would
    // LIST the whole cells-∝-N tree before any filter applies, the
    // stored-serving decade-growth term). The scan's Location must
    // therefore enumerate cell= paths, never the assignment root.
    val idxBlocks = blocks.filter(_.contains("assignment"))
    assert(idxBlocks.nonEmpty, "search must scan the stored assignment")
    idxBlocks.foreach { b =>
      val loc = b.linesIterator.find(_.trim.startsWith("Location"))
      assert(loc.exists(_.contains("assignment/cell=")),
        s"assignment scan lists the whole tree instead of the probed " +
          s"cell subdirectories:\n$b")
    }
  }

  test("IVF-PQ search: the ADC stage reads only the codes column of the index") {
    // the memory-lean tier is a COLUMN PROJECTION: the candidate scan
    // must not decode the embedding column (parquet reads the m ints),
    // while the rerank scan reads embedding — two ReadSchemas over the
    // same files
    val p = plan("embed_ivfpq_stored_search")
    assert(!p.contains("SortMergeJoin"), "both stages must broadcast-join")
    // block = one scan node's detail section, ReadSchema line included
    val blocks = p.split("\\(\\d+\\) Scan parquet").toSeq.tail
    val idxSchemas = blocks.filter(_.contains("assignment"))
      .flatMap(_.linesIterator.find(_.trim.startsWith("ReadSchema")))
    assert(idxSchemas.exists(s => s.contains("codes") && !s.contains("embedding")),
      s"no codes-only projection of the index found:\n${idxSchemas.mkString("\n")}")
    assert(idxSchemas.exists(s => s.contains("embedding") && !s.contains("codes")),
      s"no embedding-only rerank projection found:\n${idxSchemas.mkString("\n")}")
  }

  test("sq8 search broadcasts the query side; calibration windows over the histogram") {
    // the SQ8 scan must stream the corpus-side codes against a
    // BROADCAST query set — a shuffle join or cartesian here drags the
    // whole corpus through an exchange per search
    val p = plan("embed_sq8_topk")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"sq8 search must broadcast the nQueries side:\n${p.take(1200)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "sq8 search lost its broadcast join")
    // threshold calibration: its window must partition by lang over the
    // (lang, score) HISTOGRAM — a global (unpartitioned) window here
    // would single-partition the corpus
    val c = plan("text_quality_calibrate")
    val winLines = c.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, "calibration lost its cumulative window")
    winLines.foreach(l => assert(l.contains("lang"),
      s"calibration window must partition by lang:\n$l"))
  }

  test("mix materialization: every corpus-sized window partitions by (source, bucket)") {
    // the two-pass prefix sum's whole point: the doc-level running sum
    // must never run in a per-source (let alone global) window — only
    // the 256-row-per-source SUBTOTAL frame may order by bucket alone
    val p = plan("mix_materialize")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, "materialization lost its windows")
    val docLevel = winLines.filter(_.contains("doc_id"))
    assert(docLevel.nonEmpty, "the within-bucket running sum vanished")
    docLevel.foreach(l => assert(l.contains("bucket"),
      s"the doc-level window must partition by (source, bucket):\n$l"))
  }

  test("no heavy query contains a cartesian product") {
    val heavy = Seq("dedup_minhash_lsh", "dedup_simhash_pairs",
      "embed_ivf_topk", "contamination_bloom", "events_sessionize",
      "text_nb_langid", "text_phrase_search", "join_revenue_by_region")
    heavy.foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a cartesian product")
    }
  }
}
