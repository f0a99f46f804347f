package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** Document deduplication: exact, n-gram, MinHash-LSH, SimHash, suffix
  * and containment dedup, the dedup graph, and incremental dedup against
  * the cached and the stored dedup index (append, delete, compact, ingest
  * loop and their streaming replays).
  */
object DedupQueries {

  /** Replay-drop directory for the streaming near-dup query. */
  private lazy val neardupReplayDir: String = TempDirs.create("graft_neardup_replay")

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

  /** Takedown set for the dedup-index delete queries: the docs the
    * planted batch copies point AT (verbatim sources 0-4, near sources
    * 10-14) — deleting them flips the planted verdicts, so the queries
    * exercise the mask on BOTH the fingerprint min-fold and the
    * pre-cap band path, not just on bystander rows.
    */
  private val dedupTakedownIds: Seq[Long] =
    (0L until 5L) ++ (10L until 15L)

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

  /** The planted incremental-dedup batch (shared by the cached and the
    * two stored-index queries, which must classify the SAME batch to
    * share one oracle): docs ≥ 400, plus 10 verbatim copies and 10
    * near-copies of existing docs under re-keyed ids.
    */
  private def incDedupBatch(all: DataFrame): DataFrame =
    all.filter(col("doc_id") >= 400).select("doc_id", "text")
      .unionByName(all.filter(col("doc_id") < 10)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .unionByName(all.filter(col("doc_id") >= 10 && col("doc_id") < 20)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" zq1 zq2 zq3")).as("text")))

  /** 3-gram shingle chain body (no leading WITH) over any (doc_id,
    * text) source CTE/table — lets the planted-twin eval run the SAME
    * chain over an augmented corpus.
    */
  private def sh3Body(src: String): String =
    s"""words AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
       | sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |        FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)),
       | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  /** Shared shingle CTE (3-gram, distinct, 1-indexed — mirrors
    * Dedup.shingles).
    */
  private val SH3 = "WITH " + sh3Body("documents")

  private val jaccardExpr = "round(n_common * 1.0 / (sa.n + sb.n - n_common), 4)"

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

  /** MinHash+LSH near-dup pair SQL (signatures → capped banding →
    * exact-Jaccard verify) — shared by dedup_minhash_lsh and its
    * streaming replay twin stream_neardup_replay.
    */
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

  val specs: Seq[QuerySpec] = Seq(
    // ---- dedup family
    QuerySpec("dedup_exact", (s, d) => Dedup.exact(docs(s, d)),
      """SELECT doc_id, md5(text) AS fp,
        | min(doc_id) OVER (PARTITION BY md5(text)) AS keeper,
        | count(*) OVER (PARTITION BY md5(text)) AS n_copies,
        | doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
        | FROM documents ORDER BY doc_id""".stripMargin),
    // fuzzy-exact dedup: case/punct/whitespace variants (15 planted
    // mangled twins, doc_id 30000+) collapse to their originals'
    // fingerprint under text normalization
    QuerySpec("dedup_normalized", (s, d) => {
      val all = docs(s, d)
      val noisy = all.select("doc_id", "text")
        .unionByName(all.filter(col("doc_id") < 15).select(
          (col("doc_id") + 30000).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit(" !!! ")).as("text")))
      Dedup.exactNormalized(noisy)
    },
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
        | FROM f JOIN st USING (fp) ORDER BY f.doc_id""".stripMargin),
    QuerySpec("dedup_ngram_jaccard", (s, d) => Dedup.ngramJaccardPairs(docs(s, d), 0.5),
      s"""$SH3,
         | pairs AS (
         |   SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |   GROUP BY a.doc_id, b.doc_id)
         | SELECT doc_a, doc_b, n_common, sa.n AS na, sb.n AS nb,
         |   $jaccardExpr AS jaccard
         | FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         | WHERE $jaccardExpr >= 0.5 ORDER BY doc_a, doc_b""".stripMargin),
    // the pair list, the estimator gate, and PageRank consume the
    // identical verified-pair chain → session pair cache (compute once)
    QuerySpec("dedup_minhash_lsh", (s, d) => Dedup.minhashLshPairsCached(docs(s, d), d, 0.5),
      minhashLshOracleSql),
    // MinHash estimator gate: signature-agreement Jaccard estimate vs
    // exact, per confirmed pair
    QuerySpec("dedup_minhash_estimate", (s, d) =>
      Dedup.minhashJaccardEstimate(docs(s, d), 0.5, corpusKey = Some(d)),
      s"""$minhashPairsCte,
         | est AS (SELECT jp.doc_a, jp.doc_b, jp.jaccard,
         |   round((${(0 until Dedup.minhashParams.size)
               .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
               .mkString(" + ")}) / ${Dedup.minhashParams.size}.0, 4) AS est
         |   FROM jp JOIN sig a ON a.doc_id = jp.doc_a
         |   JOIN sig b ON b.doc_id = jp.doc_b)
         | SELECT doc_a, doc_b, jaccard, est, round(abs(est - jaccard), 4) AS abs_err
         | FROM est ORDER BY doc_a, doc_b""".stripMargin),
    // PageRank over the undirected MinHash similarity graph — 10 fixed
    // iterations, exact-decimal contribution sums
    QuerySpec("graph_pagerank", (s, d) =>
      Graph.pageRank(Dedup.minhashLshPairsCached(docs(s, d), d, 0.5)),
      // PageRank unrolled: r_k mirrors the Spark iteration exactly —
      // contributions round(rank/deg, 12) sum as DECIMAL(20,12), new rank
      // = one fixed double tree (teleport + d·Σ) re-rounded, constants
      // through CAST so DuckDB can't route them through DECIMAL
      {
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
      }),
    // triangle counts + local clustering over the same similarity graph
    QuerySpec("graph_triangles", (s, d) =>
      Graph.triangleStats(Dedup.minhashLshPairsCached(docs(s, d), d, 0.5)),
      // ordered-orientation triangle enumeration: a<b<c found once via
      // the (a,b)⋈(b,c) wedge closed by (a,c); all-integer until the one
      // rounded clustering ratio
      {
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
      }),
    // edit-distance near-dups: prefix/suffix blocking + levenshtein verify
    QuerySpec("dedup_levenshtein", (s, d) => Dedup.levenshteinPairs(docs(s, d)),
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
         | ORDER BY doc_a, doc_b""".stripMargin),
    QuerySpec("dedup_simhash", (s, d) => Dedup.simhash(docs(s, d)),
      s"$simhashSigSql SELECT doc_id, simhash FROM sig ORDER BY doc_id"),
    // MOSS-style winnowing: ≥2 shared window-min fingerprints → pair
    QuerySpec("dedup_winnow_pairs", (s, d) => Dedup.winnowPairs(docs(s, d), 5, 4, 2),
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
         | ORDER BY doc_a, doc_b""".stripMargin),
    QuerySpec("dedup_simhash_pairs", (s, d) => Dedup.simhashNearDupsCached(docs(s, d), d, 3),
      s"""$simhashPairsCte
         | SELECT doc_a, doc_b, dist FROM dists WHERE dist <= 3
         | ORDER BY doc_a, doc_b""".stripMargin),
    // the recall-preserving over-cap mode: sub-split on the other three
    // chunks instead of star-linking, so template clusters emit their
    // complete pair list (Dedup.subSplitBandCandidates)
    QuerySpec("dedup_simhash_pairs_full",
      (s, d) => Dedup.simhashNearDups(docs(s, d), 3, fullRecall = true),
      s"""$simhashFullPairsCte
         | SELECT doc_a, doc_b, dist FROM dists WHERE dist <= 3
         | ORDER BY doc_a, doc_b""".stripMargin),
    // exact repeated-substring spans (Lee et al. 2022 granularity):
    // maximal word runs whose every 8-gram appears in ≥2 distinct docs
    QuerySpec("dedup_substring_spans", (s, d) => Dedup.substringSpans(docs(s, d), 8, 2),
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
        | ORDER BY doc_id, span_start""".stripMargin),
    // suffix-array longest-repeated-substring (bucketed suffix sort +
    // adjacent LCP): per doc, the longest word-span occurring ≥2 times
    // anywhere in the corpus — catches long verbatim repeats below the
    // shingle-Jaccard radar
    QuerySpec("dedup_suffix_repeats", (s, d) => Dedup.suffixRepeats(docs(s, d), 5, 20, Some(d)),
      // bucketed suffix sort + adjacent-LCP longest-repeated-substring:
      // LCP = count of k with equal k-prefixes (monotone), rep_len =
      // max(LCP prev, LCP next) — exact integers end to end
      s"""$suffixHitsCte,
        | rk AS (SELECT doc_id, pos, sw, rep_len,
        |     row_number() OVER (PARTITION BY doc_id ORDER BY rep_len DESC, pos) AS rn
        |   FROM hit),
        | agg AS (SELECT doc_id, max(rep_len) AS max_rep_len,
        |     count(*) AS n_dup_positions FROM hit GROUP BY doc_id)
        | SELECT a.doc_id, a.max_rep_len, a.n_dup_positions,
        |   r.pos AS top_pos, array_to_string(r.sw[1:r.rep_len], ' ') AS top_span
        | FROM agg a JOIN rk r ON r.doc_id = a.doc_id AND r.rn = 1
        | ORDER BY a.doc_id""".stripMargin),
    // the removal step: duplicated spans scrubbed from every doc, the
    // cleaned corpus emitted (suffix-array dedup end to end)
    QuerySpec("dedup_suffix_scrub", (s, d) => Dedup.suffixScrub(docs(s, d), 5, 20, Some(d)),
      // the removal step: every position covered by a duplicated span is
      // dropped (ALL occurrences), survivors rejoin in order; docs with
      // nothing left emit ''
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
        | ORDER BY t.doc_id""".stripMargin),
    // per-source boilerplate burden: tokens removed / docs touched /
    // docs emptied by the span scrub — the data-mix owner's view
    QuerySpec("dedup_span_by_source", (s, d) => Dedup.suffixScrubStats(docs(s, d), 5, 20, Some(d)),
      // per-source rollup of the scrub (docs join + one grouped agg)
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
        | FROM per GROUP BY source ORDER BY source""".stripMargin),
    // pairs → connected components → keeper per cluster (the step that
    // turns pair lists into an actually-deduplicated corpus)
    QuerySpec("dedup_clusters", (s, d) => {
      // the pair list is the cached artifact dedup_simhash_pairs built —
      // cluster resolution consumes it, it doesn't re-mine it
      val pairs = Dedup.simhashNearDupsCached(docs(s, d), d, 3)
        .select("doc_a", "doc_b")
      Dedup.dedupVerdicts(docs(s, d), pairs)
    },
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
         | ORDER BY d.doc_id""".stripMargin),

    // quality-aware representative: each near-dup cluster keeps its
    // best-quality member instead of the min-doc_id keeper; consumes
    // the same cached pair list as dedup_clusters
    QuerySpec("dedup_keep_best", (s, d) => {
      val pairs = Dedup.simhashNearDupsCached(docs(s, d), d, 3)
        .select("doc_a", "doc_b")
      Dedup.keepBestPerCluster(docs(s, d), pairs)
    },
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
         | FROM rk ORDER BY doc_id""".stripMargin),
    // which sources copy from each other: verified near-dup pairs
    // rolled up per unordered source pair (cached pair list)
    QuerySpec("dedup_source_matrix", (s, d) => {
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
    },
      s"""$minhashPairsCte,
         | sp AS (SELECT least(sa.source, sb.source) AS src_a,
         |          greatest(sa.source, sb.source) AS src_b
         |        FROM jp
         |        JOIN documents sa ON sa.doc_id = jp.doc_a
         |        JOIN documents sb ON sb.doc_id = jp.doc_b)
         | SELECT src_a, src_b, count(*) AS n_pairs
         | FROM sp GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin),

    // the dedup evaluation harness ON the oracle surface: 25 planted
    // mangled twins (every 17th word replaced) → run the production
    // MinHash-LSH path → report its own recall + cross-match count.
    // Partial recall is the honest, deterministic output: banding
    // probability at the twins' ~0.7 Jaccard is below 1 by design.
    QuerySpec("dedup_eval_planted", (s, d) => {
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
    },
      // eval harness: the full MinHash chain over the augmented corpus
      // (mangled-twin CTE + sh3Body("base")), then recall vs the planted
      // truth pairs
      {
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
      }),

    // quote detection: 8 planted excerpts (40-word prefix of a corpus
    // doc + novel tail) must surface on CONTAINMENT while their
    // Jaccard stays far below near-dup thresholds
    QuerySpec("dedup_containment", (s, d) => {
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
    },
      // containment: shared-gram candidates with the winnow-style cap,
      // exact |A∩B| on candidates only; both ratios per pair
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
         | ORDER BY i.doc_a, i.doc_b""".stripMargin),

    // cross-source leakage matrix: distinct shared 8-grams + gram-set
    // Jaccard per source pair — the corpus-level mixture/provenance view
    QuerySpec("source_overlap", (s, d) => Dedup.sourceOverlap(docs(s, d), 8),
      {
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
      }),

    // incremental ingest dedup: classify a NEW batch (docs ≥ 400, plus
    // 10 planted verbatim copies and 10 planted near-copies of existing
    // docs) against the EXISTING corpus (docs < 400) — exact/near/new
    // without ever re-deduping the corpus itself
    QuerySpec("dedup_incremental", (s, d) => {
      val all = docs(s, d)
      val existing = all.filter(col("doc_id") < 400).select("doc_id", "text")
      // keyed: the existing-corpus index (fingerprints + shingles +
      // capped bands) is session-cached, built once; the stored-index
      // twins below are the restart-safe form of the same index
      Dedup.incrementalDedup(existing, incDedupBatch(all), 0.5,
        existingKey = Some(d + "#inc-existing"))
    },
      incrementalDedupOracle),

    // dedup_incremental against the ON-DISK index: write the
    // existing-corpus index to parquet (manifest + fingerprints +
    // shingles + bands, the IVF lifecycle), classify the same planted
    // batch through the stored path — restart-safe (no session cache
    // anywhere on this path), same oracle as dedup_incremental because
    // stored ≡ cached by construction. SIDE EFFECT: rewrites the temp
    // index dir per evaluation (idempotent).
    QuerySpec("dedup_incremental_stored", (s, d) => {
      val all = docs(s, d)
      Sink.writeDedupIndex(
        all.filter(col("doc_id") < 400).select("doc_id", "text"),
        dedupIndexDir)
      Sink.classifyWithDedupIndex(s, incDedupBatch(all), dedupIndexDir, 0.5)
    },
      // stored ≡ cached by construction (same index content, same
      // classify core) — the cached-path oracle applies verbatim
      incrementalDedupOracle),

    // the APPEND leg of the stored-index lifecycle, oracle-checked with
    // zero new SQL: build on docs < 300, append docs 300-399 (their
    // ids/text unchanged), classify the same batch — after the append
    // the index is equal-by-construction to one built on docs < 400,
    // so the dedup_incremental oracle applies verbatim. SIDE EFFECT:
    // rewrites the temp index dir per evaluation (idempotent).
    QuerySpec("dedup_incremental_stored_append", (s, d) => {
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
    },
      // build-on-<300 + append-300..399 ≡ build-on-<400 by construction
      // (raw fingerprints min-fold at read, per-doc shingles, read-time
      // band cap) — same oracle again
      incrementalDedupOracle),

    // the TAKEDOWN leg of the stored-index lifecycle: build on
    // docs < 400, tombstone-delete the docs the planted batch copies
    // point at (licensing/PII removal shape: O(ids) write, no corpus
    // rewrite), classify — the masked index must classify exactly as
    // one REBUILT on the filtered corpus, which is what the oracle
    // computes (planted exacts of docs 0-4 fall through the masked
    // fingerprint fold; planted nears of docs 10-14 lose their
    // pre-cap band partners). SIDE EFFECT: rewrites the temp index
    // dir per evaluation (idempotent).
    QuerySpec("dedup_index_delete_classify", (s, d) => {
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
    },
      // a masked (tombstoned) index classifies as one rebuilt on the
      // corpus minus the deleted docs — same CTE chain, filtered corpus
      incrementalDedupOracleFor(
        s"doc_id < 400 AND doc_id NOT IN (${dedupTakedownIds.mkString(", ")})")),

    // the PURGE leg: same delete, then compactDedupIndex physically
    // removes the tombstoned docs' rows from all three tables and
    // consumes the tombstones — classify must serve identically to
    // the masked path (same oracle), now with zero masking joins.
    // SIDE EFFECT: rewrites the temp index dir per evaluation
    // (idempotent).
    QuerySpec("dedup_index_delete_compact", (s, d) => {
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
    },
      // compaction physically purges what the mask hid — identical
      // service, so the same filtered-corpus oracle
      incrementalDedupOracleFor(
        s"doc_id < 400 AND doc_id NOT IN (${dedupTakedownIds.mkString(", ")})")),

    // the production ingest LOOP, batch form: classify batch 1
    // against the stored index, append its accepted ('new') docs,
    // then classify batch 2 against the GROWN index — batch 2's
    // planted copies of batch-1 docs classify exact/near against
    // them, which only happens if the index actually grew between
    // calls. The oracle unrolls the chain sequentially (verdict1 →
    // accepted1 → corpus ∪ accepted1 → verdict2). SIDE EFFECT:
    // rewrites the temp index dir per evaluation (idempotent).
    QuerySpec("dedup_ingest_loop", (s, d) => {
      val all = docs(s, d)
      Sink.writeDedupIndex(
        all.filter(col("doc_id") < 400).select("doc_id", "text"),
        dedupIngestLoopDir)
      val v1 = Sink.maintainDedupIndex(s, ingestBatch1(all),
        dedupIngestLoopDir, 0.5)
      val v2 = Sink.maintainDedupIndex(s, ingestBatch2(all),
        dedupIngestLoopDir, 0.5)
      v1.unionByName(v2).orderBy("doc_id")
    },
      // sequential ingest loop, batch and streaming forms — one
      // unrolled two-step oracle (verdict1 → accepted1 → verdict2)
      dedupIngestLoopOracle),

    // the STREAMING form of the ingest loop: the two batches land as
    // mtime-ordered file drops and each micro-batch runs the same
    // classify-append-accepted step inside foreachBatch — the index
    // grows BETWEEN triggers, so the replayed verdicts equal the
    // sequential batch form (same oracle). SIDE EFFECT: rewrites the
    // temp index/drop/output dirs per evaluation (idempotent).
    QuerySpec("stream_dedup_ingest_replay", (s, d) => {
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
    },
      dedupIngestLoopOracle),

    // CDC-shaped streaming maintenance of the stored dedup index:
    // accepted docs AND takedowns arrive through one stream (drop a
    // adds docs 300-399, drop b deletes the takedown set), each
    // micro-batch folding into the on-disk index inside foreachBatch.
    // The final index equals a build on docs < 400 minus the deleted
    // docs in any drop order (append-only rows folded at read;
    // tombstone-wins) — so the takedown oracle applies verbatim to
    // the post-replay classify. SIDE EFFECT: rewrites the temp
    // index/drop dirs per evaluation (idempotent).
    QuerySpec("stream_dedup_cdc_replay", (s, d) => {
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
    },
      // the CDC replay's final index ≡ build on (base ∪ adds) minus
      // deletes in any drop order — the same filtered-corpus oracle
      incrementalDedupOracleFor(
        s"doc_id < 400 AND doc_id NOT IN (${dedupTakedownIds.mkString(", ")})")),

    // the STREAMING twin of dedup_incremental_stored: the planted batch
    // lands as two parquet drops, each micro-batch classifies against
    // the frozen on-disk index inside foreachBatch, verdicts append to
    // an output dir — verdicts are per-doc independent given the index,
    // so the replayed union shares dedup_incremental's oracle VERBATIM.
    // SIDE EFFECT: rewrites the temp index/drop/output dirs per
    // evaluation (idempotent).
    QuerySpec("stream_dedup_incremental_replay", (s, d) => {
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
    },
      // verdicts are per-doc independent given the frozen index, so the
      // micro-batch replay's union shares the oracle verbatim
      incrementalDedupOracle),
    // dedup observability: near-dup cluster size distribution off the
    // cached simhash pair list
    QuerySpec("dedup_cluster_sizes", (s, d) => {
      val pairs = Dedup.simhashNearDupsCached(docs(s, d), d, 3)
        .select("doc_a", "doc_b")
      Dedup.clusterSizeHistogram(docs(s, d), pairs)
    },
      // cluster-size distribution over the recursive-CTE labels
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
         | FROM sz GROUP BY sz ORDER BY sz""".stripMargin),

    // streaming near-dup replay on the oracle surface: the corpus lands
    // in three file drops → several micro-batches; per-(band, bv) bucket
    // state pairs docs ACROSS batches and the collected candidates
    // exact-verify against the static corpus — the result equals the
    // batch MinHash LSH path wherever no bucket crosses the cap during
    // replay (max sf0.01 bucket = 3), so it shares dedup_minhash_lsh's
    // oracle SQL verbatim. Intra-bucket all-pairs is arrival-order
    // INVARIANT under the cap, so no drop-order stamping is needed.
    // SIDE EFFECT: writes the replay drops under one per-JVM temp dir.
    QuerySpec("stream_neardup_replay", (s, d) => {
      val dir = neardupReplayDir
      val all = docs(s, d).select("doc_id", "text", "lang", "source", "n_chars")
      Seq(("a", 0), ("b", 1), ("c", 2)).foreach { case (tag, r) =>
        all.filter(pmod(col("doc_id"), lit(3)) === r).coalesce(1)
          .write.mode("overwrite").parquet(dir + s"/drop=$tag")
      }
      graft.streaming.DedupStream.runBoundedNearDups(
        s, dir + "/drop=*", 0.5, "stream_neardup_tbl",
        staticDocs = Some(all.select("doc_id", "text")))
    },
      // the streaming replay reproduces the batch LSH pairs exactly
      // (under-cap buckets are arrival-order invariant), so it is held to
      // the identical oracle
      minhashLshOracleSql))
}
