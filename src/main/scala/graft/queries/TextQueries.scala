package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** Text analysis over `documents`: language id, quality scores, n-gram
  * statistics, sketches, BPE training/encoding (in memory and stored),
  * PII, corpus statistics and the multimodal decoders.
  */
object TextQueries {

  private lazy val bpeTokDir: String = TempDirs.create("graft_bpe_tok")

  private lazy val bpeTokExtendDir: String =
    TempDirs.create("graft_bpe_tok_extend")

  private lazy val bpeTokExtendEncodeDir: String =
    TempDirs.create("graft_bpe_tok_extenc")

  private lazy val bpeTokStreamDir: String =
    TempDirs.create("graft_bpe_tok_stream")

  private lazy val bpeTokPackDir: String =
    TempDirs.create("graft_bpe_tok_pack")

  /** One JSONL export directory per JVM (the jsonl_export_roundtrip
    * side effect), registered for exit cleanup.
    */
  private lazy val jsonlExportDir: String =
    TempDirs.create("graft_jsonl_export") + "/documents"

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

  val specs: Seq[QuerySpec] = Seq(
    // ---- text analysis
    QuerySpec("text_langid", (s, d) => TextOps.langId(docs(s, d)),
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
         | ORDER BY d.doc_id""".stripMargin),
    // declared-vs-detected language confusion matrix
    QuerySpec("lang_confusion", (s, d) => TextOps.langConfusion(docs(s, d)),
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
         | FROM g ORDER BY lang, predicted""".stripMargin),
    // learned language ID: multinomial NB trained by aggregation on the
    // corpus' own labels, applied corpus-wide with a decision margin
    QuerySpec("text_nb_langid", (s, d) => Classify.nbLangScores(docs(s, d)),
      s"""$nbScoresCte
         | SELECT doc_id, lang, nb_pred, n_tokens, nb_logp, margin, is_match
         | FROM nbres ORDER BY doc_id""".stripMargin),
    // confusion + mean margin over the learned classifier
    QuerySpec("text_nb_confusion", (s, d) => Classify.nbConfusion(docs(s, d)),
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
         | FROM r WHERE rk <= 10 ORDER BY lang, nb_pred""".stripMargin),
    // bottom-k (KMV) distinct-3-gram estimate per source + exact twin
    QuerySpec("sketch_kmv_ngrams", (s, d) => Sketch.kmvDistinctNgrams(docs(s, d), 3, 128),
      // KMV: the bottom-k rows and the estimator constants (127·2⁵⁶ has
      // 7 significant bits — exact as a double) mirror Sketch verbatim;
      // the hash is the md5's leading 14 nibbles assembled base-16
      // (uniform on [0, 2⁵⁶) — the ascii polynomial is lumpy and would
      // bias the order statistic)
      {
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
      }),
    // KMV sketch set algebra: union/Jaccard/intersection per source pair
    QuerySpec("sketch_kmv_overlap", (s, d) => Sketch.kmvSourceOverlap(docs(s, d), 3, 128),
      // KMV set algebra: the merged sketch is window-limited to k rows
      // per pair; estimators mirror Sketch verbatim (inter from the two
      // rounded factors)
      {
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
      }),
    // HLL (m=512) distinct-3-gram estimate per source + exact twin;
    // both the raw and the linear-counting branch fire across sources
    QuerySpec("sketch_hll_distinct", (s, d) => Sketch.hllDistinctNgrams(docs(s, d), 3, 9),
      // HLL: registers from the top-9/low-47 bit split of the uniform
      // 56-bit hash; rank via the bin-length log2 trick; the register
      // sum is the EXACT integer Σ 2^(48−M_b) so both engines' doubles
      // start from identical operands. α and the estimator chain are
      // written as all-DOUBLE casts (a bare 0.7197… literal is DECIMAL
      // in DuckDB and its arithmetic rounds differently); the mults
      // are exact power-of-two scalings so the one rounding is the
      // final division — IEEE-identical to the Spark side.
      {
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
      }),
    // corpus-wide distinct via element-wise-max MERGE of the per-source
    // HLL register files — the no-reshuffle union property, hash-proven
    QuerySpec("sketch_hll_union", (s, d) => Sketch.hllUnion(docs(s, d), 3, 9),
      // HLL union: the oracle computes the GLOBAL register file straight
      // from the corpus; the Spark side max-merges the per-source files —
      // a hash match proves the merge, not just the formula
      {
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
      }),
    // Count-Min (4×4096) point-query check for the exact top-20 grams:
    // est ≥ exact one-sided error, exact-integer cells
    QuerySpec("sketch_cms_heavy", (s, d) => Sketch.cmsHeavyHitters(docs(s, d), 3, 4, 4096, 20),
      // Count-Min: exact-BIGINT cell grid, point query = min over the
      // depth cells; est ≥ exact is the sketch's one-sided guarantee
      {
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
      }),
    // top-3 TF-IDF terms per doc; both factors rounded to 6 before the
    // product so ranking never touches a raw float
    QuerySpec("text_tfidf", (s, d) => TextOps.tfidfTopTerms(docs(s, d), 3),
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
        | ORDER BY doc_id, rnk""".stripMargin),
    QuerySpec("text_quality_score", (s, d) => TextOps.qualityScore(docs(s, d)),
      s"$textQualityOracle ORDER BY doc_id"),
    // calibrated per-language quality threshold: lowest score whose
    // keep-set fits the floor(p·n) budget, ranked over the (lang,
    // score) histogram — never the corpus
    QuerySpec("text_quality_calibrate", (s, d) =>
      TextOps.calibrateQualityThreshold(docs(s, d), p = 0.7),
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
        | FROM j GROUP BY lang, n_docs, kcut ORDER BY lang""".stripMargin),
    // bigram-LM mean log-prob per doc (the perplexity-filter shape,
    // corpus-trained add-one model so the oracle replays it exactly)
    QuerySpec("text_lm_score", (s, d) => TextOps.lmScoreCached(docs(s, d), d),
      s"$lmScoreCte SELECT doc_id, n_bigrams, avg_logp FROM lmres ORDER BY doc_id"),
    // corpus heavy hitters: global top-20 5-grams (boilerplate view)
    QuerySpec("corpus_top_ngrams", (s, d) => TextOps.topNgrams(docs(s, d), 5, 20),
      {
        val gram5 = (0 until 5).map(j => if (j == 0) "ws[i]" else s"ws[i+$j]")
          .mkString(" || ' ' || ")
        s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           | g AS (SELECT doc_id, $gram5 AS s
           |       FROM w, UNNEST(range(1, len(ws) - 3)) AS t(i))
           | SELECT s, count(*) AS occurrences, count(DISTINCT doc_id) AS n_docs
           | FROM g GROUP BY s ORDER BY occurrences DESC, s LIMIT 20""".stripMargin
      }),
    // positional-index phrase search for the top-5 trigrams; each row
    // certifies position-join hits == shingle counts (`agree`)
    QuerySpec("text_phrase_search", (s, d) => TextOps.phraseSearch(docs(s, d), 5),
      // positional phrase search: postings pruned to phrase words, 3-way
      // adjacency join; gram-count columns ride along so `agree`
      // certifies both constructions in-row
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
        | FROM top t JOIN agg a ON a.s = t.s ORDER BY phrase""".stripMargin),
    // PMI collocation mining: adjacent pairs co-occurring far above
    // chance, exact-integer ratio under one ln, TakeOrdered top-k
    QuerySpec("text_pmi_collocations", (s, d) =>
      TextOps.pmiCollocations(docs(s, d), minCount = 5, k = 20),
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
        | ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin),
    // hashing-trick doc vectors + sparse-algebra cosine neighbors —
    // the model-free similarity surface when no encoder exists
    QuerySpec("text_hash_vectors", (s, d) => TextOps.hashedDocVectors(docs(s, d)),
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        | hb AS (SELECT doc_id, ($hexPrefixSql) % 64 AS bucket
        |        FROM (SELECT doc_id, md5(w) AS m FROM w))
        | SELECT doc_id, bucket, count(*) AS cnt
        | FROM hb GROUP BY doc_id, bucket ORDER BY doc_id, bucket""".stripMargin),
    QuerySpec("text_hash_neighbors", (s, d) => TextOps.hashedNeighbors(docs(s, d)),
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
        | FROM rk WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin),
    // RAKE keyphrases: stopword-delimited candidate runs, deg/freq
    // word scores, decimal-summed phrase scores, corpus top-20
    QuerySpec("text_rake_keyphrases", (s, d) =>
      TextOps.rakeKeyphrases(docs(s, d), k = 20, minWords = 2),
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
        | FROM sc ORDER BY score DESC, phrase LIMIT 20""".stripMargin),
    QuerySpec("token_count", (s, d) => TextOps.tokenCounts(docs(s, d)),
      s"""SELECT doc_id, lang,
         | CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         | CAST(len(regexp_extract_all(text, '${TextOps.tokenPattern}')) AS BIGINT) AS re_tokens
         | FROM documents ORDER BY doc_id""".stripMargin),
    QuerySpec("word_entropy", (s, d) => TextOps.wordEntropy(docs(s, d)),
      """WITH wrds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        | c AS (SELECT doc_id, w, count(*) AS c FROM wrds GROUP BY doc_id, w),
        | t AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS t, count(*) AS n_distinct FROM c GROUP BY doc_id),
        | terms AS (
        |   SELECT c.doc_id, t.t, t.n_distinct,
        |     CAST(round((c.c * 1.0 / t.t) * ln(c.c * 1.0 / t.t), 6) AS DECIMAL(18,6)) AS term
        |   FROM c JOIN t USING (doc_id))
        | SELECT doc_id, max(t) AS n_words, max(n_distinct) AS n_distinct,
        |   round(CAST(sum(term) * -1 AS DOUBLE), 6) AS entropy
        | FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // BPE training, first merge iteration: char-pair frequencies
    QuerySpec("bpe_pair_counts", (s, d) => TextOps.bpePairCounts(docs(s, d), 20),
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        | wc AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
        | p AS (SELECT substring(word, CAST(i AS INTEGER), 2) AS pair, cnt
        |       FROM wc, UNNEST(range(1, length(word))) t(i)
        |       WHERE length(word) >= 2)
        | SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
        | FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin),
    // full BPE training loop: 5 count→argmax→merge rounds over the
    // vocabulary frame; output is the ordered merge table
    QuerySpec("bpe_train_merges", (s, d) => TextOps.bpeTrainMerges(docs(s, d), 5),
      // BPE training unrolled: five (pair-count → argmax → merge) rounds
      // as CTE chains — the recursive-CTE-precedent family (EWM, Keltner,
      // Lloyd's). See [[bpeChainSql]] for the shared chain.
      {
        val rows = (1 to 5).map { i =>
          s"SELECT $i AS iter, pair_left, pair_right, pair_left || pair_right AS merged, n FROM b$i"
        }.mkString("\n UNION ALL\n ")
        s"""WITH ${bpeChainSql(5)}
           | SELECT * FROM ($rows) ORDER BY iter""".stripMargin
      }),
    // BATCHED BPE training — the scale path: 3 count rounds, a top-3
    // candidate window per round, symbol-disjoint candidates applied
    // together (one bounded collect per ROUND instead of per merge —
    // the serial loop's 32k-merge serialization bound removed)
    QuerySpec("bpe_train_merges_batched", (s, d) =>
      TextOps.bpeTrainMergesBatched(docs(s, d), rounds = 3, batchSize = 3),
      // batched BPE: three unrolled rounds of the greedy kept-set
      // selection chain; iter numbers the selected merges in
      // (round, rank) order
      s"""WITH ${bpeBatchChainSql(3, 3)},
         | ${bpePhaseMergesSql(Seq(("documents", 3)))}""".stripMargin),
    // apply the learned merges corpus-wide: per-doc BPE token counts
    // vs the char baseline (train→apply tokenizer pair)
    QuerySpec("bpe_encode", (s, d) => TextOps.bpeEncode(docs(s, d), 5),
      // BPE encode: apply the learned chain's final state per vocab word,
      // join back to per-doc occurrence counts — train→apply end-to-end
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
         | FROM j ORDER BY doc_id""".stripMargin),
    // the same train→apply pair on the BATCHED trainer's merges —
    // end-to-end coverage of the scale path, not just its merge table
    // train ONCE, thread the merges frame through the encode overload —
    // the production train→apply wiring (the inline-training overload
    // exists for convenience but pays training twice in a pipeline)
    QuerySpec("bpe_encode_batched", (s, d) =>
      TextOps.bpeEncodeBatched(docs(s, d),
        TextOps.bpeTrainMergesBatched(docs(s, d), rounds = 3, batchSize = 3)),
      // encode over the batched chain's final state (s3) — the bpe_encode
      // tail verbatim on the batched merge table's rewrite
      bpeEncodeBatchedOracle),
    // the STORED tokenizer's train-once/apply-everywhere path: persist
    // the merge table as a versioned artifact, encode from the stored
    // artifact — ≡ the inline train→encode by construction, so the
    // bpe_encode_batched oracle applies verbatim. SIDE EFFECT: rewrites
    // the temp tokenizer dir per evaluation (idempotent).
    QuerySpec("bpe_store_encode", (s, d) => {
      val all = docs(s, d)
      Sink.writeBpeTokenizer(all, bpeTokDir, rounds = 3, batchSize = 3)
      Sink.encodeWithBpeTokenizer(s, all, bpeTokDir)
    },
      // stored-tokenizer encode: write + load + encode is train-once ≡
      // the inline batched train→encode by construction, so the oracle
      // is SHARED verbatim (the dedup_incremental_stored convention)
      bpeEncodeBatchedOracle),
    // the EXTEND leg: train on the original corpus (doc_id < 400),
    // continue training on the new-domain docs with the stored merges
    // applied first — output is the appended merge table itself, so
    // the continued numbering (iter from n_merges, round from the
    // stored round budget) is oracle-checked directly. SIDE EFFECT:
    // rewrites the temp tokenizer dir per evaluation (idempotent).
    QuerySpec("bpe_store_extend", (s, d) => {
      val all = docs(s, d)
      Sink.writeBpeTokenizer(all.filter(col("doc_id") < 400),
        bpeTokExtendDir, rounds = 2, batchSize = 3)
      Sink.extendBpeTokenizer(all.filter(col("doc_id") >= 400),
        bpeTokExtendDir, rounds = 2, batchSize = 3)
      Sink.loadBpeMerges(s, bpeTokExtendDir).orderBy("iter")
    },
      // the stored-tokenizer EXTEND leg: phase 1 trains on the original
      // corpus (doc_id < 400), phase 2 continues on the new-domain docs
      // with phase 1's merges applied first — the merge table the engine
      // persists and appends ([[graft.operators.Sink.extendBpeTokenizer]])
      s"""WITH ${bpePhaseChainSql(bpeExtendPhases, 3)},
         | ${bpePhaseMergesSql(bpeExtendPhases)}""".stripMargin),
    // extend, then encode the FULL corpus with the extended tokenizer —
    // the end-to-end domain-shift pipeline (train → extend → apply).
    // SIDE EFFECT: rewrites the temp tokenizer dir per evaluation
    // (idempotent).
    QuerySpec("bpe_store_extend_encode", (s, d) => {
      val all = docs(s, d)
      Sink.writeBpeTokenizer(all.filter(col("doc_id") < 400),
        bpeTokExtendEncodeDir, rounds = 2, batchSize = 3)
      Sink.extendBpeTokenizer(all.filter(col("doc_id") >= 400),
        bpeTokExtendEncodeDir, rounds = 2, batchSize = 3)
      Sink.encodeWithBpeTokenizer(s, all, bpeTokExtendEncodeDir)
    },
      // encode the FULL corpus with the extended tokenizer: a 0-round
      // third phase applies both phases' merges to the full-corpus
      // vocabulary (f3_s0), then the standard encode tail
      s"""WITH ${bpePhaseChainSql(bpeExtendPhases :+ (("documents", 0)), 3)},
         |${bpeEncodeTailSql("f3_s0")}""".stripMargin),
    // tokenize with the production artifact, then PACK for training:
    // the stored tokenizer's per-doc BPE token counts feed the
    // GPT-style concat-then-chunk pack layout — the counts a loader
    // actually packs by, instead of pack_sequences' whitespace proxy.
    // SIDE EFFECT: rewrites the temp tokenizer dir per evaluation
    // (idempotent).
    QuerySpec("pack_bpe_stored", (s, d) => {
      val all = docs(s, d)
      Sink.writeBpeTokenizer(all, bpeTokPackDir, rounds = 3, batchSize = 3)
      val enc = Sink.encodeWithBpeTokenizer(s, all, bpeTokPackDir)
      Packing.packSequences(enc.select("doc_id", "n_bpe_tokens"),
        col("n_bpe_tokens"), 2048L, chunkSize = 100L)
    },
      // stored-tokenizer token counts through the concat-then-chunk pack
      // layout: the encode chain's per-doc BPE counts replace the
      // pack_sequences oracle's whitespace tokens; the pack tail is
      // otherwise verbatim
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
         | FROM c ORDER BY doc_id""".stripMargin),
    // the STREAMING twin of the extend leg: the new-domain docs land
    // as two mtime-ordered drops, each micro-batch continuing training
    // inside foreachBatch — the merge table grows BETWEEN triggers, so
    // the replay equals sequential batch extends in drop order (the
    // three-phase oracle). SIDE EFFECT: rewrites the temp
    // tokenizer/drop dirs per evaluation (idempotent).
    QuerySpec("stream_bpe_extend_replay", (s, d) => {
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
    },
      // streaming extend replay: the two drops extend sequentially in
      // mtime order — phases 2 and 3 of the same chain, one round each
      s"""WITH ${bpePhaseChainSql(bpeStreamPhases, 3)},
         | ${bpePhaseMergesSql(bpeStreamPhases)}""".stripMargin),
    // tokens/word per language under the learned merges — the
    // multilingual tokenizer-bias diagnostic
    QuerySpec("bpe_fertility_by_lang", (s, d) => TextOps.bpeFertilityByLang(docs(s, d), 5),
      // tokenizer-bias diagnostic: the encode chain rolled up per lang
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
         | GROUP BY d.lang ORDER BY d.lang""".stripMargin),
    // per-source PSI drift of the token-length distribution
    QuerySpec("source_drift_psi", (s, d) => Corpus.sourceDrift(docs(s, d)),
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
        | FROM terms GROUP BY source ORDER BY source""".stripMargin),
    // data-mix inequality: Gini over per-source token totals
    QuerySpec("source_gini", (s, d) => Corpus.sourceGini(docs(s, d)),
      """WITH t AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t
        |           FROM documents GROUP BY source),
        | r AS (SELECT source, t, CAST(row_number() OVER (ORDER BY t, source) AS BIGINT) AS i FROM t),
        | a AS (SELECT count(*) AS n_sources, CAST(sum(t) AS BIGINT) AS total_tokens,
        |         CAST(sum(i * t) AS BIGINT) AS swi FROM r)
        | SELECT n_sources, total_tokens,
        |   round(2.0 * swi / (n_sources * total_tokens) - (n_sources + 1.0) / n_sources, 6) AS gini
        | FROM a""".stripMargin),
    // CCNet-style head/middle/tail perplexity binning over the LM score.
    // The tertile is an exact chunked ntile (GlobalRank): coarse bucket
    // = negated 1/16-wide avg_logp band (nulls to the +inf band so they
    // land last, matching desc_nulls_last), never a single-partition
    // sort over the doc-cardinality frame.
    QuerySpec("ccnet_buckets", (s, d) => {
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
    },
      // CCNet-style perplexity binning: head/middle/tail thirds by the
      // bigram-LM score (Wenzek et al. 2020) — deterministic ntile over
      // the rounded score with a doc_id tiebreak
      s"""$lmScoreCte
         | SELECT doc_id, avg_logp,
         |   ntile(3) OVER (ORDER BY avg_logp DESC NULLS LAST, doc_id) AS bucket,
         |   CASE ntile(3) OVER (ORDER BY avg_logp DESC NULLS LAST, doc_id)
         |     WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ccnet_bin
         | FROM lmres ORDER BY doc_id""".stripMargin),
    // sklearn-style min_df/max_df vocabulary pruning. The synthetic
    // vocab is 31 near-uniform words (df ≈ 75-80% of docs), so the
    // standard max_df = 0.5 would keep almost nothing — 0.78 lands the
    // cut inside the observed df range and exercises both bounds.
    QuerySpec("vocab_prune", (s, d) =>
      TextOps.vocabPrune(docs(s, d), minDf = 5, maxDfFrac = 0.78),
      """WITH wrds AS (SELECT DISTINCT doc_id, word FROM
        |   (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)),
        | dfq AS (SELECT word, count(*) AS df FROM wrds GROUP BY word),
        | n AS (SELECT count(*) AS nd FROM documents)
        | SELECT row_number() OVER (ORDER BY df DESC, word) AS rnk, word, df
        | FROM dfq
        | WHERE df >= 5 AND df <= floor(0.78 * (SELECT nd FROM n))
        | ORDER BY rnk""".stripMargin),
    // per-source lexical-diversity profile (types / hapax / TTR)
    QuerySpec("source_vocab_stats", (s, d) => Corpus.sourceVocabStats(docs(s, d)),
      """WITH wrds AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
        | c AS (SELECT source, word, count(*) AS c FROM wrds GROUP BY source, word),
        | v AS (SELECT source, count(*) AS n_types, CAST(sum(c) AS BIGINT) AS n_tokens,
        |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
        |       FROM c GROUP BY source),
        | nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
        | SELECT v.source, nd.n_docs, v.n_tokens, v.n_types, v.hapax,
        |   round(v.n_types / v.n_tokens, 6) AS ttr,
        |   round(v.hapax / v.n_types, 6) AS hapax_frac
        | FROM v JOIN nd USING (source) ORDER BY v.source""".stripMargin),
    QuerySpec("gopher_quality", (s, d) => TextOps.gopherQuality(docs(s, d)),
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
        | FROM m ORDER BY doc_id""".stripMargin),
    QuerySpec("doc_length_histogram", (s, d) => TextOps.lengthHistogram(docs(s, d)),
      """WITH t AS (
        |   SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |     CAST(length(bin(len(string_split(text, ' ')))) - 1 AS INTEGER) AS bucket
        |   FROM documents)
        | SELECT lang, bucket, count(*) AS n_docs,
        |   CAST(sum(n) AS BIGINT) AS total_tokens,
        |   min(n) AS min_tokens, max(n) AS max_tokens
        | FROM t GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin),
    // template-prefix grouping on a planted-template corpus: 12 docs
    // get a twin sharing their first 8 words but a different tail;
    // each pair must group, the word-salad rest must not
    QuerySpec("template_prefix_groups", (s, d) => {
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
    },
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
        | FROM p GROUP BY prefix HAVING count(*) > 1 ORDER BY prefix""".stripMargin),
    QuerySpec("token_stats_by_lang", (s, d) => TextOps.tokenStatsByLang(docs(s, d)),
      s"""SELECT lang, count(*) AS n_docs,
         | CAST(sum(len(regexp_extract_all(text, '${TextOps.tokenPattern}'))) AS BIGINT) AS total_tokens,
         | round(avg(len(regexp_extract_all(text, '${TextOps.tokenPattern}'))), 4) AS avg_tokens
         | FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    QuerySpec("doc_fingerprint", (s, d) => TextOps.fingerprints(docs(s, d)),
      """WITH lowered AS (SELECT doc_id, lower(text) AS text FROM documents),
        | words AS (SELECT doc_id, string_split(text, ' ') AS w FROM lowered),
        | sh AS (SELECT DISTINCT doc_id,
        |          w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS s
        |        FROM words, UNNEST(range(1, len(w) - 3)) AS t(i)),
        | win AS (SELECT doc_id, min(md5(s)) AS winnow_min FROM sh GROUP BY doc_id)
        | SELECT d.doc_id, md5(lower(d.text)) AS content_md5, w.winnow_min
        | FROM documents d LEFT JOIN win w ON d.doc_id = w.doc_id ORDER BY d.doc_id""".stripMargin),
    // Gopher-style repetition filter on a repetition-injected corpus:
    // every 7th doc gets a spammy repeated phrase appended and must
    // flag; the word-salad rest must not
    QuerySpec("text_repetition", (s, d) => {
      val injected = docs(s, d).withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), expr("repeat(' buy now click here', 12)")))
          .otherwise(col("text")))
      TextOps.repetitionStats(injected)
    },
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
        | ORDER BY d.doc_id""".stripMargin),
    // RAG/embedding chunking: 64-word windows every 48 words — each doc
    // becomes the overlapping chunk rows an embedding pass would consume
    QuerySpec("chunk_documents", (s, d) => TextOps.chunkWords(docs(s, d), 64, 48),
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
        | FROM c ORDER BY doc_id, chunk_idx""".stripMargin),
    // JSONL round-trip (the training-data interchange format): write the
    // documents table as JSON lines, read it back with the pinned
    // schema — oracle equality proves the round-trip lossless.
    // SIDE EFFECT: writes the export under one per-JVM temp dir
    // (overwrite mode handles re-runs).
    QuerySpec("jsonl_export_roundtrip", (s, d) => {
      val out = jsonlExportDir
      val slice = docs(s, d)
      Sink.exportJsonl(slice, out)
      Sink.readJsonl(s, out, slice.schema).orderBy("doc_id")
    },
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"),
    // PII scrub on a PII-injected corpus: every 5th doc gains an email
    // + phone; counts and the redacted content hash are oracle-checked
    QuerySpec("pii_redact", (s, d) => {
      val injected = docs(s, d).withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" reach me at user"), col("doc_id"),
            lit("@example.com or 555-0142")))
          .otherwise(col("text")))
      TextOps.redactPii(injected)
    },
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
         | FROM f ORDER BY doc_id""".stripMargin),
    // checksum-aware card PII: planted valid (…366, Luhn-green) and
    // invalid (…367) 16-digit numbers; only the valid one may flag
    QuerySpec("pii_luhn_cards", (s, d) => {
      val injected = docs(s, d).withColumn("text",
        when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" card 4532015112830366 on file")))
          .otherwise(col("text")))
        .withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" ref 4532015112830367 tracking")))
            .otherwise(col("text")))
      TextOps.luhnCards(injected)
    },
      // Luhn via list_sum over the reversed digit string — the same
      // integer CASE tree as the Spark higher-order aggregate
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
        | ORDER BY f.doc_id""".stripMargin),
    // Zipf rank-frequency OLS over the top-100 vocabulary
    QuerySpec("corpus_zipf_fit", (s, d) => TextOps.zipfFit(docs(s, d), 100),
      // Zipf OLS: 6dp DECIMAL logs, exact moment sums, rounded trees
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
        | FROM fit, tot""".stripMargin),
    // Heaps' law vocabulary-growth fit over ten corpus prefixes —
    // the zipfFit companion (beta near 1 = token-minting pathology)
    QuerySpec("corpus_heaps_fit", (s, d) => TextOps.heapsFit(docs(s, d)),
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
        | FROM fit2""".stripMargin),

    // ---- multimodal: REAL javax.imageio decode for image rows (the
    // oracle mirrors the synthetic-PNG generation functions, so a hash
    // match proves the encode→decode round trip recovered exact
    // dimensions and pixels); audio/video dims remain the documented
    // stub. PNG byte-level fields (n_bytes/checksum/preview) are not
    // SQL-predictable and live on the Dataset API, spec-covered.
    QuerySpec("multimodal_features", (s, d) =>
      Multimodal.features(docs(s, d))
        .select("doc_id", "kind", "width", "height", "px_r", "px_g", "px_b"),
      """SELECT doc_id,
        | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        | CASE WHEN doc_id % 3 = 0 THEN CAST(16 + doc_id % 48 AS INT)
        |      ELSE CAST(octet_length(encode(text)) % 640 AS INT) END AS width,
        | CASE WHEN doc_id % 3 = 0 THEN CAST(16 + (doc_id * 7) % 32 AS INT)
        |      ELSE CAST(octet_length(encode(text)) % 480 AS INT) END AS height,
        | CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 256 AS INT) END AS px_r,
        | CASE WHEN doc_id % 3 = 0 THEN CAST((doc_id * 3) % 256 AS INT) END AS px_g,
        | CASE WHEN doc_id % 3 = 0 THEN CAST((doc_id * 5) % 256 AS INT) END AS px_b
        | FROM documents ORDER BY doc_id""".stripMargin),
    // real WAV round trip: audio rows get honest PCM RIFF/WAVE payloads,
    // the header parser recovers rate/channels/bits/frames from the
    // BYTES, and the oracle recomputes the expected values from the
    // generation functions — a hash match proves the parse real.
    // duration_us and n_bytes are exact integer arithmetic on both sides.
    QuerySpec("multimodal_audio", (s, d) => Multimodal.audioFeatures(docs(s, d)),
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
        | FROM a ORDER BY doc_id""".stripMargin),
    // real GIF round trip: video rows get honest animated-GIF payloads,
    // the container parser recovers dimensions/frames/duration from the
    // BYTES, and the oracle recomputes the expected values from the
    // generation functions — the video twin of multimodal_audio.
    QuerySpec("multimodal_video", (s, d) => Multimodal.videoFeatures(docs(s, d)),
      """WITH v AS (
        |   SELECT doc_id,
        |     CAST(8 + doc_id % 24 AS INT) AS width,
        |     CAST(8 + (doc_id * 5) % 16 AS INT) AS height,
        |     CAST(2 + (doc_id * 11) % 14 AS INT) AS n_frames,
        |     CAST(4 + doc_id % 12 AS BIGINT) AS delay_cs
        |   FROM documents WHERE doc_id % 3 = 2)
        | SELECT doc_id, width, height, n_frames,
        |   n_frames * delay_cs * 10000 AS duration_us
        | FROM v ORDER BY doc_id""".stripMargin),
    // resize → frame-sample → join frames back to their source docs;
    // every stage narrow until the final small join.
    QuerySpec("multimodal_frames", (s, d) => {
      val resized = Multimodal.resizeAll(Multimodal.mediaTable(docs(s, d)), 320, 240)
      val frames = Multimodal.sampleFrames(resized, 4)
        .toDF("doc_id", "frame_id", "frame_bytes")
      frames.join(docs(s, d).select("doc_id", "lang"), "doc_id")
        .withColumn("frame", col("frame_bytes").cast("string"))
        .select("doc_id", "frame_id", "lang", "frame")
        .orderBy("doc_id", "frame_id")
    },
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
        | FROM f ORDER BY doc_id, frame_id""".stripMargin))
}
