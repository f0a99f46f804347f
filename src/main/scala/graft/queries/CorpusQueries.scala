package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** Corpus curation: cleaning, the manifest and funnel, decontamination,
  * deterministic sampling and splits, mixing and packing.
  */
object CorpusQueries {

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

  /** The manifest core — simhash near-dup keepers × the cleaning
    * verdict chain, ending in `mrow` (doc_id, keep, is_keeper,
    * include, manifest_reasons). Shared by the plain manifest oracle
    * and the scrub-chained variant.
    */
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

  val specs: Seq[QuerySpec] = Seq(
    // the end-to-end cleaning verdict: exact-dup keeper + length gate +
    // repetition filter in one pass; the repetition injection (every 7th
    // doc) makes the 'repetitive' reason fire deterministically
    QuerySpec("corpus_clean", (s, d) => {
      val injected = docs(s, d).withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), expr("repeat(' buy now click here', 12)")))
          .otherwise(col("text")))
      Corpus.cleanVerdicts(injected, minWords = 30)
    },
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
        | FROM sig ORDER BY doc_id""".stripMargin),

    // deterministic 5-fold CV assignment + per-(fold, lang) balance
    QuerySpec("cv_folds", (s, d) => Sampling.cvFolds(docs(s, d), 5),
      s"""WITH h AS (SELECT doc_id, lang, md5(text) AS m FROM documents),
         | b AS (SELECT doc_id, lang, ($hexPrefixSql) % 5 AS fold FROM h),
         | c AS (SELECT fold, lang, count(*) AS n_docs FROM b GROUP BY fold, lang),
         | lt AS (SELECT lang, count(*) AS lang_total FROM documents GROUP BY lang)
         | SELECT c.fold, c.lang, c.n_docs, lt.lang_total,
         |   round(c.n_docs * 5 * 1.0 / lt.lang_total, 4) AS ratio
         | FROM c JOIN lt ON lt.lang = c.lang
         | ORDER BY c.fold, c.lang""".stripMargin),

    // the end-to-end training manifest: cleaning verdicts + near-dup
    // keeper decisions folded into one per-doc include/exclude row —
    // the materialized artifact a training run actually consumes
    QuerySpec("corpus_manifest", (s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.simhashNearDupsCached(dd, d, 3)
        .select("doc_a", "doc_b")
      Corpus.manifest(dd, pairs, minWords = 30)
    },
      // manifest = the clean chain (uninjected) × the cluster-keeper
      // chain, one row per doc
      s"""$manifestCoreCte
         | SELECT doc_id, keep, is_keeper, include, manifest_reasons
         | FROM mrow ORDER BY doc_id""".stripMargin),
    // the manifest with the suffix-span scrub chained in: one row per
    // doc with include/exclude + merged reasons (span_scrubbed when
    // the scrub touched it) + the cleaned text — the complete
    // artifact a training run ships; shares the cached simhash pairs
    // AND the cached mined suffix hits
    QuerySpec("corpus_manifest_scrubbed", (s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.simhashNearDupsCached(dd, d, 3)
        .select("doc_a", "doc_b")
      Corpus.manifestScrubbed(dd, pairs, minWords = 30, corpusKey = Some(d))
    },
      // manifest + the suffix-span scrub: the scrub chain (shared CTE
      // text with dedup_suffix_scrub) joins the manifest row PK-wise;
      // span_scrubbed appends to the reasons without affecting include
      s"""$manifestScrubbedCte
         | SELECT doc_id, keep, is_keeper, include, manifest_reasons,
         |   n_words, n_removed, cleaned_text
         | FROM mscrub ORDER BY doc_id""".stripMargin),
    // the staged funnel over the same chains: first-drop attribution
    // per stage (too_short → repetitive → exact_dup → near_dup →
    // low_quality), quality threshold calibrated on the survivors
    QuerySpec("corpus_funnel", (s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.simhashNearDupsCached(dd, d, 3)
        .select("doc_a", "doc_b")
      Corpus.funnel(dd, pairs, minWords = 30, p = 0.7)
    },
      // staged funnel: first-drop attribution over the manifest chain,
      // quality gate calibrated on the include set (the survivors)
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
         | FROM ff, ft ORDER BY stage""".stripMargin),
    // the funnel with the embedding-space stage spliced in: the text
    // survivors' embeddings run semantic near-dup (semdedup at FIXED
    // cell size 64 — cells = ceil(N_survivors/64), the linear-at-scale
    // layout; cos >= 0.4 on this corpus — testdata has no planted
    // twins, so the stage bites on natural within-cell similarity),
    // and only the semantic keepers feed the quality calibration
    QuerySpec("corpus_funnel_embed", (s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.simhashNearDupsCached(dd, d, 3)
        .select("doc_a", "doc_b")
      // flat rung pinned — the survivor-semdedup oracle models only the
      // flat geometry (two-level routing starts at >4096 survivors; see
      // embed_semdedup_sized's comment)
      Corpus.funnelEmbed(dd, pairs, emb(s, d), minWords = 30, p = 0.7,
        tau = 0.4, corpusKey = Some(d), maxFlatCells = Int.MaxValue)
    },
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
         | FROM ff, ft ORDER BY stage""".stripMargin),
    // the curated corpus LABELED: funnelEmbed's semantic keepers get
    // c-TF-IDF topic labels per cell — the two round-14 pieces
    // composed (funnel semantic cells × cluster_topics), sharing the
    // pooled survivor frame and cached quantizer with
    // corpus_funnel_embed
    QuerySpec("corpus_funnel_topics", (s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.simhashNearDupsCached(dd, d, 3)
        .select("doc_a", "doc_b")
      // flat rung pinned to match funnelEmbed's shared cached quantizer
      Corpus.funnelTopics(dd, pairs, emb(s, d), minWords = 30, tau = 0.4,
        corpusKey = Some(d), maxFlatCells = Int.MaxValue)
    },
      // the funnel + the embedding stage: the text survivors' embeddings
      // run the unrolled two-round Lloyd's (k = ceil(sqrt(N_survivors)),
      // init = the k LOWEST surviving vec_ids — rank form, the ids are
      // not dense over a subset) + intra-cell cosine pruning at 0.4; the
      // quality calibration runs on the semantic keepers only
      // funnel keepers labeled: the survivor semdedup chain's KEPT rows
      // (cell retained) feed the cluster_topics c-TF-IDF tail verbatim
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
         | FROM rk2 WHERE rnk <= 5 ORDER BY cell, rnk""".stripMargin),
    // the one-row health report over the same chains (cached — one
    // extra aggregate): include rate, per-reason counts, scrub burden
    QuerySpec("corpus_report", (s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.simhashNearDupsCached(dd, d, 3)
        .select("doc_a", "doc_b")
      Corpus.report(dd, pairs, minWords = 30, corpusKey = Some(d))
    },
      // one-row corpus health report: the aggregate a data-mix owner
      // reads — include rate, per-reason counts, scrub burden
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
         | FROM mscrub""".stripMargin),

    // n-gram decontamination: train = doc_id < 400, eval = the rest
    // plus 10 planted copies of train docs (vec 10000+) that must flag
    // at ratio 1.0
    QuerySpec("contamination_check", (s, d) => {
      val (train, eval) = trainEvalSplit(s, d)
      Dedup.contamination(train, eval, 8)
    },
      contaminationOracle),
    // the 100 TB shape of the same check: eval grams build a driver-side
    // bloom filter, the train side is probed inside its narrow scan, the
    // exact semi-join removes false positives — output row-identical to
    // contamination_check, proven by sharing its oracle SQL
    QuerySpec("contamination_bloom", (s, d) => {
      val (train, eval) = trainEvalSplit(s, d)
      Dedup.contaminationBloom(train, eval, 8)
    },
      // the bloom pre-filter is recall-preserving and verified by an exact
      // join, so the 100 TB path must reproduce the naive oracle verbatim
      contaminationOracle),

    // GPT-style sequence packing: concatenate docs in doc_id order, cut
    // fixed 2048-token packs; chunked two-phase prefix sum (chunk = 100
    // ids) so the total-order cumsum never runs on one partition
    QuerySpec("pack_sequences", (s, d) =>
      Packing.packSequences(docs(s, d),
        size(split(col("text"), " ")).cast("long"), 2048L, chunkSize = 100L),
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
        | FROM c ORDER BY doc_id""".stripMargin),

    // ---- deterministic sampling / splits (content-hash keyed)
    QuerySpec("sample_split", (s, d) =>
      Sampling.withSplit(docs(s, d).select("doc_id", "text"), col("text"), 90, 5)
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id"),
      s"""WITH h AS (SELECT doc_id, md5(text) AS m FROM documents),
         | b AS (SELECT doc_id, ($hexPrefixSql) % 100 AS bucket FROM h)
         | SELECT doc_id, bucket,
         |   CASE WHEN bucket < 90 THEN 'train'
         |        WHEN bucket < 95 THEN 'val'
         |        ELSE 'test' END AS split
         | FROM b ORDER BY doc_id""".stripMargin),
    // deterministic global shuffle into 16 trainer shards: content-hash
    // shard + hash-order position — a reproducible global permutation
    // with no RNG (the "shuffle the corpus once" training stage)
    QuerySpec("shuffle_shards", (s, d) =>
      Sampling.shuffleShards(docs(s, d).select("doc_id", "text"),
          col("text"), col("doc_id"), 16)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id"),
      s"""WITH h AS (SELECT doc_id, md5(text) AS m FROM documents),
         | b AS (SELECT doc_id, m, ($hexPrefixSql) % 16 AS shard FROM h)
         | SELECT doc_id, shard,
         |   CAST(row_number() OVER (PARTITION BY shard ORDER BY m, doc_id) AS BIGINT) - 1 AS pos
         | FROM b ORDER BY doc_id""".stripMargin),
    QuerySpec("lang_quota", (s, d) => {
      val scored = TextOps.qualityScore(docs(s, d)).select("doc_id", "quality_score")
      val j = docs(s, d).select("doc_id", "lang").join(scored, "doc_id")
      Sampling.quotaPerGroup(j, col("lang"), col("quality_score"), col("doc_id"), 20)
        .select("doc_id", "lang", "quality_score", "rn")
        .orderBy("lang", "rn")
    },
      s"""WITH q AS ($textQualityOracle),
         | j AS (SELECT d.doc_id, d.lang, q.quality_score
         |       FROM documents d JOIN q ON d.doc_id = q.doc_id),
         | rk AS (SELECT doc_id, lang, quality_score,
         |   row_number() OVER (PARTITION BY lang ORDER BY quality_score DESC, doc_id) AS rn
         |   FROM j)
         | SELECT doc_id, lang, quality_score, rn FROM rk WHERE rn <= 20
         | ORDER BY lang, rn""".stripMargin),
    // data-mixing: per language, best-quality docs first until a 5k
    // token budget — the budget-crossing doc is kept (loader truncates)
    QuerySpec("lang_token_budget", (s, d) => {
      val scored = TextOps.qualityScore(docs(s, d)).select("doc_id", "quality_score")
      val base = docs(s, d).select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("tokens"))
        .join(scored, "doc_id")
      Sampling.tokenBudgetPerGroup(base, col("lang"), col("quality_score"),
          col("doc_id"), col("tokens"), 5000L)
        .select("doc_id", "lang", "quality_score", "tokens", "cum_tokens")
        .orderBy("lang", "doc_id")
    },
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
         | FROM c WHERE cum_tokens - tokens < 5000 ORDER BY lang, doc_id""".stripMargin),
    // temperature-scaled (τ=1/2) source sampling weights for data mixing
    QuerySpec("source_mix_weights", (s, d) => Corpus.sourceMixWeights(docs(s, d)),
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
        | FROM q, tot ORDER BY source""".stripMargin),
    // the step after the weights: integer per-source token quotas that
    // sum EXACTLY to the budget — largest-remainder apportionment on
    // exact integer weights (6dp sqrt-token carrier x 10^6), remainder
    // ranking on exact integer numerators, never a double near the
    // plus-minus-one boundary
    QuerySpec("mix_allocation", (s, d) =>
      Corpus.mixAllocation(docs(s, d), 1000000L),
      // √-token weights: sqrt is IEEE-exact in both engines; the 6dp
      // DECIMAL carrier makes the denominator sum fold-order free; boost
      // repeats the two rounded ratios verbatim
      // largest-remainder apportionment on exact integers: num = budget*s
      // in HUGEINT, base = num // stot, remainder ranking on the integer
      // numerators (same denominator => same order as the fractions)
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
        | FROM tt ORDER BY source""".stripMargin),
    // the quotas EMITTED: full epochs replicate every doc, the partial
    // epoch takes an md5-ordered prefix with the boundary doc truncated
    // so the grand total is exactly the budget; the prefix sum runs as
    // a two-pass distributed scan over 256 md5 buckets, never a
    // per-source corpus window
    QuerySpec("mix_materialize", (s, d) =>
      Corpus.mixMaterialize(docs(s, d), 1000000L),
      // the apportionment EMITTED: full epochs via a lateral range, the
      // partial epoch via an md5-ordered running sum with the boundary
      // doc truncated (LEAST) so per-source output is exactly the quota
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
        | FROM un GROUP BY source, epoch ORDER BY source, epoch""".stripMargin),
    // the mix pipeline END TO END: the budget-exact instance stream
    // shuffled into 8 content-hash trainer shards and packed into
    // 2048-token sequences per shard — materialize → shard → pack, the
    // training-data path composed from the three green pieces; Σ
    // toks_out = budget survives both stages (spec-pinned)
    QuerySpec("mix_pack_shard", (s, d) =>
      Corpus.mixPackShard(docs(s, d), 1000000L, 2048L, 8),
      // materialize → shard → pack: the doc-level emission (fe/pe with
      // doc_id kept), instance-keyed md5 shard + position, per-shard
      // running-sum pack layout at capacity 2048; tok_offset is CAST
      // back to BIGINT (DuckDB window sums widen to HUGEINT)
      s"""$mixPackCtes
        | SELECT shard, CAST(pos AS BIGINT) AS pos, doc_id, epoch, source,
        |   toks_out, tok_offset,
        |   tok_offset // 2048 AS pack_id, tok_offset % 2048 AS pack_pos,
        |   (tok_offset % 2048) + toks_out > 2048 AS straddles
        | FROM pk ORDER BY shard, pos""".stripMargin),
    // token-level packing: instances split at every 2048-token pack
    // boundary, so each pack is exactly `capacity` tokens except the
    // shard's final partial pack — the fixed-length trainer layout
    QuerySpec("mix_pack_split", (s, d) =>
      Corpus.mixPackShard(docs(s, d), 1000000L, 2048L, 8,
        splitAtBoundary = true),
      // token-level packing: the pk chain's instances split at every
      // 2048-token pack boundary — one row per (instance, pack)
      // intersection via a per-row range explode — so each pack sums to
      // exactly `capacity` except the shard's final partial pack
      // (PackingSpec pins the invariant; this oracle pins the rows)
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
        | ORDER BY shard, pos, seg_index""".stripMargin),
    // DSIR importance weights toward the src0 "target domain"
    QuerySpec("dsir_weights", (s, d) => Sampling.dsirWeights(docs(s, d), "src0"),
      // DSIR: bucket counts are exact ints; each bucket's log-ratio
      // (fixed tree, α=½, αB=4096) rounds to an 8dp DECIMAL carrier so
      // the per-doc sum is fold-order free
      s"""$dsirCoreCte
         | SELECT d.doc_id, s.source, n_tokens, dsir_logw
         | FROM d JOIN (SELECT doc_id, source FROM documents) s ON d.doc_id = s.doc_id
         | ORDER BY d.doc_id""".stripMargin),
    // the DSIR→sampler composition: importance log-weights feed the ES
    // sampler in LOG space (Gumbel identity — no exp, no overflow, no
    // cross-engine exp ulp risk); the 50 docs most src0-like under
    // importance sampling, reproducibly
    QuerySpec("sample_dsir_weighted", (s, d) => {
      val dw = Sampling.dsirWeights(docs(s, d), "src0")
        .select("doc_id", "dsir_logw")
      val dd = docs(s, d).select("doc_id", "text").join(dw, "doc_id")
      Sampling.weightedSampleLogW(dd, col("dsir_logw"), 50)
    },
      // DSIR log-weights fed straight into the ES sampler in LOG space:
      // rank ln(−ln u) − lw ascending (≡ u^(1/exp(lw)) descending, the
      // Gumbel identity) — no exp() anywhere, so arbitrary-magnitude
      // importance weights sample without overflow or cross-engine
      // last-ulp risk
      s"""$dsirCoreCte,
         | m2 AS (SELECT doc_id, md5(text) AS m FROM documents),
         | u2 AS (SELECT doc_id,
         |         (($minhashBaseSql) % ${Dedup.minhashP} + 1.0) / ${Dedup.minhashP + 1}.0 AS u
         |       FROM m2),
         | k2 AS (SELECT d.doc_id, d.dsir_logw AS lw,
         |         round(ln(-ln(u)) - d.dsir_logw, 8) AS es_key
         |       FROM d JOIN u2 USING (doc_id))
         | SELECT doc_id, lw, es_key FROM k2
         | ORDER BY es_key, doc_id LIMIT 50""".stripMargin),
    // Efraimidis-Spirakis weighted sampling without replacement, token
    // count as the weight (sampling proportional to size) — the step
    // that turns importance weights into an actual sampled corpus;
    // content-hash uniforms, so the draw is reproducible
    QuerySpec("sample_weighted_tokens", (s, d) =>
      Sampling.weightedSample(docs(s, d), size(split(col("text"), " ")), 50),
      // ES weighted sample: content-hash uniform -> ln(u)/w key, rounded
      // 8dp before the rank with doc_id tiebreak (ordering never touches
      // a raw computed float)
      s"""WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS w,
         |             md5(text) AS m FROM documents),
         | u AS (SELECT doc_id, w,
         |         (($minhashBaseSql) % ${Dedup.minhashP} + 1.0) / ${Dedup.minhashP + 1}.0 AS u
         |       FROM t WHERE w > 0),
         | k AS (SELECT doc_id, w, round(ln(u) / w, 8) AS es_key FROM u)
         | SELECT doc_id, w, es_key FROM k
         | ORDER BY es_key DESC, doc_id LIMIT 50""".stripMargin),
    // packing-quality gate over the 2048-token stream packs
    QuerySpec("packing_efficiency", (s, d) =>
      Packing.packSequences(docs(s, d),
          size(split(col("text"), " ")).cast("long"), 2048L, chunkSize = 100L)
        .agg(
          count(lit(1)).as("n_docs"),
          sum("tokens").as("total_tokens"),
          (max("pack_id") + 1).as("n_packs"),
          sum(when(col("straddles"), 1L).otherwise(0L)).as("n_straddles"))
        .withColumn("straddle_frac", round(col("n_straddles") / col("n_docs"), 6))
        .withColumn("tail_waste",
          col("n_packs") * lit(2048L) - col("total_tokens")),
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
        | FROM agg""".stripMargin))
}
