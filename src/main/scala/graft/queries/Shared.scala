package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Fixtures and oracle SQL fragments that more than one query family uses. */
private[queries] object Shared {

  def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** Land a replay drop as one parquet file with a PINNED modification
    * time (base + k minutes): the file stream source orders files by
    * mtime, and a sequential-semantics replay (the ingest loop) needs
    * drop k processed strictly before drop k+1 — unlike the
    * order-invariant append/CDC replays, where ties are harmless.
    */
  def writeOrderedDrop(df: DataFrame, path: String, k: Int): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(path)
    new java.io.File(path).listFiles().foreach { f =>
      // mtime IS the file source's ordering key — a filesystem that
      // rejects the update would reorder the replay silently; fail
      // loudly instead
      require(f.setLastModified(1700000000000L + k * 60000L),
        s"writeOrderedDrop: setLastModified failed for $f")
    }
  }

  /** SimHash signature CTE chain ending in sig(doc_id, simhash) —
    * mirrors Dedup.simhash.
    */
  val simhashSigSql: String =
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
  lazy val suffixHitsCte: String =
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

  /** BM25 chain up through the ranked list `rk` — shared by the plain
    * top-k query and the RRF hybrid fusion.
    */
  lazy val bm25Cte: String =
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

  /** CMS depth-row bucket h_d(x) = ((a_d·x + b_d) mod P) mod 4096 from
    * one shared base hash — mirrors Sketch.depthBuckets (same minhash
    * (a, b) constants, same Mersenne P).
    */
  lazy val cmsBucketCaseSql: String =
    "CASE d " + Dedup.minhashParams.take(4).zipWithIndex.map { case ((a, b), i) =>
      s"WHEN '$i' THEN (($a * x + $b) % ${Dedup.minhashP}) % 4096"
    }.mkString(" ") + " END"

  /** 8-char ascii polynomial over an md5 hex digest `m` — mirrors
    * Dedup.shingleBase.
    */
  val minhashBaseSql: String =
    (1 to 8).map(i =>
      s"CAST(ascii(substr(m, $i, 1)) AS BIGINT) * ${math.pow(128, 8 - i).toLong}")
      .mkString(" + ")

  /** Exact integer value of the first 8 hex nibbles of an md5 digest
    * `m` — mirrors Similarity.hexBucket (uniform for power-of-two
    * moduli, unlike the ascii polynomial whose low-order support is
    * sparse there); the winnowing fingerprint's hex-parse pattern.
    */
  val hexPrefixSql: String =
    (1 to 8).map(i =>
      s"(CAST(ascii(substr(m, $i, 1)) AS BIGINT) - CASE WHEN ascii(substr(m, $i, 1)) >= 97 THEN 87 ELSE 48 END) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")

  /** SimHash near-dup pair CTE chain (… → sig → chunks → cand → dists)
    * shared by dedup_simhash_pairs and dedup_clusters.
    */
  lazy val simhashPairsCte: String =
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
  val simhashDistSql: String =
    """
      |   SELECT doc_a, doc_b,
      |     CAST(list_sum(list_transform(range(1, 65), i ->
      |       CASE WHEN substr(sa.simhash, CAST(i AS INT), 1) <> substr(sb.simhash, CAST(i AS INT), 1)
      |            THEN 1 ELSE 0 END)) AS INT) AS dist
      |   FROM cand
      |   JOIN sig sa ON sa.doc_id = doc_a
      |   JOIN sig sb ON sb.doc_id = doc_b""".stripMargin

  /** The text_quality_score oracle body (reused by lang_quota). */
  lazy val textQualityOracle: String = {
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

  /** The codes-only prefix of [[sq8Cte]] (m, c, n) — composable with
    * other CTE chains (the IVF-SQ8 oracle appends it to the k-means
    * chain).
    */
  lazy val sq8CodesBody: String =
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

  /** The composed IVF × SQ8 chain (coarse probes at nprobe=2, int8
    * scoring of probed candidates) — shared VERBATIM by
    * `embed_ivf_sq8_topk` (in-memory, cached quantizer) and
    * `embed_ivf_sq8_stored_search` (the same search served from the
    * persisted int8 layout): one quantization scheme, one training,
    * one scoring tree, so the two engines' row sets must coincide.
    */
  lazy val ivfSq8TopKOracle: String =
    s"""$kmeansCte,
      | $sq8CodesBody,
      | $ivfSq8SearchTail""".stripMargin

  /** The probe/scoring tail of [[ivfSq8TopKOracle]] (nprobe=2 cell
    * probes off d2, int8 scoring of the probed candidates off n/a2) —
    * factored out so the SAME search tree can sit on either Lloyd's
    * regime: the full-corpus [[kmeansCte]] (in-memory + stored SQ8) or
    * the base-400-trained [[kmeansBaseTrainedCte]] (the streaming
    * maintain replay, where appends score against frozen centroids).
    */
  lazy val ivfSq8SearchTail: String =
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

  /** The deterministic-Lloyd's CTE chain (e … a2) over `src`, shared by
    * every oracle that needs the k-means assignment; `src` must expose
    * (vec_id, embedding).
    */
  def kmeansBody(src: String, k: String = "8"): String =
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

  /** Two unrolled Lloyd's rounds in DuckDB (mirrors
    * Similarity.kmeansAssign with k=8, iters=2): c0 = first 8 vectors,
    * a1 = argmin over c0, c1 = rounded per-cell means, a2 = final
    * assignment with rounded squared distances.
    */
  val kmeansCte: String = s"WITH ${kmeansBody("embeddings")}"

  /** The nprobe ∈ {1,2,4} recall curve vs the brute-force top-3 ground
    * truth — shared VERBATIM by `embed_probe_recall_curve` (in-memory
    * multiprobe) and `embed_stored_recall_curve` (the same curve served
    * from the persisted index): the two engines' curves must coincide
    * row-for-row because stored-path search at nprobe=n is
    * result-identical to the in-memory multiprobe (SinkSpec).
    */
  lazy val probeRecallCurveOracle: String =
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
  lazy val rrfIvfOracle: String =
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

  /** Per-subspace PQ training mirror: the [[kmeansBody]] chain over
    * `list_slice(embedding, lo, hi)` with suffix `_<sub>`, plus the
    * per-query ADC lookup table against the trained (round-2) centroids.
    */
  def pqSubBody(sub: Int, k: Int, subDim: Int, nQ: Int): String = {
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
}
