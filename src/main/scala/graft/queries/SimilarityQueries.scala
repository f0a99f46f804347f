package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** In-memory similarity search over `embeddings`: exact and bucketed
  * top-k, PCA/ABTT, k-means and IVF, SQ8/PQ/binary/MRL codes, semantic
  * dedup, and BM25/RRF retrieval.
  */
object SimilarityQueries {

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

  /** SQ8 quantized-cosine CTE chain (mirrors Similarity.sq8TopK): int8
    * max-abs codes, exact integer inner sums (dot and both squared
    * norms), one double div/sqrt tree rounded 4dp (+0.0 normalizes any
    * -0.0), ranked per query with a vec_id tiebreak.
    */
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

  /** [[kmeansBody]] in the SAMPLED-training regime (mirrors
    * Similarity.trainSample + kmeansCentroids with a biting cap):
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

  val specs: Seq[QuerySpec] = Seq(
    // embedding-quality probe: nearest-centroid label accuracy
    QuerySpec("embed_centroid_accuracy", (s, d) =>
      Similarity.centroidClassify(emb(s, d)),
      // centroid classifier: rounded-6 centroid means (the
      // embed_label_centroids construction), cosine argmax per vector
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
        | FROM best GROUP BY label ORDER BY label""".stripMargin),
    // the ANN tuning artifact: recall@3 vs brute force at nprobe
    // 1/2/4 — the curve an operator reads before picking probe count
    QuerySpec("embed_probe_recall_curve", (s, d) => {
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
    },
      // recall curve: the multiprobe chain per nprobe ∈ {1,2,4} vs the
      // brute-force top-3 ground truth
      probeRecallCurveOracle),
    // ANN index observability: IVF cell population balance (imbalance
    // = cell size / mean cell size) off the cached quantizer
    QuerySpec("embed_ivf_cell_stats", (s, d) => {
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
    },
      // IVF cell balance off the trained assignment
      s"""$kmeansCte,
         | sizes AS (SELECT cell, count(*) AS n_vectors FROM a2 GROUP BY cell),
         | tot AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS n_total,
         |           count(*) AS n_cells FROM sizes)
         | SELECT cell, n_vectors,
         |   round(n_vectors * 1.0 / n_total, 4) AS share,
         |   round(n_vectors * n_cells * 1.0 / n_total, 4) AS imbalance
         | FROM sizes, tot ORDER BY cell""".stripMargin),

    // ---- similarity search
    QuerySpec("embed_cosine_topk", (s, d) => Similarity.bruteForceTopK(emb(s, d), 10, 5),
      embedTopkOracle(nQueries = 10, k = 5, bucketed = false)),
    // hard-negative mining: top-5 most-similar DIFFERENT-label vectors
    // per query — the contrastive-training data op
    QuerySpec("embed_hard_negatives", (s, d) => Similarity.hardNegatives(emb(s, d), 10, 5),
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
        | FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin),
    // principal direction by two in-plan power-iteration steps over the
    // centered scatter matrix (one outer-product hash aggregate)
    QuerySpec("embed_pca_power", (s, d) => Similarity.pcaPowerTop(emb(s, d)),
      // power iteration unrolled: scatter cells → centered covariance →
      // two matvec+normalize rounds, every carrier mirrored (8dp DECIMAL
      // products, 10dp matvec terms, "+ 0.0" signed-zero guard)
      s"""$pcaChainSql
         | SELECT v2.j AS dim, v2.vj AS loading,
         |   (SELECT eigenvalue FROM lam) AS eigenvalue
         | FROM v2 ORDER BY dim""".stripMargin),
    // all-but-the-top post-processing: center + remove the dominant
    // direction per vector; pre/post norms + removed energy fraction
    QuerySpec("embed_abtt", (s, d) => Similarity.abttPostProcess(emb(s, d)),
      // ABTT: center + remove the dominant-direction projection; the
      // per-vector dot/norm fold 8dp DECIMAL terms of arbitrary doubles
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
         | FROM agg ORDER BY vec_id""".stripMargin),
    QuerySpec("embed_topk_bucketed", (s, d) => Similarity.bucketedTopK(emb(s, d), 10, 3),
      embedTopkOracle(nQueries = 10, k = 3, bucketed = true)),
    // real IVF: deterministic Lloyd's k-means coarse quantizer (fixed
    // init from the first k vec_ids, 2 rounds, rounded distances) and
    // cell-restricted search. Both go through the per-session centroid
    // cache keyed by the table dir — train once, search many.
    QuerySpec("embed_kmeans_cells", (s, d) =>
      Similarity.kmeansAssignCached(emb(s, d), 8, 2, d).orderBy("vec_id"),
      s"$kmeansCte SELECT vec_id, cell, d FROM a2 ORDER BY vec_id"),
    QuerySpec("embed_ivf_topk", (s, d) =>
      Similarity.ivfTopK(emb(s, d), 10, 3, 8, 2, corpusKey = Some(d)),
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
         | ORDER BY qid, rnk""".stripMargin),
    // multi-probe IVF: each query searches its 2 nearest cells — the
    // recall knob; `pn` attributes each hit to its probe
    QuerySpec("embed_ivf_multiprobe", (s, d) =>
      Similarity.ivfMultiProbeTopK(emb(s, d), 10, 3, 8, 2, 2, corpusKey = Some(d)),
      // multi-probe: probe cells = top-2 by the SAME rounded L2 (d2) the
      // assignment used; candidates join a2 on cell
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
         | FROM r WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin),
    // the SAMPLED-trainer regime, verified at a cap that BITES (64 of
    // the 500 verify-scale vectors): Lloyd's trains on the
    // content-hash sample, the full corpus assigns ONCE against the
    // trained centroids — the production path every index build runs
    // above the 65536-row default cap (training cost stops scaling
    // with the corpus; the ×100 probe: 167 s full → sampled is flat).
    // The oracle mirrors the hash filter, the lowest-k-of-sample init,
    // and both unrolled rounds. The two queries share one cached
    // training (same corpusKey, same sampleRows key component).
    QuerySpec("embed_kmeans_sampled", (s, d) =>
      Similarity.kmeansAssignCached(emb(s, d), 8, 2, d, sampleRows = 64)
        .orderBy("vec_id"),
      s"$kmeansSampledCte SELECT vec_id, cell, d FROM a2 ORDER BY vec_id"),
    QuerySpec("embed_ivf_sampled_topk", (s, d) =>
      Similarity.ivfTopK(emb(s, d), 10, 3, 8, 2, corpusKey = Some(d),
        sampleRows = 64),
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
         | ORDER BY qid, rnk""".stripMargin),
    // the sampled trainer's acceptance gate: recall@3 of the
    // sampled-trained IVF against the brute-force ground truth — the
    // number that says how much recall the capped training gave up
    QuerySpec("embed_sampled_recall", (s, d) => {
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
    },
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
         | GROUP BY bk.qid ORDER BY bk.qid""".stripMargin),
    QuerySpec("embed_quantize", (s, d) => Similarity.quantizeInt8(emb(s, d)),
      """WITH m AS (SELECT vec_id, embedding,
        |     list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS max_abs
        |   FROM embeddings)
        | SELECT vec_id, max_abs,
        |   array_to_string(list_transform(embedding, x ->
        |     CAST(CAST(CASE WHEN max_abs = 0 THEN 0
        |                    ELSE floor(CAST(x AS DOUBLE) / max_abs * 127 + 0.5) END AS INT) AS VARCHAR)), ',') AS q_csv
        | FROM m ORDER BY vec_id""".stripMargin),
    // SQ8 serving tier: quantized-cosine top-k over int8 codes (exact
    // integer inner sums, one IEEE division), and its recall gate vs
    // the exact-cosine ground truth
    QuerySpec("embed_sq8_topk", (s, d) => Similarity.sq8TopK(emb(s, d)),
      s"$sq8Cte $sq8RankSelect"),
    QuerySpec("embed_sq8_recall", (s, d) => Similarity.sq8Recall(emb(s, d)),
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
        | FROM topk t LEFT JOIN bf ON bf.qid = t.qid AND bf.vec_id = t.vec_id""".stripMargin),
    // SQ8 shortlist + exact float rerank: int8 proposes, full precision
    // answers — the two-stage shape every compressed tier ends in
    QuerySpec("embed_sq8_rerank", (s, d) => Similarity.sq8RerankTopK(emb(s, d)),
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
        | FROM rr WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin),
    // the composed tier: IVF coarse pruning x SQ8 int8 scoring
    // (nprobe buys recall, SQ8 cuts scanned bytes) — cached training
    QuerySpec("embed_ivf_sq8_topk", (s, d) =>
      Similarity.ivfSq8TopK(emb(s, d), 10, 3, 8, 2, 2, corpusKey = Some(d)),
      ivfSq8TopKOracle),
    // diversity-preserving downsampling: cap every k-means cell at 10
    // vectors picked by content-keyed md5 order (trained quantizer
    // shared through the session cache)
    QuerySpec("sample_cluster_balanced", (s, d) =>
      Similarity.clusterBalancedSample(emb(s, d), 8, 2, 10, corpusKey = Some(d)),
      s"""$kmeansCte,
        | pk AS (SELECT cell, vec_id,
        |     row_number() OVER (PARTITION BY cell
        |       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS pick
        |   FROM a2)
        | SELECT cell, CAST(pick AS INTEGER) AS pick, vec_id
        | FROM pk WHERE pick <= 10 ORDER BY cell, pick""".stripMargin),
    // the trainer-free composition: the same diversity-capped sampling
    // over FEATURE-HASHED doc vectors (densified hashing-trick
    // histograms) — cluster-balanced capping for a corpus with no
    // trained encoder at all
    QuerySpec("sample_cluster_hashed", (s, d) =>
      Similarity.clusterBalancedSample(
        TextOps.hashedDenseVectors(docs(s, d)), 8, 2, 10,
        corpusKey = Some(d + "#hashed-dense")),
      // hashed-vector twin: densify the hashing-trick histograms to
      // float[64] (exact integer counts — the float/double casts are
      // exact), then the same unrolled Lloyd's + md5 pick order
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
        | FROM pk WHERE pick <= 10 ORDER BY cell, pick""".stripMargin),
    // c-TF-IDF topic labels per embedding cluster (BERTopic's
    // class-based tf-idf): what each k-means cell is ABOUT — the
    // readable readout over every cluster-shaped operator (semdedup
    // cells, balanced sampling, IVF cells); trained quantizer shared
    // through the session cache
    QuerySpec("cluster_topics", (s, d) =>
      Corpus.clusterTopics(docs(s, d), emb(s, d), 8, 2, 5,
        corpusKey = Some(d)),
      // c-TF-IDF topic labels: the kmeans cells + class-based tf-idf —
      // tf · ln((nc·f + tot)/(nc·f)) with the ln argument a single exact
      // integer ratio, 6dp-rounded BEFORE the tf multiply, term tiebreak
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
        | FROM rk2 WHERE rnk <= 5 ORDER BY cell, rnk""".stripMargin),
    // embedding QA before indexing: NaN/Inf counts, zero vectors,
    // MAD-rule magnitude outliers (median-based — robust to a batch of
    // broken near-zero vectors)
    QuerySpec("embed_norm_quality", (s, d) => Similarity.normQuality(emb(s, d)),
      // embedding QA: rounded-6dp norms, quantile_cont medians (the
      // percentile/quantile_cont interpolation identity), MAD rule on
      // the raw interpolated medians
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
        | FROM ad, mm ORDER BY vec_id""".stripMargin),
    // 1-bit sign signatures + Hamming top-k (codegen'd HammingDistance)
    QuerySpec("embed_binary_topk", (s, d) => Similarity.binaryTopK(emb(s, d)),
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
        | SELECT qid, rnk, vec_id, hd FROM rk WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin),
    // per-label mean-pooled centroids, long format (label, dim, mean)
    QuerySpec("embed_label_centroids", (s, d) => Similarity.groupCentroids(emb(s, d)),
      """SELECT label, CAST(i - 1 AS INT) AS i,
        |   round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m,
        |   count(*) AS n_vectors
        | FROM embeddings, UNNEST(range(1, 65)) AS t(i)
        | GROUP BY label, i ORDER BY label, i""".stripMargin),
    // the ANN quality gate: recall@3 of the IVF search against the
    // brute-force ground truth, per query — the measurement that
    // decides whether a cell count / nprobe setting is shippable
    QuerySpec("embed_ivf_recall", (s, d) => {
      val bf = Similarity.bruteForceTopK(emb(s, d), 10, 3)
        .select(col("qid"), col("vec_id"))
      val iv = Similarity.ivfTopK(emb(s, d), 10, 3, 8, 2, corpusKey = Some(d))
        .select(col("qid"), col("vec_id")).withColumn("__hit", lit(1))
      bf.join(iv, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("hits"))
        .withColumn("recall_at_3", round(col("hits") / lit(3.0), 4))
        .orderBy("qid")
    },
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
         | GROUP BY bk.qid ORDER BY bk.qid""".stripMargin),
    // product quantization (Jégou et al. 2011): 4 subspaces × 16 dims,
    // 8 codes each via the same deterministic Lloyd's as the IVF
    // quantizer; the ADC search joins int codes against a broadcast
    // per-query lookup table — embeddings never shuffle
    QuerySpec("embed_pq_codes", (s, d) =>
      Similarity.pqCodes(emb(s, d), 4, 16, 8, 2, corpusKey = Some(d + "#pq")),
      s"$pqCte SELECT sub, vec_id, code, d FROM codes ORDER BY sub, vec_id"),
    QuerySpec("embed_pq_topk", (s, d) =>
      Similarity.pqAdcTopK(emb(s, d), 10, 3, 4, 16, 8, 2, corpusKey = Some(d + "#pq")),
      s"""$pqCte
         | SELECT qid, rnk, vec_id, CAST(adist AS DOUBLE) AS adc_dist
         | FROM rk WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin),
    // the PQ quality gate: recall@3 of the ADC search against the
    // exact squared-L2 ground truth. The synthetic gaussian corpus is
    // PQ's worst case (no cluster structure, so quantization error
    // swamps the tiny neighbor gaps): ~0.2 here across m/k settings —
    // the gate exists to MEASURE that honestly, as with embed_ivf_recall
    QuerySpec("embed_pq_recall", (s, d) => {
      val bf = Similarity.l2TopK(emb(s, d), 10, 3).select(col("qid"), col("vec_id"))
      val pq = Similarity.pqAdcTopK(emb(s, d), 10, 3, 4, 16, 8, 2,
          corpusKey = Some(d + "#pq"))
        .select(col("qid"), col("vec_id")).withColumn("__hit", lit(1))
      bf.join(pq, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("hits"))
        .withColumn("recall_at_3", round(col("hits") / lit(3.0), 4))
        .orderBy("qid")
    },
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
         | GROUP BY bk.qid ORDER BY bk.qid""".stripMargin),
    // two-stage retrieval: PQ candidates re-ranked by exact cosine
    QuerySpec("embed_pq_rerank", (s, d) =>
      Similarity.pqRerankTopK(emb(s, d), 10, 3, 10, 4, 16, 8, 2,
        corpusKey = Some(d + "#pq")),
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
         | SELECT qid, rnk, vec_id, cos FROM rr2 WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin),
    // Matryoshka truncated-prefix retrieval (first 16 of 64 dims) and
    // its recall gate against the full-dimension ground truth
    QuerySpec("embed_mrl_topk", (s, d) => Similarity.prefixTopK(emb(s, d), 10, 3, 16),
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
        | SELECT qid, rnk, vec_id, cos FROM r WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin),
    QuerySpec("embed_mrl_recall", (s, d) => {
      val full = Similarity.bruteForceTopK(emb(s, d), 10, 3)
        .select(col("qid"), col("vec_id"))
      val pre = Similarity.prefixTopK(emb(s, d), 10, 3, 16)
        .select(col("qid"), col("vec_id")).withColumn("__hit", lit(1))
      full.join(pre, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("hits"))
        .withColumn("recall_at_3", round(col("hits") / lit(3.0), 4))
        .orderBy("qid")
    },
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
        | GROUP BY fk.qid ORDER BY fk.qid""".stripMargin),
    // near-dup pairs via sign-bit LSH banding. The testdata corpus has
    // no natural near-dups (max pairwise cosine 0.51 at sf0.01), so the
    // corpus unions deterministic perturbed twins (x·1.05 + 0.001,
    // vec_id+1000) of the first 50 vectors — the banding must recover
    // exactly those 50 pairs at cos ≥ 0.99.
    QuerySpec("embed_neardup_pairs", (s, d) =>
      Similarity.nearDupPairs(perturbedCorpus(emb(s, d)), 0.99),
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
        | ORDER BY vec_a, vec_b""".stripMargin),
    // SemDeDup over the same planted-twin corpus: k-means cells, then
    // intra-cell pruning — each twin must be dropped against its
    // (closer-to-centroid, lower-id) original at cos ≥ 0.95
    QuerySpec("embed_semdedup", (s, d) =>
      Similarity.semDedup(perturbedCorpus(emb(s, d)), 0.95, 8, 2,
        corpusKey = Some(d + "#semdedup")),
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
        | ORDER BY r.vec_id""".stripMargin),

    // the scale rung past flat IVF: coarse Lloyd's, independent fine
    // Lloyd's inside each coarse cell, same intra-cell pruning on the
    // composite cell. Hash-checked like everything else: the oracle
    // unrolls BOTH Lloyd's passes in DuckDB (the flat kmeansBody chain
    // at k=4, then the same two rounds per coarse cell) — the
    // recursive-CTE-style precedent set by ema_macd.
    QuerySpec("embed_semdedup_2level", (s, d) =>
      Similarity.semDedupTwoLevel(perturbedCorpus(emb(s, d)), 0.95, 4, 4, 2),
      // two-level SemDeDup: the coarse Lloyd's chain (kmeansBody, k=4) is
      // round-for-round the flat oracle's; the fine pass re-runs the same
      // two unrolled rounds INDEPENDENTLY per coarse cell (f0 init = the 4
      // lowest vec_ids per pcell, fine cell = rank-1 — mirroring
      // Similarity.twoLevelAssign), and the pruning CTEs are verbatim
      // the flat ones over the composite cell pcell*4+fine.
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
        | ORDER BY r.vec_id""".stripMargin),

    // the DEFAULT semantic-dedup entry point: quantizer sized from the
    // corpus (cells = ceil(sqrt(N)), flat at this scale), rung selected
    // by Similarity.semDedupRung. The oracle computes k with the same
    // ceil(sqrt(count(*))) so it tracks testdata row-count changes.
    QuerySpec("embed_semdedup_auto", (s, d) =>
      Similarity.semDedupAuto(perturbedCorpus(emb(s, d)), 0.95, 2,
        corpusKey = Some(d + "#semdedup-auto")),
      // auto rung at verify scale resolves to the flat chain with
      // k = ceil(sqrt(N)) — computed IN SQL so the oracle follows the
      // corpus count exactly as Similarity.semDedupAuto does
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
        | ORDER BY r.vec_id""".stripMargin),

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
    QuerySpec("embed_semdedup_sized", (s, d) =>
      Similarity.semDedupSized(perturbedCorpus(emb(s, d)), 0.95,
        targetCellSize = 64, iters = 2, maxFlatCells = Int.MaxValue,
        corpusKey = Some(d + "#semdedup-sized")),
      // fixed-cell-SIZE semdedup: the flat oracle with k DERIVED from the
      // corpus count (ceil(N/64) — mirrors Similarity.semDedupSized) and
      // the hi-rank skew cap on the pair join's reference side
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
        | ORDER BY r.vec_id""".stripMargin),

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
    QuerySpec("embed_semdedup_sized_twolevel", (s, d) =>
      Similarity.semDedupSized(perturbedCorpus(emb(s, d)), 0.95,
        targetCellSize = 64, iters = 2, maxFlatCells = 4,
        // corpusKey caches the geometry-deriving corpus count across
        // repeat invocations (results are corpusKey-independent)
        corpusKey = Some(d + "#semdedup-sized-2l")),
      // the SIZED layout's two-level rung: the embed_semdedup_2level
      // chain with the geometry DERIVED from the corpus count exactly as
      // Similarity.semDedupSized derives it — cells = ceil(N/64), side =
      // greatest(2, ceil(sqrt(cells))) — coarse kmeansBody at k = side,
      // fine init = the `side` lowest vec_ids per pcell, composite cell
      // = pcell·side + fine, and the sized hiRankCap (4·64 = 256) as
      // a.rk <= 256 on the pair join's reference side
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
        | ORDER BY r.vec_id""".stripMargin),
    // Okapi BM25 lexical retrieval against a fixed query-term bag
    QuerySpec("text_bm25_topk", (s, d) =>
      TextOps.bm25TopK(docs(s, d), Seq("hash", "merge", "scan")),
      // BM25: every float is rounded before reuse; per-term scores sum as
      // exact DECIMAL(18,6) and the ranking orders by that exact sum
      s"""$bm25Cte
        | SELECT rnk, doc_id, n_terms, score FROM rk WHERE rnk <= 20 ORDER BY rnk""".stripMargin),
    // hybrid retrieval: BM25 lexical ranking ⊕ single-query cosine
    // ranking via reciprocal-rank fusion (no score calibration needed)
    QuerySpec("retrieval_rrf_hybrid", (s, d) => {
      val lex = TextOps.bm25TopK(docs(s, d), Seq("hash", "merge", "scan"), 20)
        .select(col("doc_id").as("id"), col("rnk"))
      val sem = Retrieval.cosineRankForQuery(emb(s, d), 0L, 20)
        .select("id", "rnk")
      Retrieval.rrfFuse(lex, sem, 10)
    },
      // RRF hybrid: the BM25 chain and a single-query cosine ranking
      // fused by Σ 1/(60 + rank) — 8dp DECIMAL reciprocals summed exact,
      // ranked on the exact sum with id tiebreak
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
        | FROM fused WHERE rrf_rank <= 10 ORDER BY rrf_rank""".stripMargin),
    // the same fusion with the semantic side served from the IVF
    // index (nprobe=2, cached trained quantizer) instead of the exact
    // corpus scan — the 100 TB serving shape; RetrievalSpec gates its
    // fused overlap against the exact-side fusion
    QuerySpec("retrieval_rrf_ivf", (s, d) => {
      val lex = TextOps.bm25TopK(docs(s, d), Seq("hash", "merge", "scan"), 20)
        .select(col("doc_id").as("id"), col("rnk"))
      val sem = Retrieval.cosineRankForQueryIvf(emb(s, d), 20, 8, 2, 2,
          corpusKey = Some(d))
        .select("id", "rnk")
      Retrieval.rrfFuse(lex, sem, 10)
    },
      // RRF with the semantic side from the IVF index: candidates =
      // query 0's top-2 cells by the trained-centroid distance (d2),
      // ranked by the same 4dp cosine; fusion identical to the exact
      // variant
      rrfIvfOracle))
}
