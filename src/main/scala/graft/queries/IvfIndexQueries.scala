package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** The stored IVF index (flat, SQ8 and PQ codecs): write, append, delete,
  * drift checks, maintenance and their streaming replays, each searched
  * back from the files it left.
  */
object IvfIndexQueries {

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

  /** Train-on-base / assign-everything mirror of the incremental IVF
    * append: Lloyd's (2 iters) runs over vec_id < `baseMax` only —
    * producing the STORED centroids c1 — and a2 then assigns the WHOLE
    * corpus against c1, which is exactly what the stored-index search
    * sees after [[Sink.appendToIvfIndex]] folds the batch in with the
    * stored centroids (no retrain).
    */
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

  val specs: Seq[QuerySpec] = Seq(
    // the SAME recall curve read off the PERSISTED index: build once,
    // serve searchIvfIndex at nprobe 1/2/4 (the serving-time recall
    // knob), score each against brute-force top-3. Shares
    // embed_probe_recall_curve's oracle verbatim — hash-green proves
    // the stored serving path loses nothing vs the in-memory
    // multiprobe at every nprobe. SIDE EFFECT: rewrites the temp
    // index dir per evaluation (idempotent overwrite).
    QuerySpec("embed_stored_recall_curve", (s, d) => {
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
    },
      // the stored-index curve is the SAME oracle verbatim: stored-path
      // search at nprobe=n is result-identical to the in-memory
      // multiprobe at the same nprobe (SinkSpec proves the equivalence),
      // so the two curves must coincide row-for-row
      probeRecallCurveOracle),
    // incremental index maintenance: train+store on the first 400
    // vectors, fold the rest in with the STORED centroids (no
    // retrain), then serve the union from disk — the production
    // append path, end-to-end through the persisted layout.
    // SIDE EFFECT: rewrites the temp index dir per evaluation
    // (overwrite-then-append, so re-runs are idempotent).
    QuerySpec("embed_ivf_append_search", (s, d) => {
      val all = emb(s, d)
      val dir = ivfAppendDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Flat, Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      Sink.appendToIvfIndex(all.filter(col("vec_id") >= 400), dir)
      Sink.searchIvfIndex(s, all, dir, 10, 3)
    },
      // append path: train on base, assign everything with the stored
      // centroids, serve the union — the search tail mirrors
      // embed_ivf_topk over the base-trained a2
      ivfAppendSearchOracle),
    // the DELETE stage of the index lifecycle: tombstoned ids vanish
    // from serving immediately (broadcast anti-join over the id-only
    // tombstone table — a delete never touches the corpus-sized
    // assignment) and the next whole-index rewrite purges them
    // physically. Deleted ids STILL QUERY (the query side is the
    // caller's frame, not the index): qid 3 is tombstoned here and
    // keeps its result rows while never appearing as a neighbor.
    // SIDE EFFECT: rewrites the temp index dir per evaluation.
    QuerySpec("embed_ivf_delete_search", (s, d) => {
      val all = emb(s, d)
      val dir = ivfDeleteDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Flat, Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      Sink.appendToIvfIndex(all.filter(col("vec_id") >= 400), dir)
      Sink.deleteFromIvfIndex(s, dir,
        all.filter(pmod(col("vec_id"), lit(17L)) === 3).select("vec_id"))
      Sink.searchIvfIndex(s, all, dir, 10, 3)
    },
      ivfDeleteSearchOracle),
    // the FAISS-style stored IVF-PQ index: coarse cells partition the
    // layout, PQ codes + raw vectors co-locate in the cell files, and
    // the two serving tiers are two COLUMN PROJECTIONS of the probed
    // partitions — ADC candidates read only the codes ints, the exact
    // rerank decodes embeddings for candidates alone. SIDE EFFECT:
    // rewrites the temp index dir per evaluation (idempotent).
    QuerySpec("embed_ivfpq_stored_search", (s, d) => {
      val all = emb(s, d)
      val dir = ivfPqDir
      Sink.writeIvfIndex(all, dir, Sink.Pq(4, 16, 8), Sink.Cells(8), 2, corpusKey = Some(d))
      Sink.searchIvfPqIndex(s, all, dir, 10, 3, 10)
    },
      ivfPqStoredOracle),
    // incremental maintenance of the compressed tier: train+store the
    // IVF-PQ index on the first 400 vectors, fold the rest in against
    // the STORED centroids AND codebooks (no retrain anywhere), serve
    // the union — the appendToIvfIndex contract extended to PQ codes.
    // SIDE EFFECT: rewrites the temp index dir per evaluation.
    QuerySpec("embed_ivfpq_append_search", (s, d) => {
      val all = emb(s, d)
      val dir = ivfPqAppendDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Pq(4, 16, 8), Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      Sink.appendToIvfIndex(all.filter(col("vec_id") >= 400), dir)
      Sink.searchIvfPqIndex(s, all, dir, 10, 3, 10)
    },
      ivfPqAppendOracle),
    // the delete stage on the COMPRESSED tier: tombstoned ids are
    // masked before ADC candidate ranking (the anti-join sits on the
    // shared assignment scan both serving stages project from), so a
    // dead id can neither serve nor displace a live candidate from the
    // top-`cand` rerank set. SIDE EFFECT: rewrites the temp index dir
    // per evaluation (idempotent — a fresh write clears tombstones).
    QuerySpec("embed_ivfpq_delete_search", (s, d) => {
      val all = emb(s, d)
      val dir = ivfPqDeleteDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Pq(4, 16, 8), Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      Sink.appendToIvfIndex(all.filter(col("vec_id") >= 400), dir)
      Sink.deleteFromIvfIndex(s, dir,
        all.filter(pmod(col("vec_id"), lit(17L)) === 3).select("vec_id"))
      Sink.searchIvfPqIndex(s, all, dir, 10, 3, 10)
    },
      ivfPqDeleteOracle),
    // code-level drift pre-flight for the compressed tier: per
    // (subspace, code), stored vs incoming populations (incoming
    // encoded with the STORED codebooks), smoothed per-subspace PSI,
    // retrain verdict — catches subvector shift the coarse-cell PSI
    // can't see
    QuerySpec("embed_ivfpq_code_drift", (s, d) => {
      val all = emb(s, d)
      val dir = ivfPqDriftDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Pq(4, 16, 8), Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      Sink.ivfPqCodeDrift(s, all.filter(col("vec_id") >= 400), dir)
    },
      ivfPqCodeDriftOracle),
    // drop-at-a-time ingestion into the COMPRESSED tier: three
    // micro-batches fold through appendToIvfIndex (frozen centroids
    // + codebooks). Shares embed_ivfpq_append_search's oracle
    // verbatim — hash-green proves streamed ingestion ≡ one-shot
    // append (codes, like cells, are order-invariant against frozen
    // artifacts). SIDE EFFECT: temp dirs.
    QuerySpec("stream_ivfpq_append_replay", (s, d) => {
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
    },
      // streamed drop-at-a-time PQ ingestion ≡ one-shot append: shares
      // the oracle verbatim (order-invariant against frozen artifacts)
      ivfPqAppendOracle),
    // drift-AWARE maintained PQ ingestion — the compressed tier's
    // control loop: per drop, manifest-geometry maintain decision
    // (coarse + code PSI tripwires), logged; undrifted drops ≡
    // one-shot PQ append (oracle shared verbatim), including across
    // the mid-stream cadence compaction. SIDE EFFECT: temp dirs.
    QuerySpec("stream_ivfpq_maintain_replay", (s, d) => {
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
    },
      // maintained PQ ingestion with no drifted drop ≡ one-shot append —
      // same oracle verbatim (and the cadence compaction changed nothing)
      ivfPqAppendOracle),
    // the int8 tier's maintained ingestion end-to-end: three balanced
    // drops stream through runMaintainReplay — each micro-batch
    // takes the full maintain decision (coarse PSI pre-flight → append;
    // compaction on the file cadence; no code-PSI term because the
    // per-vector max-abs scheme has no codebook to drift) — then the
    // index serves. Oracle = the SQ8 search tree over base-400-trained
    // centroids: undrifted maintained ingestion ≡ one-shot SQ8 append.
    // SIDE EFFECT: temp dirs.
    QuerySpec("stream_ivfsq8_maintain_replay", (s, d) => {
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
    },
      ivfSq8BaseSearchOracle),
    // the sized-layout twin of the replay above — the PRODUCTION
    // geometry (cells = ceil(400/64) = 7, target_cell_size in the
    // manifest) under the PRODUCTION control loop (Structured
    // Streaming maintain decisions per drop). No drop drifts, so the
    // served set equals a one-shot append against the frozen sized
    // centroids; a drop that DID drift would retrain re-sized
    // (spec-driven, SinkSpec). The oracle derives k from the base
    // count. SIDE EFFECT: temp dirs.
    QuerySpec("stream_ivfsq8_maintain_sized_replay", (s, d) => {
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
    },
      // sized-layout streaming maintain: the same append-regime identity
      // with the quantizer's k DERIVED from the base count (the sized
      // geometry); codes depend only on each vector's own max-abs and
      // the search tail is k-agnostic, so only the kmeans head changes
      s"""${kmeansBaseTrainedCte(400,
             "SELECT greatest(CAST(ceil(count(*) / 64.0) AS BIGINT), 1) FROM eb")},
        | $sq8CodesBody,
        | $ivfSq8SearchTail""".stripMargin),
    // the pre-flight for the append: per-cell stored vs incoming
    // populations (incoming assigned with the stored centroids), the
    // smoothed PSI between the two share distributions, and the
    // retrain_due verdict
    QuerySpec("embed_ivf_append_drift", (s, d) => {
      val all = emb(s, d)
      val dir = ivfDriftDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Flat, Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      Sink.ivfAppendDrift(s, all.filter(col("vec_id") >= 400), dir)
    },
      // append pre-flight: stored vs incoming cell populations (both
      // against the stored centroids), smoothed PSI (sourceDrift
      // carrier: 8dp DECIMAL terms, 6dp total), retrain verdict
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
         | FROM terms CROSS JOIN tot CROSS JOIN nullv ORDER BY cell""".stripMargin),
    // the COMPOSED maintenance operator, append branch: the natural
    // >=400 batch drifts only mildly (PSI ≈ 0.065 < 0.25), so
    // maintainIvfIndex appends against the frozen centroids and logs
    // the decision. The file-count columns stay out of the oracle
    // surface (not SQL-derivable); SinkSpec covers them plus the
    // compaction cadence. SIDE EFFECT: temp index dir.
    QuerySpec("ivf_maintain_append", (s, d) => {
      val all = emb(s, d)
      val dir = ivfMaintainAppendDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Flat, Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      Sink.maintainIvfIndex(s, all.filter(col("vec_id") >= 400), dir)
        .select("action", "psi", "retrain_due", "n_stored_before",
          "n_batch", "n_after", "compacted")
    },
      // composed maintenance decision log: the drift-oracle PSI chain
      // over the branch's batch CTE, folded to the one-row log the
      // operator emits (action/threshold verdict/counts; compacted is
      // deterministically false — one append never reaches the
      // 4-files-per-cell cadence, and the retrain branch rewrites to one
      // file per cell by construction)
      maintainLogOracle(
        "SELECT vec_id, cell FROM a2 WHERE vec_id >= 400")),
    // retrain branch: the batch is a deterministic SKEWED subset — only
    // vectors whose stored-centroid assignment lands in cells 0-3 (the
    // oracle mirrors the same subset off its a2) — PSI ≈ 1.10 crosses
    // the threshold, so maintainIvfIndex retrains on stored ∪ batch via
    // the sibling-tree swap and logs 'retrain'. SIDE EFFECT: temp dirs.
    QuerySpec("ivf_maintain_retrain", (s, d) => {
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
    },
      maintainLogOracle(
        "SELECT vec_id, cell FROM a2 WHERE vec_id >= 400 AND cell < 4")),
    // the maintain lifecycle on the PRODUCTION (fixed-cell-SIZE)
    // layout: the int8 base index is built by writeIvfIndex(Sq8, CellSize(64)) at
    // target size 64 — cells = ceil(400/64) = 7, and the manifest
    // carries cells AND target_cell_size — then the natural >=400
    // batch takes the full maintain decision against the sized
    // geometry (PSI under the null-calibrated threshold → append).
    // The sized-retrain branch (cells re-derived from the union, the
    // fixed-size invariant surviving growth) is spec-driven
    // (SinkSpec). SIDE EFFECT: temp index dir.
    QuerySpec("ivfsq8_maintain_append_sized", (s, d) => {
      val all = emb(s, d)
      val dir = ivfSq8MaintainSizedDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir,
        Sink.Sq8, Sink.CellSize(64), iters = 2,
        corpusKey = Some(d + "#sq8sized400"))
      Sink.maintainIvfIndex(s, all.filter(col("vec_id") >= 400), dir)
        .select("action", "psi", "retrain_due", "n_stored_before",
          "n_batch", "n_after", "compacted")
    },
      // sized-layout maintenance: the same one-row log chain with k
      // DERIVED from the base count (ceil(N_base/64) — mirrors
      // the sized SQ8 write's resolved geometry; the int8 payload
      // encoding never enters the decision arithmetic)
      maintainLogOracle(
        "SELECT vec_id, cell FROM a2 WHERE vec_id >= 400",
        "SELECT greatest(CAST(ceil(count(*) / 64.0) AS BIGINT), 1) FROM eb")),
    // the sized maintain contract on the FLOAT tier — the same
    // resize-on-retrain branch lives in all three maintain paths
    // (round 16 oracle-checked only SQ8); the decision arithmetic is
    // tier-independent (the payload encoding never enters it), so the
    // oracle is the SQ8 sized one's chain verbatim: k derived from the
    // base count as ceil(N_base/64). SIDE EFFECT: temp index dir.
    QuerySpec("ivf_maintain_append_sized", (s, d) => {
      val all = emb(s, d)
      val dir = ivfMaintainSizedDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir,
        Sink.Flat, Sink.CellSize(64), iters = 2,
        corpusKey = Some(d + "#ivfsized400"))
      Sink.maintainIvfIndex(s, all.filter(col("vec_id") >= 400), dir)
        .select("action", "psi", "retrain_due", "n_stored_before",
          "n_batch", "n_after", "compacted")
    },
      // the float tier under the same sized geometry — the decision
      // arithmetic never touches the payload encoding, so the chain is
      // the SQ8 sized oracle's verbatim
      maintainLogOracle(
        "SELECT vec_id, cell FROM a2 WHERE vec_id >= 400",
        "SELECT greatest(CAST(ceil(count(*) / 64.0) AS BIGINT), 1) FROM eb")),
    // and on the COMPRESSED tier: the sized geometry applies to the
    // coarse quantizer only (the PQ codebook is subspace-shaped, not
    // corpus-shaped — the Pq codec contract), so the oracle
    // is maintainPqLogOracle with the coarse k derived from the base
    // count while the per-subspace code chains keep their fixture
    // geometry. SIDE EFFECT: temp index dir.
    QuerySpec("ivfpq_maintain_append_sized", (s, d) => {
      val all = emb(s, d)
      val dir = ivfPqMaintainSizedDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir,
        Sink.Pq(4, 16, 8), Sink.CellSize(64), iters = 2,
        corpusKey = Some(d + "#pqsized400"))
      Sink.maintainIvfIndex(s, all.filter(col("vec_id") >= 400), dir)
        .select("action", "psi_coarse", "psi_code_max", "retrain_due",
          "n_stored_before", "n_batch", "n_after", "compacted")
    },
      // the compressed tier: sized coarse k (ceil(N_base/64)); the four
      // per-subspace code chains keep their subspace-shaped geometry
      maintainPqLogOracle(
        "SELECT vec_id FROM e WHERE vec_id >= 400",
        "SELECT greatest(CAST(ceil(count(*) / 64.0) AS BIGINT), 1) FROM eb")),
    // the production control loop end-to-end: three balanced drops
    // stream through runMaintainReplay — each micro-batch takes the
    // FULL maintain decision (PSI pre-flight → append; compaction when
    // the file cadence hits) and logs it — then the index serves.
    // Shares embed_ivf_append_search's oracle VERBATIM: when no drop
    // drifts, drift-aware maintained ingestion ≡ one-shot append (and
    // the mid-stream compaction provably changed nothing). The
    // retrain-mid-stream path is spec-driven (IvfAppendSpec).
    // SIDE EFFECT: temp dirs.
    QuerySpec("stream_ivf_maintain_replay", (s, d) => {
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
    },
      // drift-AWARE maintained ingestion: with no drop drifting, every
      // micro-batch decision is an append (plus one cadence compaction,
      // provably result-free), so the served index — and this oracle —
      // are the one-shot append's VERBATIM
      ivfAppendSearchOracle),
    // the compressed tier's composed maintenance: geometry comes wholly
    // from the index manifest, and BOTH tripwires gate the branch —
    // coarse cell PSI and per-subspace code PSI (either crossing
    // retrains). Natural batch: coarse 0.065 / code-max 0.126, both
    // under threshold → append. SIDE EFFECT: temp index dir.
    QuerySpec("ivfpq_maintain_append", (s, d) => {
      val all = emb(s, d)
      val dir = ivfPqMaintainAppendDir
      Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Pq(4, 16, 8), Sink.Cells(8), 2,
        corpusKey = Some(d + "#pqbase400"))
      Sink.maintainIvfIndex(s, all.filter(col("vec_id") >= 400), dir)
        .select("action", "psi_coarse", "psi_code_max", "retrain_due",
          "n_stored_before", "n_batch", "n_after", "compacted")
    },
      // the compressed tier's maintenance log: coarse + code PSI chains
      // over the same batch CTEs, either tripwire flips the branch
      maintainPqLogOracle(
        "SELECT vec_id FROM e WHERE vec_id >= 400")),
    // retrain branch: the coarse-skewed cells 0-3 subset crosses BOTH
    // tripwires (coarse 1.104, code-max 0.253) → retrain of both tiers
    // on stored ∪ batch via the sibling-tree swap. SIDE EFFECT: temp
    // dirs.
    QuerySpec("ivfpq_maintain_retrain", (s, d) => {
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
    },
      maintainPqLogOracle(
        "SELECT vec_id FROM a2 WHERE vec_id >= 400 AND cell < 4")),
    // streaming index maintenance: the batch arrives as three drops;
    // each micro-batch folds into the stored index through the SAME
    // append path (foreachBatch → appendToIvfIndex, stored centroids,
    // no retrain). Shares embed_ivf_append_search's oracle verbatim —
    // hash-green proves drop-at-a-time ingestion ≡ one-shot append
    // (assignment depends only on the frozen centroids, so appends
    // are an order-invariant set union). SIDE EFFECT: temp dirs.
    QuerySpec("stream_ivf_append_replay", (s, d) => {
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
    },
      // drop-at-a-time streaming ingestion lands the identical index
      // (appends are an order-invariant set union against the frozen
      // centroids), so the replay shares the one-shot append oracle
      ivfAppendSearchOracle),
    // CDC-shaped streaming ingestion: adds AND deletes arrive through
    // ONE drop stream, each micro-batch appending its adds against the
    // frozen centroids and tombstoning its delete ids. No id is
    // re-added after its delete here, so the replay is order-invariant
    // and the final served set equals the one-shot path — shares
    // embed_ivf_delete_search's oracle VERBATIM. SIDE EFFECT: rewrites
    // the temp index dir per evaluation (idempotent — a fresh index
    // write clears the previous evaluation's tombstones).
    QuerySpec("stream_ivf_delete_replay", (s, d) => {
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
    },
      // the CDC replay never re-adds a deleted id, so its served set is
      // the one-shot delete path's — oracle shared verbatim
      ivfDeleteSearchOracle),
    // the SQ8 tier PERSISTED: write the int8 layout (codes + norms +
    // co-located embeddings, one file per cell) and serve the probed
    // cells' (vec_id, q, n2) projection — result-identical to the
    // in-memory composed tier at the same nprobe, so it shares
    // embed_ivf_sq8_topk's oracle VERBATIM. SIDE EFFECT: rewrites the
    // temp index dir per evaluation (idempotent).
    QuerySpec("embed_ivf_sq8_stored_search", (s, d) => {
      val all = emb(s, d)
      val dir = ivfSq8Dir
      Sink.writeIvfIndex(all, dir, Sink.Sq8, Sink.Cells(8), 2, corpusKey = Some(d))
      Sink.searchIvfSq8Index(s, all, dir, 10, 3, nprobe = 2)
    },
      // stored-path serving at nprobe 2 is result-identical to the
      // in-memory composed tier (one quantization scheme, one training,
      // one scoring tree) — oracle shared VERBATIM; SinkSpec pins the
      // row-for-row equality on the engine side
      ivfSq8TopKOracle),
    // the SQ8 layout at a FIXED CELL SIZE (cells = ceil(N/64) — the
    // production geometry rule: per-cell population pinned by the knob,
    // cells grow with the corpus): the sized build + probed-subdir
    // serving. The oracle derives the cell count from the corpus count
    // exactly as Sink.sizedCells does, then runs the shared Lloyd's +
    // int8 scoring tree.
    QuerySpec("embed_ivfsq8_sized_search", (s, d) => {
      val all = emb(s, d)
      val dir = ivfSq8SizedDir
      Sink.writeIvfIndex(all, dir, Sink.Sq8, Sink.CellSize(64), iters = 2,
        corpusKey = Some(d))
      Sink.searchIvfSq8Index(s, all, dir, 10, 3, nprobe = 2)
    },
      ivfSq8SizedOracle),
    // the end-to-end "retrieval stack reads the artifact" shape: the
    // SAME fusion, but the semantic side is served from the PERSISTED
    // IVF index (searchIvfIndex, nprobe=2) — build once, then the
    // serving query never trains and never scans the corpus embedding
    // table beyond the one query row. Shares retrieval_rrf_ivf's
    // oracle verbatim (stored nprobe=2 ≡ in-memory multiprobe
    // nprobe=2, SinkSpec). SIDE EFFECT: rewrites the temp index dir
    // per evaluation (idempotent overwrite).
    QuerySpec("retrieval_rrf_stored", (s, d) => {
      val lex = TextOps.bm25TopK(docs(s, d), Seq("hash", "merge", "scan"), 20)
        .select(col("doc_id").as("id"), col("rnk"))
      val e = emb(s, d)
      val dir = ivfRrfDir
      Sink.writeIvfIndex(e, dir, Sink.Flat, Sink.Cells(8), 2, corpusKey = Some(d))
      val sem = Sink.searchIvfIndex(s, e, dir, nQueries = 1, k = 20, nprobe = 2)
        .select(col("vec_id").as("id"), col("rnk"))
      Retrieval.rrfFuse(lex, sem, 10)
    },
      // the stored-index fusion shares the oracle verbatim: the semantic
      // side served by searchIvfIndex(nprobe=2) over the persisted index
      // is result-identical to the in-memory multiprobe the oracle
      // mirrors (SinkSpec equivalence), so the fused lists coincide
      rrfIvfOracle))
}
