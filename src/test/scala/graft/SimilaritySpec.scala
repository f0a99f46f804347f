package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Similarity, Sink}

/** Similarity search: cosine correctness + top-k ranking. */
class SimilaritySpec extends SparkSpec {

  private def emb(rows: (Long, Seq[Float], Int)*) = {
    val spark2 = spark
    import spark2.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }

  val vecs = emb(
    (0L, Seq(1f, 0f, 0f, 0f), 0),
    (1L, Seq(1f, 0f, 0f, 0f), 0), // identical to 0
    (2L, Seq(0f, 1f, 0f, 0f), 0), // orthogonal to 0
    (3L, Seq(1f, 1f, 0f, 0f), 1), // 45° from 0
    (4L, Seq(-1f, 0f, 0f, 0f), 1)) // opposite of 0

  test("cosine: identical=1, orthogonal=0, 45°≈0.7071, opposite=-1") {
    val r = vecs.as("a").crossJoin(vecs.as("b"))
      .filter(col("a.vec_id") === 0 && col("b.vec_id").isin(1, 2, 3, 4))
      .withColumn("cos", Similarity.cosine(col("a.embedding"), col("b.embedding")))
      .orderBy("b.vec_id")
      .select("cos").collect().map(_.getDouble(0))
    assert(r.toSeq == Seq(1.0, 0.0, 0.7071, -1.0))
  }

  test("brute-force top-k ranks by cosine desc with vec_id tiebreak") {
    val top = Similarity.bruteForceTopK(vecs, nQueries = 1, k = 4).collect()
      .map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("vec_id"), r.getAs[Double]("cos")))
    assert(top.toSeq == Seq((1, 1L, 1.0), (2, 3L, 0.7071), (3, 2L, 0.0), (4, 4L, -1.0)))
  }

  test("probe recall is monotone in nprobe on the real fixture") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val bf = Similarity.bruteForceTopK(e, 10, 3).select("qid", "vec_id")
    def hits(np: Int): Long =
      bf.join(Similarity.ivfMultiProbeTopK(e, 10, 3, 8, 2, np)
        .select("qid", "vec_id"), Seq("qid", "vec_id")).count()
    val h = Seq(1, 2, 4).map(hits)
    assert(h == h.sorted, s"recall not monotone: $h")
  }

  test("trainSample: sub-cap corpus keeps every row, a biting cap lands near it") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding").as("v"))
    val n = e.count()
    assert(Similarity.trainSample(e, Similarity.defaultTrainSample).count() == n)
    val s = Similarity.trainSample(e, 64).count()
    // binomial around 64 of 500 — generous band, deterministic value
    assert(s > 32 && s < 128, s"sample size $s not near the 64 cap")
  }

  test("sampled trainer: default cap is bit-identical to uncapped training " +
      "on a sub-cap corpus; a biting cap still assigns every vector") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = rows(Similarity.kmeansAssign(e, 8, 2))
    val full = rows(Similarity.kmeansAssign(e, 8, 2, sampleRows = Int.MaxValue))
    assert(capped == full)
    val sampled = Similarity.kmeansAssign(e, 8, 2, sampleRows = 32)
    assert(sampled.select("vec_id").distinct().count() == e.count())
    // init = lowest-k of the sample → at most 8 cells, all from the sample
    assert(sampled.select("cell").distinct().count() <= 8)
  }

  test("centroidClassify: separable label clusters score perfect accuracy") {
    val e = emb(
      (0L, Seq(1f, 0.1f, 0f, 0f), 0),
      (1L, Seq(1f, -0.1f, 0f, 0f), 0),
      (2L, Seq(0.1f, 1f, 0f, 0f), 1),
      (3L, Seq(-0.1f, 1f, 0f, 0f), 1))
    val r = Similarity.centroidClassify(e).collect()
      .map(x => x.getAs[Int]("label") ->
        (x.getAs[Long]("n_vectors"), x.getAs[Double]("accuracy"))).toMap
    assert(r(0) == ((2L, 1.0)))
    assert(r(1) == ((2L, 1.0)))
  }

  test("multi-probe IVF: nprobe=1 equals single-probe, nprobe=2 never loses recall") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def keyset(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "rnk", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val single = keyset(Similarity.ivfTopK(e, 10, 3, 8, 2))
    val mp1 = keyset(Similarity.ivfMultiProbeTopK(e, 10, 3, 8, 2, nprobe = 1))
    assert(mp1 == single)
    def hits(df: org.apache.spark.sql.DataFrame): Long = {
      val bf = Similarity.bruteForceTopK(e, 10, 3).select("qid", "vec_id")
      bf.join(df.select("qid", "vec_id"), Seq("qid", "vec_id")).count()
    }
    val h1 = hits(Similarity.ivfMultiProbeTopK(e, 10, 3, 8, 2, nprobe = 1))
    val h2 = hits(Similarity.ivfMultiProbeTopK(e, 10, 3, 8, 2, nprobe = 2))
    assert(h2 >= h1)
  }

  test("multi-probe searches refuse nprobe = 0 instead of returning no rows") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    Seq[() => DataFrame](
      () => Similarity.ivfMultiProbeTopK(e, 10, 3, 8, 2, nprobe = 0),
      () => Similarity.ivfSq8TopK(e, 10, 3, 8, 2, nprobe = 0)).foreach { search =>
      val ex = intercept[IllegalArgumentException](search())
      assert(ex.getMessage.contains("nprobe must be >= 1"), ex.getMessage)
    }
  }

  test("pcaPowerTop recovers a planted dominant axis and its variance") {
    val spark2 = spark
    import spark2.implicits._
    // Only axis 7 varies (values 0..19, variance 33.25); axis 3 is a
    // nonzero CONSTANT (centering must cancel it); all else zero. The
    // centered scatter is rank-1, so two power steps are exact.
    val rows = (0 until 20).map { k =>
      val v = Array.fill(64)(0f)
      v(7) = k.toFloat; v(3) = 1f
      (k.toLong, v.toSeq, 0)
    }
    val e = rows.toDF("vec_id", "embedding", "label")
    val r = Similarity.pcaPowerTop(e).collect()
    assert(r.length == 64)
    val byDim = r.map(x => x.getAs[Int]("dim") -> x.getAs[Double]("loading")).toMap
    assert(byDim(7) > 0.9999)
    assert(byDim.filter(_._1 != 7).values.forall(v => math.abs(v) < 1e-4))
    val lambda = r.head.getAs[Double]("eigenvalue")
    assert(math.abs(lambda - 33.25) < 0.01, s"eigenvalue $lambda")
  }

  test("pcaMeans: per-dimension count(*) equals the corpus row count " +
      "on fixed-width vectors (the folded-count invariant)") {
    val spark2 = spark
    import spark2.implicits._
    // The r18 scatter rewrite rides n as count(*) per dimension instead
    // of a separate count() job — valid ONLY while every vector is
    // full-width. Pin it: nn must be the row count on every dimension.
    val rows = (0 until 17).map { k =>
      (k.toLong, (0 until 64).map(j => (k * 64 + j).toFloat % 7).toSeq, 0)
    }
    val e = rows.toDF("vec_id", "embedding", "label")
    val v = e.select(transform(col("embedding"),
      x => x.cast("double")).as("v"))
    val m = Similarity.pcaMeans(v).collect()
    assert(m.length == 64)
    assert(m.forall(_.getAs[Double]("nn") == 17.0),
      "per-dimension count must equal the corpus row count")
  }

  test("abttPostProcess removes a rank-1 corpus entirely") {
    val spark2 = spark
    import spark2.implicits._
    // Same planted fixture as the PCA spec: after centering only axis 7
    // varies, so removing the top direction must null every vector.
    val rows = (0 until 20).map { k =>
      val v = Array.fill(64)(0f)
      v(7) = k.toFloat; v(3) = 1f
      (k.toLong, v.toSeq, 0)
    }
    val r = Similarity.abttPostProcess(rows.toDF("vec_id", "embedding", "label"))
      .collect()
    assert(r.length == 20)
    val r0 = r.find(_.getAs[Long]("vec_id") == 0L).get
    assert(r0.getAs[Double]("orig_norm") == 9.5)
    r.foreach { x =>
      assert(x.getAs[Double]("post_norm") < 1e-4)
      assert(x.getAs[Double]("removed_frac") > 0.9999)
    }
  }

  test("hard negatives exclude same-label twins and rank cross-label by cosine") {
    // Query 0 (label 0): its identical twin v1 and orthogonal v2 share
    // the label and must NOT appear; negatives rank v3 (0.7071) over
    // v4 (-1), both label 1.
    val neg = Similarity.hardNegatives(vecs, nQueries = 1, k = 5).collect()
      .map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("vec_id"),
        r.getAs[Int]("label"), r.getAs[Double]("cos")))
    assert(neg.toSeq == Seq((1, 3L, 1, 0.7071), (2, 4L, 1, -1.0)))
  }

  test("binary top-k: sign signatures rank by Hamming with vec_id tiebreak") {
    // signatures (x >= 0 → '1'): v0..v3 = "1111", v4 = "0111"
    val top = Similarity.binaryTopK(vecs, nQueries = 1, k = 4).collect()
      .map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("vec_id"), r.getAs[Int]("hd")))
    assert(top.toSeq == Seq((1, 1L, 0), (2, 2L, 0), (3, 3L, 0), (4, 4L, 1)))
  }

  test("sq8 top-k: quantized cosine tracks exact cosine, recall gate holds") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val approx = Similarity.sq8TopK(e, 10, 3).collect()
    assert(approx.length == 30)
    // every returned quantized cosine sits within the int8 error band
    // of the exact cosine for the same pair
    val exactByPair = Similarity.bruteForceTopK(e, 10, 1000).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    approx.foreach { r =>
      val (qid, vid, qcos) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      val cos = exactByPair((qid, vid))
      assert(math.abs(qcos - cos) <= 0.05,
        s"sq8 cosine drifted past the int8 band: q=$qid v=$vid $qcos vs $cos")
    }
    val rec = Similarity.sq8Recall(e, 10, 3).head()
    assert(rec.getAs[Long]("n_returned") == 30)
    val hits = rec.getAs[Long]("n_hits")
    assert(rec.getAs[Double]("recall_at_k") == math.floor(hits / 30.0 * 10000 + 0.5) / 10000)
    assert(hits >= 20, s"sq8 recall collapsed: $hits/30")
  }

  test("ivf-sq8: probing every cell reproduces the pure sq8 ranking") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // nprobe = cells disables the coarse pruning — the composed tier
    // must then rank exactly like the flat int8 scan (each vector lives
    // in ONE cell, so no candidate duplicates either)
    val full = Similarity.ivfSq8TopK(e, 10, 3, cells = 8, iters = 2, nprobe = 8)
      .select("qid", "rnk", "vec_id", "qcos").collect().map(_.toSeq).toSeq
    val pure = Similarity.sq8TopK(e, 10, 3).collect().map(_.toSeq).toSeq
    assert(full == pure, "full-probe IVF-SQ8 diverged from the flat SQ8 scan")
  }

  test("sq8 rerank: exact re-scoring of the shortlist never loses to raw sq8 ranking") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val bf3 = Similarity.bruteForceTopK(e, 10, 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def hits(rows: Array[org.apache.spark.sql.Row]) =
      rows.count(r => bf3((r.getLong(0), r.getLong(2))))
    val raw = hits(Similarity.sq8TopK(e, 10, 3).collect())
    val rer = Similarity.sq8RerankTopK(e, 10, 3, cand = 10).collect()
    // a ground-truth member inside the 10-candidate shortlist always
    // survives the exact rerank (its exact rank is ≤ 3 globally), and
    // the raw top-3 is a subset of that shortlist — so rerank recall
    // dominates raw recall by construction; this pins it
    assert(hits(rer) >= raw, s"rerank hits ${hits(rer)} < raw sq8 hits $raw")
    // reranked scores are EXACT cosines (match the brute-force values)
    val exact = Similarity.bruteForceTopK(e, 10, 1000).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    rer.foreach(r =>
      assert(r.getDouble(3) == exact((r.getLong(0), r.getLong(2)))))
  }

  test("sq8: an all-zero query scores NULL (cosine undefined), never garbage") {
    val z = emb(
      (0L, Seq(0f, 0f, 0f, 0f), 0),
      (1L, Seq(1f, 0f, 0f, 0f), 0),
      (2L, Seq(0f, 1f, 0f, 0f), 0),
      (3L, Seq(1f, 1f, 0f, 0f), 0))
    val r = Similarity.sq8TopK(z, nQueries = 1, k = 3).collect()
    assert(r.length == 3 && r.forall(_.isNullAt(3)),
      s"zero-vector query must score NULL: ${r.toSeq}")
  }

  test("clusterBalancedSample: per-cell cap, assignment-consistent, deterministic") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cap = 5
    val picks = Similarity.clusterBalancedSample(e, 8, 2, cap).collect()
    val perCell = picks.groupBy(_.getLong(0))
    assert(perCell.values.forall(_.length <= cap), "cell cap exceeded")
    assert(perCell.values.forall(g =>
      g.map(_.getInt(1)).sorted.toSeq == (1 to g.length)), "pick ranks must be 1..n")
    // picked (vec_id, cell) pairs agree with the trained assignment
    val assign = Similarity.kmeansAssign(e, 8, 2)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(picks.forall(r => assign(r.getLong(2)) == r.getLong(0)))
    // content-keyed order: a re-run returns the identical sample
    val again = Similarity.clusterBalancedSample(e, 8, 2, cap).collect()
    assert(picks.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // past the flat rung the composite (coarse·fine) assignment keeps
    // the contract: ≤ cap per cell, deterministic re-run
    val two = Similarity.clusterBalancedSample(e, 9, 2, cap, maxFlatCells = 4)
      .collect()
    assert(two.groupBy(_.getLong(0)).values.forall(_.length <= cap))
    val twoAgain = Similarity.clusterBalancedSample(e, 9, 2, cap, maxFlatCells = 4)
      .collect()
    assert(two.map(_.toSeq).toSeq == twoAgain.map(_.toSeq).toSeq)
  }

  test("ivf recall@3 vs brute force: one row per query, hits in range, deterministic") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def recall() = {
      val bf = Similarity.bruteForceTopK(e, 10, 3).select("qid", "vec_id")
      val iv = Similarity.ivfTopK(e, 10, 3, 8, 2)
        .select("qid", "vec_id").withColumn("__hit", lit(1))
      bf.join(iv, Seq("qid", "vec_id"), "left")
        .groupBy("qid").agg(sum(coalesce(col("__hit"), lit(0))).as("hits"))
        .orderBy("qid").collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val r1 = recall()
    assert(r1.length == 10)
    assert(r1.forall { case (_, h) => h >= 0 && h <= 3 })
    assert(r1.toSeq == recall().toSeq) // fixed quantizer ⇒ stable measurement
  }

  test("bucketed top-k only scores same-label candidates") {
    val top = Similarity.bucketedTopK(vecs, nQueries = 1, k = 4).collect()
      .map(r => r.getAs[Long]("vec_id")).toSet
    assert(top == Set(1L, 2L)) // label 0 bucket only
  }

  test("vector kernels: null elements and unequal lengths poison the fold to NULL") {
    // the zip_with-composition contract the codegen kernels must keep:
    // a corrupt vector scores NULL (visibly degenerate, ranks last),
    // never a finite wrong value from reading the null slot as 0.0
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(1L).toDF("id")
      .withColumn("a", org.apache.spark.sql.functions.expr(
        "array(1.0d, cast(null as double), 3.0d)"))
      .withColumn("b", org.apache.spark.sql.functions.expr(
        "array(1.0d, 2.0d, 3.0d)"))
    val r = df.select(
      graft.functions.VectorMath.l2sq(col("a"), col("b")).as("l2"),
      graft.functions.VectorMath.dot(col("a"), col("b")).as("dt"),
      graft.functions.VectorMath.dot(col("b"), col("b")).as("ok")).head()
    assert(r.isNullAt(0) && r.isNullAt(1), "null element must poison the fold")
    assert(r.getDouble(2) == 14.0)
    val r2 = df.select(graft.functions.VectorMath.dot(col("b"),
      org.apache.spark.sql.functions.expr("array(1.0d)")).as("x")).head()
    assert(r2.isNullAt(0), "unequal lengths must poison the fold")
  }

  test("quantizeInt8: symmetric max-abs scheme, bounded round-trip error, zero-safe") {
    val vs = emb(
      (0L, Seq(0.5f, -1.0f, 0.25f, 0f), 0),
      (1L, Seq(0f, 0f, 0f, 0f), 0)) // all-zero vector
    val rows = Similarity.quantizeInt8(vs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(rows(0L) == (1.0, "64,-127,32,0")) // floor(.5*127+.5)=64
    assert(rows(1L) == (0.0, "0,0,0,0"))
    // round-trip error bound on the real corpus slice
    val sample = emb((2L, Seq(0.31f, -0.07f, 0.19f, -0.26f), 0))
    val r = Similarity.quantizeInt8(sample).collect().head
    val scale = r.getDouble(1)
    val qs = r.getString(2).split(",").map(_.toInt)
    val xs = Seq(0.31f, -0.07f, 0.19f, -0.26f).map(_.toDouble)
    qs.zip(xs).foreach { case (q, x) =>
      assert(math.abs(q * scale / 127 - x) <= scale / 254 + 1e-9)
    }
  }

  test("kmeansAssign separates two obvious clusters; ivfTopK stays in-cell") {
    // ids 0/2/4 tight around (10,0,..), ids 1/3/5 tight around (0,10,..);
    // init centroids = vectors 0 and 1, so Lloyd's converges in one round
    val twoClusters = emb(
      (0L, Seq(10f, 0f, 0f, 0f), 0),
      (1L, Seq(0f, 10f, 0f, 0f), 0),
      (2L, Seq(9f, 1f, 0f, 0f), 0),
      (3L, Seq(1f, 9f, 0f, 0f), 0),
      (4L, Seq(11f, -1f, 0f, 0f), 0),
      (5L, Seq(-1f, 11f, 0f, 0f), 0))
    val cells = Similarity.kmeansAssign(twoClusters, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(0L, 2L, 4L).forall(id => cells(id) == 0L), cells.toString)
    assert(Seq(1L, 3L, 5L).forall(id => cells(id) == 1L), cells.toString)

    val top = Similarity.ivfTopK(twoClusters, nQueries = 1, k = 5, cells = 2, iters = 2)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(top == Set(2L, 4L)) // only cell-0 candidates are scored

    // exact tie: vector 9 sits at squared distance 72 from vectors 0 and
    // 1 (the init centroids) AND from the trained centroids (7,1,7,1)
    // and (1,7,1,7) — every mean is exact, and 9 joining cell 0 is what
    // keeps the trained pair symmetric about it. Every path must pick
    // the lower cell id
    val tie = emb(
      Seq((0L, 11f, 1f), (1L, 1f, 11f), (2L, 8f, 2f), (3L, 8f, 0f),
        (4L, 2f, 5f), (5L, 0f, 5f), (9L, 1f, 1f))
        .map { case (id, x, y) => (id, Seq(x, y, x, y), 0) }: _*)
    def cellOf(df: org.apache.spark.sql.DataFrame, id: Long): Long =
      df.filter(col("vec_id") === id).select(col("cell").cast("long")).head().getLong(0)
    val flat = Similarity.kmeansAssign(tie, k = 2, iters = 2)
    assert(cellOf(flat, 9L) == 0L)
    assert(flat.filter(col("vec_id") === 9L).head().getAs[Double]("d") == 72.0)
    val spark2 = spark
    import spark2.implicits._
    val cents = Seq((1L, Seq(1.0, 7.0, 1.0, 7.0)), (0L, Seq(7.0, 1.0, 7.0, 1.0))).toDF("cell", "c")
    assert(cellOf(Similarity.assignWithCentroids(tie, cents), 9L) == 0L)
    // two-level: the tie at the coarse level (one fine cell per parent)
    // and at the fine level (one coarse cell)
    Seq((2, 1), (1, 2)).foreach { case (coarse, fine) =>
      val two = Similarity.semDedupTwoLevel(tie, tau = 0.9999,
        coarseCells = coarse, fineCells = fine, iters = 2)
      assert(cellOf(two, 9L) == 0L, s"two-level $coarse x $fine")
    }
    val codes = Similarity.pqCodes(tie, m = 2, subDim = 2, k = 2, iters = 2)
      .filter(col("vec_id") === 9L).collect().map(r => r.getAs[Int]("sub") -> r.getAs[Long]("code"))
    assert(codes.toMap == Map(0 -> 0L, 1 -> 0L), codes.toSeq.toString)
    val pn = Similarity.ivfMultiProbeTopK(tie, nQueries = 10, k = 6, cells = 2, iters = 2,
        nprobe = 2)
      .filter(col("qid") === 9L).collect()
      .map(r => r.getAs[Long]("cell") -> r.getAs[Int]("pn")).toMap
    assert(pn == Map(0L -> 1, 1L -> 2), pn.toString)
  }

  test("a corpus key trains once, whichever of its consumers runs first") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val key = s"simspec-train-once-${System.nanoTime()}"
    Similarity.kmeansAssignCached(e, 8, 2, key)
    def build(k: String) = jobsOf(Similarity.ivfMultiProbeTopK(e, 10, 3, 8, 2, 2, Some(k)))
    val afterAssign = build(key)
    val warm = build(key)
    assert(afterAssign == warm,
      s"a multi-probe build after kmeansAssignCached ran $afterAssign jobs, a warm one $warm")
    // and the reverse: a keyed index write leaves its centroids for the
    // key's assignment, which then derives instead of retraining
    val written = s"$key-written"
    Sink.writeIvfIndex(e, java.nio.file.Files.createTempDirectory("graft-trainonce").toString,
      Sink.Flat, Sink.Cells(8), 2, corpusKey = Some(written))
    val derived = jobsOf(Similarity.kmeansAssignCached(e, 8, 2, written))
    val cold = jobsOf(Similarity.kmeansAssignCached(e, 8, 2, s"$key-cold"))
    assert(derived < cold, s"assignment after a keyed write ran $derived jobs, a cold one $cold")
    assert(Similarity.kmeansAssignCached(e, 8, 2, written).collect().toSeq ==
      Similarity.kmeansAssign(e, 8, 2).collect().toSeq)
  }

  test("k-means job budget: keyless assign, cold keyed multi-probe build, two-level dedup, keyless PQ codes") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val used = Seq(
      "kmeansAssign" -> jobsOf(Similarity.kmeansAssign(e, 8, 2).collect()),
      "ivfMultiProbeTopK cold keyed build" -> jobsOf(Similarity.ivfMultiProbeTopK(e, 10, 3, 8, 2, 2,
        Some(s"simspec-budget-${System.nanoTime()}"))),
      // a plan no other spec builds, so the two-level cache is cold
      "semDedupTwoLevel" -> jobsOf(Similarity.semDedupTwoLevel(e.filter(col("vec_id") =!= 7L),
        0.95, 3, 3, 2).collect()),
      "pqCodes" -> jobsOf(Similarity.pqCodes(e, 4, 16, 8, 2).collect()))
    // the two-loop trainer with checkpointed centroids ran 15, 19, 46,
    // 61; the Spark Lloyd's loop alone 11, 13, 30, 12. The keyed build
    // is training, the probe ranking and the lazy checkpoint of the
    // key's assignment, whose centroid broadcast runs at build (a job
    // the search itself then skips)
    val budget = Map("kmeansAssign" -> 5, "ivfMultiProbeTopK cold keyed build" -> 4,
      "semDedupTwoLevel" -> 17, "pqCodes" -> 5)
    used.foreach { case (step, n) =>
      assert(n <= budget(step), s"$step ran $n Spark jobs, budget ${budget(step)}")
    }
    // keyless training on the driver branch leaves no Spark block: the
    // check covers the RDDs created from here on, since the context is
    // shared by every spec in the JVM
    val marker = spark.sparkContext.emptyRDD[Int].id
    Similarity.kmeansCentroids(e, 8, 2).collect()
    Similarity.kmeansAssign(e, 8, 2).collect()
    val held = spark.sparkContext.getRDDStorageInfo.filter(_.id > marker)
    assert(held.isEmpty, s"keyless training left blocks: ${held.map(_.name).mkString(", ")}")
  }

  test("k-means exactness: the driver and Spark training branches train the same " +
      "centroids, bit for bit, on every k-means fixture") {
    def e(s: SparkSession) = Tables.embeddings(s, "/root/testdata/sf0.001")
    def vs(s: SparkSession, rows: Seq[(Long, Seq[Float])]) =
      s.createDataFrame(rows).toDF("vec_id", "embedding")
    // vector 9 ties cells 0 and 1 exactly (see the two-cluster test)
    def tie(s: SparkSession) = vs(s, Seq((0L, 11f, 1f), (1L, 1f, 11f), (2L, 8f, 2f),
      (3L, 8f, 0f), (4L, 2f, 5f), (5L, 0f, 5f), (9L, 1f, 1f))
      .map { case (id, x, y) => (id, Seq(x, y, x, y)) })
    // init cells 0 and 1 are the same vector, so every row ties and
    // cell 0 wins it: cell 1 wins no row and drops out
    def twins(s: SparkSession) = vs(s, Seq((0L, Seq(1f, 0f)), (1L, Seq(1f, 0f)),
      (2L, Seq(0f, 1f)), (3L, Seq(0.5f, 0.5f))))
    val fixtures: Seq[(String, SparkSession => DataFrame)] = Seq(
      "flat IVF" -> (s => Similarity.kmeansCentroids(e(s), 8, 2)),
      "flat IVF over 5 source partitions" ->
        (s => Similarity.kmeansCentroids(e(s).repartition(5), 8, 3)),
      "flat IVF, vector-9 tie" -> (s => Similarity.kmeansCentroids(tie(s), 2, 2)),
      "SQ8 search" -> (s => Similarity.ivfSq8TopK(e(s), 10, 3, 8, 2, 2)),
      "PQ, all subspaces" -> (s => Similarity.pqTrained(e(s), 4, 16, 8, 2, None)),
      "PQ, vector-9 tie" -> (s => Similarity.pqTrained(tie(s), 2, 2, 2, 2, None)),
      "per-parent rung" -> (s => Similarity.semDedupTwoLevel(e(s), 0.95, 3, 3, 2)),
      "per-parent rung, vector-9 tie" ->
        (s => Similarity.semDedupTwoLevel(tie(s), 0.9999, 2, 1, 2)),
      "clusterBalancedSample" -> (s => Similarity.clusterBalancedSample(e(s), 8, 2, 5)),
      "clusterBalancedSample, two-level rung" ->
        (s => Similarity.clusterBalancedSample(e(s), 9, 2, 5, maxFlatCells = 4)),
      "iters = 1" -> (s => Similarity.kmeansCentroids(e(s), 8, 1)),
      "a cell that wins no row" -> (s => Similarity.kmeansCentroids(twins(s), 2, 2)),
      "capped sample" -> (s => Similarity.kmeansCentroids(e(s), 8, 3, sampleRows = 64)),
      "per-parent rung, capped sample" ->
        (s => Similarity.semDedupTwoLevel(e(s), 0.95, 3, 3, 2, sampleRows = 40)))
    // a one-double driver budget forces the Spark branch
    fixtures.foreach { case (name, f) =>
      val (dSchema, dRows, dJobs) = underBudget(None, f)
      val (sSchema, sRows, sJobs) = underBudget(Some(1L), f)
      assert(dSchema == sSchema, s"$name: schemas differ")
      assert(dRows.length == sRows.length && dRows.toSet == sRows.toSet,
        s"$name: the branches trained different centroids")
      // the driver branch really ran: it skips the Spark loop's jobs
      assert(dJobs < sJobs, s"$name: driver branch ran $dJobs jobs, Spark branch $sJobs")
    }
    assert(underBudget(None, fixtures.find(_._1 == "a cell that wins no row").get._2)._2.length == 1)
  }

  test("k-means above the driver budget: the Spark loop trains after one probe collect, " +
      "without collecting a sample that cannot fit") {
    // 64 sample rows of the 500 64-dim vectors are 4,096 doubles. At a
    // 4,000-double budget the probe collect (65 rows, every vector
    // withheld as wider than its share) finds the corpus above the cap
    // and the expected sample over the budget, so the Spark loop trains
    // at once: the same jobs as under a one-double budget, whose probe
    // collect is 2 rows
    val f = (s: SparkSession) =>
      Similarity.kmeansCentroids(Tables.embeddings(s, "/root/testdata/sf0.001"), 8, 3,
        sampleRows = 64)
    val (_, driver, _) = underBudget(None, f)
    val (_, over, overJobs) = underBudget(Some(4000L), f)
    val (_, forced, forcedJobs) = underBudget(Some(1L), f)
    assert(over.length == driver.length && over.toSet == driver.toSet,
      "the Spark loop trained different centroids")
    assert(over.toSet == forced.toSet)
    assert(overJobs == forcedJobs,
      s"over the budget training ran $overJobs jobs, forced onto the Spark loop $forcedJobs")
  }

  /** (schema, rows with doubles as their IEEE bits, Spark jobs) of `f`
    * in a fresh session, so no session cache serves it, under a driver
    * budget of `budget` doubles (None: the default); the budget is
    * restored afterwards.
    */
  private def underBudget(budget: Option[Long], f: SparkSession => DataFrame)
      : (org.apache.spark.sql.types.StructType, Seq[Any], Int) = {
    def bits(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case r: Row => r.toSeq.map(bits)
      case xs: scala.collection.Seq[_] => xs.map(bits)
      case other => other
    }
    val s = spark.newSession()
    val prev = sys.props.get("graft.maxDriverMapEntries")
    budget.foreach(b => sys.props("graft.maxDriverMapEntries") = b.toString)
    try {
      var out: (org.apache.spark.sql.types.StructType, Seq[Any]) = null
      val jobs = jobsOf { val df = f(s); out = (df.schema, df.collect().toSeq.map(bits)) }
      (out._1, out._2, jobs)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.maxDriverMapEntries") = v
        case None => sys.props.remove("graft.maxDriverMapEntries")
      }
      graft.SessionCaches.evictSession(s)
    }
  }

  /** 8-dim fixture with planted near-dups for the banded pair search:
    * ids 0/1 near-identical, 2/3 near-identical, 4 isolated, 5 shares
    * one sign chunk with 0 but low cosine.
    */
  private val ndVecs = emb(
    (0L, Seq(1f, 2f, 3f, 4f, -1f, -2f, -3f, -4f), 0),
    (1L, Seq(1.01f, 2.01f, 3.01f, 4.01f, -1.01f, -2.01f, -3.01f, -4.01f), 0),
    (2L, Seq(-5f, 1f, -2f, 2f, 4f, -4f, 1f, 1f), 1),
    (3L, Seq(-5.1f, 1.1f, -2.1f, 2.1f, 4.1f, -4.1f, 1.1f, 1.1f), 1),
    (4L, Seq(9f, -9f, 9f, -9f, 9f, -9f, 9f, -9f), 2),
    (5L, Seq(4f, 3f, 2f, 1f, 1f, 2f, 3f, 4f), 0))

  test("banded nearDupPairs finds exactly the planted near-dup pairs") {
    val pairs = Similarity.nearDupPairs(ndVecs, threshold = 0.99, bands = 2, dims = 8)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    assert(pairs.toSeq == Seq((0L, 1L), (2L, 3L)))
  }

  test("nearDupPairs bucket cap: 150 identical vectors → hub links, not all-pairs") {
    val spark2 = spark
    import spark2.implicits._
    // every chunk bucket holds all 150 ids (over the 100 cap) → the
    // candidate set must be the 149 star links through vec 0, and all
    // verify at cos 1.0 — not the 11 175 all-pairs island
    val clones = (0L until 150L)
      .map(i => (i, Array(1.0f, 2.0f, 3.0f, 4.0f, -1.0f, -2.0f, -3.0f, -4.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(clones, threshold = 0.99, bands = 2, dims = 8)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    assert(pairs.length == 149)
    assert(pairs.forall(_._1 == 0L))
  }

  test("banded nearDupPairs matches the quadratic all-pairs baseline") {
    val banded = Similarity.nearDupPairs(ndVecs, threshold = 0.9, bands = 2, dims = 8)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Double]("cos"))).toSet
    val brute = ndVecs.as("a").join(ndVecs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", Similarity.cosine(col("a.embedding"), col("b.embedding")))
      .filter(col("cos") >= 0.9)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos"))
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Double]("cos"))).toSet
    assert(banded == brute)
  }

  test("semDedup: near-twin dropped against its closer-to-centroid original") {
    val spark2 = spark
    import spark2.implicits._
    val vs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0.99f, 0.01f, 0f, 0f)), // cos(0,2) ≈ 0.99995 — dup of 0
      (3L, Seq(0f, 1f, 1f, 0f))) // cos(1,3) ≈ 0.7071 — kept
      .toDF("vec_id", "embedding")
    val r = Similarity.semDedup(vs, tau = 0.95, cells = 2, iters = 2)
      .collect().map(x => x.getAs[Long]("vec_id") -> x.getAs[Boolean]("is_kept")).toMap
    assert(r == Map(0L -> true, 1L -> true, 2L -> false, 3L -> true))
  }

  test("semDedupTwoLevel: sound drops, exact twins always caught") {
    val spark2 = spark
    import spark2.implicits._
    // 40 pseudo-random 16-dim base vectors + 8 exact twins (id 100+i of
    // i): an identical vector shares its original's coarse AND fine
    // cell and ranks behind it (vec_id tiebreak at equal distance), so
    // a twin must ALWAYS drop — even if its original itself drops to a
    // third vector v (then cos(v, twin) = cos(v, original) ≥ tau and v
    // ranks earlier still)
    val base = (0 until 40).map { i =>
      val v = Array.tabulate(16)(j =>
        math.sin(i * 7919.0 + j * 104729.0).toFloat)
      (i.toLong, v.toSeq)
    }
    val twins = (0 until 8).map(i => (100L + i, base(i)._2))
    val vs = (base ++ twins).toDF("vec_id", "embedding")
    val out = Similarity.semDedupTwoLevel(vs, tau = 0.95,
      coarseCells = 3, fineCells = 3, iters = 2).collect()
    val kept = out.filter(_.getAs[Boolean]("is_kept")).map(_.getAs[Long]("vec_id")).toSet
    val dropped = out.filterNot(_.getAs[Boolean]("is_kept")).map(_.getAs[Long]("vec_id")).toSet
    // recall: every planted twin dropped
    (0 until 8).foreach { i =>
      assert(dropped.contains(100L + i), s"twin ${100 + i} must drop")
    }
    // soundness: every drop is justified by SOME lower-ranked cellmate
    // at cos ≥ tau (kept or itself dropped — the SemDeDup rule compares
    // against every earlier cellmate, same as the flat path)
    val byId = out.map(r => r.getAs[Long]("vec_id") -> r).toMap
    val vecs = (base ++ twins).toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    dropped.foreach { d =>
      val rd = byId(d)
      val ok = out.exists { r =>
        r.getAs[Long]("cell") == rd.getAs[Long]("cell") &&
          r.getAs[Long]("rk") < rd.getAs[Long]("rk") &&
          cos(vecs(r.getAs[Long]("vec_id")), vecs(d)) >= 0.95 - 1e-4
      }
      assert(ok, s"drop $d has no qualifying earlier cellmate")
    }
    // and no kept vector should have been droppable: completeness
    kept.foreach { kId =>
      val rk = byId(kId)
      val shouldDrop = out.exists { r =>
        r.getAs[Long]("cell") == rk.getAs[Long]("cell") &&
          r.getAs[Long]("rk") < rk.getAs[Long]("rk") &&
          cos(vecs(r.getAs[Long]("vec_id")), vecs(kId)) >= 0.95 + 1e-4
      }
      assert(!shouldDrop, s"kept $kId had an earlier cellmate over tau")
    }
    // every vector accounted for exactly once
    assert(out.length == 48 && (kept ++ dropped).size == 48)
  }

  test("semDedupRung: IVF sizing and the flat/two-level boundary") {
    // cells = ceil(sqrt(n)); flat while cells <= 64
    assert(Similarity.semDedupRung(1L) == Left(1))
    assert(Similarity.semDedupRung(550L) == Left(24))
    assert(Similarity.semDedupRung(4096L) == Left(64)) // boundary: 64 cells, still flat
    assert(Similarity.semDedupRung(4225L) == Right((9, 9))) // 65 cells -> side ceil(sqrt(65))=9
    assert(Similarity.semDedupRung(100000000L) == Right((100, 100))) // 1e8 vectors: 10k cells
  }

  test("semDedupAuto: both rungs drop the planted twins; each rung's " +
      "output is byte-identical to its explicit twin") {
    val spark2 = spark
    import spark2.implicits._
    val base = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(16)(j =>
        math.sin(i * 7919.0 + j * 104729.0).toFloat).toSeq)
    }
    val twins = (0 until 8).map(i => (100L + i, base(i)._2))
    val vs = (base ++ twins).toDF("vec_id", "embedding")
    def keyOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
        r.getAs[Double]("d"), r.getAs[Long]("rk"), r.getAs[Boolean]("is_kept"))).toSeq
    // n=48 -> Left(7): the auto path IS the flat path with cells=7
    val auto = keyOf(Similarity.semDedupAuto(vs, 0.95, 2))
    assert(auto == keyOf(Similarity.semDedup(vs, 0.95, 7, 2)))
    // forced past the boundary (maxFlatCells=1): cells=7 -> side=3 ->
    // the auto path IS the two-level path with coarse=fine=3
    val auto2 = keyOf(Similarity.semDedupAuto(vs, 0.95, 2, maxFlatCells = 1))
    assert(auto2 == keyOf(Similarity.semDedupTwoLevel(vs, 0.95, 3, 3, 2)))
    // both rungs agree on the semantics that matter: every planted twin
    // drops, on the flat AND the two-level rung
    def droppedOf(rows: Seq[(Long, Long, Double, Long, Boolean)]) =
      rows.filterNot(_._5).map(_._1).toSet
    (0 until 8).foreach { i =>
      assert(droppedOf(auto).contains(100L + i), s"flat rung must drop twin ${100 + i}")
      assert(droppedOf(auto2).contains(100L + i), s"two-level rung must drop twin ${100 + i}")
    }
  }

  test("semDedupSized: fixed-size cells equal the explicit-cells twin; " +
      "hiRankCap bounds who can DROP, never who drops") {
    val spark2 = spark
    import spark2.implicits._
    val base = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(16)(j =>
        math.sin(i * 7919.0 + j * 104729.0).toFloat).toSeq)
    }
    val twins = (0 until 8).map(i => (100L + i, base(i)._2))
    val vs = (base ++ twins).toDF("vec_id", "embedding")
    def keyOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
        r.getAs[Double]("d"), r.getAs[Long]("rk"), r.getAs[Boolean]("is_kept"))).toSeq
    // n=48, size=16 -> cells=3 (flat rung); the default cap 4·16=64
    // exceeds every cell population, so sized == explicit semDedup(3)
    val sized = keyOf(Similarity.semDedupSized(vs, 0.95, targetCellSize = 16))
    assert(sized == keyOf(Similarity.semDedup(vs, 0.95, 3, 2)))
    // n=48, size=1 -> cells=48 > maxFlatCells=16 -> two-level side=7
    val sized2 = keyOf(Similarity.semDedupSized(vs, 0.95, targetCellSize = 1,
      maxFlatCells = 16, hiRankCap = 0))
    assert(sized2 == keyOf(Similarity.semDedupTwoLevel(vs, 0.95, 7, 7, 2)))
    // cap semantics: with hiRankCap=1 only each cell's top-ranked row
    // references — an exact twin of the TOP row still drops (recall on
    // the planted pattern survives the cap), and every capped drop is
    // also an uncapped drop (pure under-drop, never a new drop)
    val capped = keyOf(Similarity.semDedupSized(vs, 0.95, targetCellSize = 16,
      hiRankCap = 1))
    val uncappedDrops = sized.filterNot(_._5).map(_._1).toSet
    val cappedDrops = capped.filterNot(_._5).map(_._1).toSet
    assert(cappedDrops.subsetOf(uncappedDrops))
    val topByCell = capped.filter(_._4 == 1L).map(r => r._2 -> r._1).toMap
    capped.filter(r => r._4 > 1L && topByCell.get(r._2).exists(t =>
        twins.exists(tw => tw._1 == r._1 && base(t.toInt)._2 == tw._2)))
      .foreach(r => assert(!r._5, s"twin ${r._1} of its cell top must still drop"))
  }

  test("autoTrainSample: floor at 65536, 256 rows per centroid above it") {
    assert(Similarity.autoTrainSample(8) == 65536)
    assert(Similarity.autoTrainSample(256) == 65536)
    assert(Similarity.autoTrainSample(257) == 65792)
    assert(Similarity.autoTrainSample(800) == 204800)
  }

  test("normQuality flags NaN, zero, and magnitude-outlier vectors only") {
    val spark2 = spark
    import spark2.implicits._
    // slightly varied magnitudes so the MAD is nonzero (a constant-norm
    // corpus legitimately disables the outlier rule — next test)
    val rows =
      (0L until 20L).map(i =>
        (i, (0 until 64).map(_ => 0.5f * (1.0f + i * 0.01f)))) ++ Seq(
        (100L, (0 until 64).map(j => if (j == 0) Float.NaN else 0.5f)),
        (101L, (0 until 64).map(_ => 0.0f)),
        (102L, (0 until 64).map(_ => 500.0f))) // magnitude outlier
    val d = rows.toDF("vec_id", "embedding")
    val r = Similarity.normQuality(d).collect()
      .map(x => x.getAs[Long]("vec_id") -> x).toMap
    assert(r(100L).getAs[Int]("n_bad") == 1 && r(100L).getAs[Boolean]("flagged"))
    assert(r(101L).getAs[Boolean]("is_zero") && r(101L).getAs[Boolean]("flagged"))
    assert(r(102L).getAs[Boolean]("mag_outlier") && r(102L).getAs[Boolean]("flagged"))
    (0L until 20L).foreach(i => assert(!r(i).getAs[Boolean]("flagged"), s"vec $i"))
  }

  test("normQuality: zero MAD disables the outlier rule instead of flagging all") {
    val spark2 = spark
    import spark2.implicits._
    // every norm identical -> MAD = 0: nothing is an outlier
    val d = (0L until 10L).map(i => (i, (0 until 64).map(_ => 1.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.normQuality(d).collect()
    assert(r.forall(!_.getAs[Boolean]("mag_outlier")))
    assert(r.forall(!_.getAs[Boolean]("flagged")))
  }

  test("semDedupSized derives N from the corpus-count cache on keyed re-invocation") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val key = "simspec#countcache"
    assert(Similarity.cachedCorpusCount(spark, key).isEmpty)
    Similarity.semDedupSized(e, 0.95, targetCellSize = 64, iters = 2,
      corpusKey = Some(key)).write.format("noop").mode("overwrite").save()
    val n = Similarity.cachedCorpusCount(spark, key)
    assert(n.contains(e.count()), s"cache should hold N after the keyed call, got $n")
    // a keyed re-derivation must launch ZERO Spark jobs — the count
    // comes from the cache, not a corpus scan
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(Similarity.corpusCount(e, Some(key)) == n.get)
      Thread.sleep(500) // listener bus is async; let any job event land
      assert(jobs.get() == 0,
        s"keyed corpusCount launched ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // the keyless path still counts (no cache key to trust)
    assert(Similarity.corpusCount(e, None) == n.get)
  }
}
