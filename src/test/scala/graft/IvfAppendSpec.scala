package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Similarity, Sink}

/** Incremental IVF index maintenance: append-without-retrain equals
  * assignment with the stored centroids exactly; search over the
  * appended index stays within the recall gate of a fresh-trained
  * index; the drift pre-flight flags a skewed batch and passes a
  * same-distribution one.
  */
class IvfAppendSpec extends SparkSpec {

  /** Synthetic 64-dim corpus around two anchors: even ids near anchor
    * A (coordinates ~1), odd ids near anchor B (coordinates ~-1), with
    * a small deterministic per-vector wobble so vectors are distinct.
    */
  private def twoClusters(ids: Seq[Long], side: Long => Int): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    ids.map { id =>
      val s = side(id)
      val v = (0 until 64).map(j => (s * 1.0 + ((id * 7 + j) % 5) * 0.01).toFloat)
      (id, v)
    }.toDF("vec_id", "embedding")
  }

  test("appendToIvfIndex == assignWithCentroids over the stored centroids") {
    val all = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = all.filter(col("vec_id") < 40)
    val batch = all.filter(col("vec_id") >= 40)
    val dir = Files.createTempDirectory("graft-ivfapp").toString
    Sink.writeIvfIndex(base, dir, Sink.Flat, Sink.Cells(8), iters = 2)
    Sink.appendToIvfIndex(batch, dir)
    val stored = spark.read.parquet(s"$dir/assignment")
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Similarity
      .assignWithCentroids(all, Sink.loadIvfCentroids(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored == expected && stored.size == all.count())
  }

  test("appendToIvfPqIndex == assignment + encoding with the stored artifacts") {
    val all = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-ivfpqapp").toString
    Sink.writeIvfIndex(all.filter(col("vec_id") < 40), dir, Sink.Pq(4, 16, 8), Sink.Cells(8), 2)
    Sink.appendToIvfIndex(all.filter(col("vec_id") >= 40), dir)
    val stored = spark.read.parquet(s"$dir/assignment")
    assert(stored.count() == all.count())
    // coarse cells across base + appended = direct assignment with the
    // stored centroids
    val cells = stored.select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expCells = Similarity
      .assignWithCentroids(all, Sink.loadIvfCentroids(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cells == expCells)
    // codes across base + appended = encoding every subvector with the
    // STORED codebooks — the no-retrain contract, bit-exact
    val pqc = Sink.loadPqCentroids(spark, dir)
    val expCodes = (0 until 4).flatMap { s0 =>
      Similarity.assignWithCentroids(
          all.select(col("vec_id"),
            expr(s"slice(embedding, ${s0 * 16 + 1}, 16)").as("embedding")),
          pqc.filter(col("sub") === s0).select("cell", "c"))
        .collect().map(r => (r.getLong(0), s0, r.getLong(1)))
    }.toSet
    val gotCodes = stored.select(col("vec_id"), posexplode(col("codes")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(gotCodes == expCodes)
  }

  test("search after append stays within the recall gate of fresh-trained") {
    // sf0.01 (500 vectors, base 400) — the oracle query's split; the
    // 50-vector sf0.001 fixture is too small for stable centroids
    // (8 cells from 40 training points puts quantization noise above
    // the gate width)
    val all = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val appendDir = Files.createTempDirectory("graft-ivfapp2").toString
    Sink.writeIvfIndex(all.filter(col("vec_id") < 400), appendDir, Sink.Flat, Sink.Cells(8), 2)
    Sink.appendToIvfIndex(all.filter(col("vec_id") >= 400), appendDir)
    val freshDir = Files.createTempDirectory("graft-ivffresh").toString
    Sink.writeIvfIndex(all, freshDir, Sink.Flat, Sink.Cells(8), 2)
    val truth = Similarity.bruteForceTopK(all, 10, 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    def recall(dir: String): Double = {
      val got = Sink.searchIvfIndex(spark, all, dir, 10, 3)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val (ra, rf) = (recall(appendDir), recall(freshDir))
    assert(ra >= 0.5, s"append-path recall $ra below gate")
    assert(ra >= rf - 0.2, s"append-path recall $ra too far below fresh $rf")
  }

  test("streamed drop-at-a-time ingestion lands the identical index") {
    val all = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-ivfstream").toString
    Sink.writeIvfIndex(all.filter(col("vec_id") < 40), s"$dir/index", Sink.Flat, Sink.Cells(8), 2)
    val batch = all.filter(col("vec_id") >= 40)
    Seq(0, 1).foreach { r =>
      batch.filter(pmod(col("vec_id"), lit(2)) === r)
        .select("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/drops/drop=$r")
    }
    graft.streaming.IvfStream.runAppendReplay(
      spark, s"$dir/drops/drop=*", s"$dir/index", s"$dir/ckpt")
    val stored = spark.read.parquet(s"$dir/index/assignment")
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Similarity
      .assignWithCentroids(all, Sink.loadIvfCentroids(spark, s"$dir/index"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored == expected && stored.size == all.count())
  }

  test("code drift: a shifted subspace flags retrain for that subspace only") {
    val all = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val dir = Files.createTempDirectory("graft-pqdrift").toString
    Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Pq(4, 16, 8), Sink.Cells(8), 2)
    // batch whose FIRST subvector (dims 1-16) shifts by +10: its
    // sub-0 codes collapse onto the nearest stored codebook entry
    // while subspaces 1-3 keep the training distribution
    val shifted = all.filter(col("vec_id") >= 400).select(col("vec_id"),
      expr("transform(embedding, (x, i) -> IF(i < 16, CAST(x + 10.0 AS FLOAT), x))")
        .as("embedding"))
    val bad = Sink.ivfPqCodeDrift(spark, shifted, dir).collect()
    val flags = bad.groupBy(_.getAs[Int]("sub"))
      .map { case (s, rows) => s -> rows.head.getAs[Boolean]("retrain_due") }
    assert(flags(0), s"shifted subspace must flag: $flags")
    assert(!flags(1) && !flags(2) && !flags(3),
      s"unshifted subspaces must stay quiet: $flags")
    // a same-distribution batch flags nothing
    val ok = Sink.ivfPqCodeDrift(spark,
      all.filter(col("vec_id") >= 400), dir).collect()
    assert(ok.forall(!_.getAs[Boolean]("retrain_due")))
    // the verdict is advisory: nothing was appended
    assert(spark.read.parquet(s"$dir/assignment").count() == 400)
  }

  test("compactIvfIndex: one file per cell after appends, search unchanged") {
    val all = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-ivfcompact").toString
    Sink.writeIvfIndex(all.filter(col("vec_id") < 30), dir, Sink.Flat, Sink.Cells(8), iters = 2)
    // three append batches: each leaves one file per touched cell
    (0 until 3).foreach { r =>
      Sink.appendToIvfIndex(
        all.filter(col("vec_id") >= 30 && pmod(col("vec_id"), lit(3)) === r), dir)
    }
    def cellFiles(): Map[String, Int] =
      new java.io.File(s"$dir/assignment").listFiles()
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val before = Sink.searchIvfIndex(spark, all, dir, 10, 3)
      .collect().map(_.toSeq).toSeq
    assert(cellFiles().values.exists(_ > 1),
      "fixture must accumulate multiple files per cell before compaction")
    Sink.compactIvfIndex(spark, dir)
    assert(cellFiles().values.forall(_ == 1),
      s"compaction must leave one file per cell: ${cellFiles()}")
    val after = Sink.searchIvfIndex(spark, all, dir, 10, 3)
      .collect().map(_.toSeq).toSeq
    assert(after == before, "compaction changed search results")
  }

  test("maintainIvfIndex: balanced batches append then compact on cadence; skewed batch retrains") {
    val base = twoClusters(0L until 20L, id => if (id % 2 == 0) 1 else -1)
    val dir = Files.createTempDirectory("graft-ivfmaint").toString + "/index"
    Sink.writeIvfIndex(base, dir, Sink.Flat, Sink.Cells(2), iters = 2)

    // batch 1, balanced → APPEND branch: PSI under threshold, rows fold
    // in, file count grows (one sliver per touched cell), no compaction
    // yet (2 files/cell < cadence 3)
    val b1 = twoClusters(100L until 110L, id => if (id % 2 == 0) 1 else -1)
    val log1 = Sink.maintainIvfIndex(spark, b1, dir, compactFilesPerCell = 3).head()
    assert(log1.getAs[String]("action") == "append" &&
      !log1.getAs[Boolean]("retrain_due"))
    assert(log1.getAs[Long]("n_stored_before") == 20 &&
      log1.getAs[Long]("n_batch") == 10 && log1.getAs[Long]("n_after") == 30)
    assert(!log1.getAs[Boolean]("compacted"))
    assert(log1.getAs[Int]("files_after") > log1.getAs[Int]("files_before"))

    // batch 2, balanced → append reaches 3 files/cell → compaction
    // fires on the cadence and folds the layout back to 1 file/cell
    val b2 = twoClusters(110L until 120L, id => if (id % 2 == 0) 1 else -1)
    val log2 = Sink.maintainIvfIndex(spark, b2, dir, compactFilesPerCell = 3).head()
    assert(log2.getAs[String]("action") == "append")
    assert(log2.getAs[Boolean]("compacted"),
      s"cadence 3 files/cell must trigger compaction: $log2")
    assert(log2.getAs[Int]("files_after") == 2, // one file per cell
      s"compaction must leave one file per cell: $log2")
    assert(log2.getAs[Long]("n_after") == 40)

    // batch 3, all on the A side → RETRAIN branch: PSI crosses the
    // threshold, the index is rebuilt on stored ∪ batch via the
    // sibling-tree swap, and serving picks the new generation up
    val skew = twoClusters(200L until 210L, _ => 1)
    val log3 = Sink.maintainIvfIndex(spark, skew, dir).head()
    assert(log3.getAs[String]("action") == "retrain" &&
      log3.getAs[Boolean]("retrain_due"))
    assert(log3.getAs[Double]("psi") > 0.25)
    assert(log3.getAs[Long]("n_after") == 50)
    val back = spark.read.parquet(s"$dir/assignment")
    assert(back.count() == 50, "retrained index must hold stored ∪ batch")
    // retrain leaves the one-file-per-cell layout of a fresh write
    assert(log3.getAs[Int]("files_after") == 2)
    assert(Sink.searchIvfIndex(spark, base, dir, 5, 3).count() == 15)
    // no swap debris left behind
    assert(!new java.io.File(dir + "__retrain").exists() &&
      !new java.io.File(dir + "__old").exists())
  }

  test("compactIvfIndexSelective rewrites ONLY fragmented cells; untouched cells byte-identical") {
    val all = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-ivfselcomp").toString
    Sink.writeIvfIndex(all.filter(col("vec_id") < 400), dir, Sink.Flat, Sink.Cells(8), iters = 2)
    // fragment a SUBSET of cells: append only vectors whose
    // stored-centroid assignment lands in cells 0-2
    val cent = Sink.loadIvfCentroids(spark, dir)
    val batch = Similarity.assignWithCentroids(
        all.filter(col("vec_id") >= 400), cent)
      .filter(col("cell") < 3).select("vec_id")
      .join(all, "vec_id").select("vec_id", "embedding")
    Sink.appendToIvfIndex(batch, dir)
    val before = Sink.searchIvfIndex(spark, all, dir, 10, 3)
      .collect().map(_.toSeq).toSeq

    def fileState(): Map[String, (Long, String)] = {
      import scala.jdk.CollectionConverters._
      val base = java.nio.file.Paths.get(s"$dir/assignment")
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.toString.endsWith(".parquet"))
        .map { p =>
          val bytes = java.nio.file.Files.readAllBytes(p)
          val md = java.security.MessageDigest.getInstance("MD5")
          base.relativize(p).toString -> (bytes.length.toLong,
            md.digest(bytes).map("%02x".format(_)).mkString)
        }.toMap
    }
    val counts = Sink.cellFileCounts(spark, s"$dir/assignment")
    assert(counts.values.exists(_ > 1) && counts.values.exists(_ == 1),
      s"fixture needs mixed fragmentation, got $counts")
    val st0 = fileState()
    val n = Sink.compactIvfIndexSelective(spark, dir, minFilesPerCell = 2)
    assert(n == counts.count(_._2 > 1), s"compacted $n cells, counts $counts")
    assert(Sink.cellFileCounts(spark, s"$dir/assignment").values.forall(_ == 1))
    // the single-file (untouched) cells kept their exact bytes —
    // dynamic overwrite never read or rewrote them
    val st1 = fileState()
    val untouched = counts.filter(_._2 == 1).keySet.map(c => s"cell=$c/")
    def sliceOf(st: Map[String, (Long, String)]) =
      st.filter { case (path, _) => untouched.exists(path.startsWith) }
    assert(sliceOf(st0) == sliceOf(st1),
      "untouched cell files changed under selective compaction")
    val after = Sink.searchIvfIndex(spark, all, dir, 10, 3)
      .collect().map(_.toSeq).toSeq
    assert(after == before, "selective compaction changed search results")
    // the structural claim behind "cost ∝ fragmented slice": an isin
    // on the cell partition column must prune at the DIRECTORY level
    // (PartitionFilters), so untouched cells are never READ either —
    // the literal-list shape selective compaction's read side uses
    val sliced = spark.read.parquet(s"$dir/assignment")
      .filter(col("cell").isin(Seq(0L, 1L, 2L): _*))
    sliced.collect()
    val plan = sliced.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"cell isin must partition-prune:\n${plan.take(1200)}")
  }

  test("maintainIvfPqIndex: manifest-driven geometry, append and retrain branches") {
    val base = twoClusters(0L until 20L, id => if (id % 2 == 0) 1 else -1)
    val dir = Files.createTempDirectory("graft-ivfpqmaint").toString + "/index"
    Sink.writeIvfIndex(base, dir, Sink.Pq(4, 16, 8), Sink.Cells(2), iters = 2)
    // the operator reads cells/m/subDim/k from the manifest — no
    // geometry params in the call at all
    val b1 = twoClusters(100L until 110L, id => if (id % 2 == 0) 1 else -1)
    val log1 = Sink.maintainIvfIndex(spark, b1, dir).head()
    assert(log1.getAs[String]("action") == "append" &&
      !log1.getAs[Boolean]("retrain_due"),
      s"balanced batch must append: $log1")
    assert(log1.getAs[Long]("n_after") == 30)
    // appended rows carry codes encoded against the STORED codebooks
    val appended = spark.read.parquet(s"$dir/assignment")
      .filter(col("vec_id") >= 100)
    assert(appended.count() == 10 &&
      appended.selectExpr("size(codes) AS m").collect().forall(_.getInt(0) == 4))
    // skewed batch (all A-side) crosses the coarse tripwire → both
    // tiers retrain on stored ∪ batch; search serves the new generation
    val skew = twoClusters(200L until 210L, _ => 1)
    val log2 = Sink.maintainIvfIndex(spark, skew, dir).head()
    assert(log2.getAs[String]("action") == "retrain" &&
      log2.getAs[Boolean]("retrain_due"))
    assert(log2.getAs[Double]("psi_coarse") > 0.25)
    assert(log2.getAs[Long]("n_after") == 40)
    assert(spark.read.parquet(s"$dir/assignment").count() == 40)
    assert(Sink.searchIvfPqIndex(spark, base, dir, 5, 3, 10).count() == 15)
    assert(!new java.io.File(dir + "__retrain").exists() &&
      !new java.io.File(dir + "__old").exists())
  }

  test("runMaintainReplay: per-drop decisions logged, drifted middle drop retrains mid-stream") {
    val base = twoClusters(0L until 20L, id => if (id % 2 == 0) 1 else -1)
    val root = Files.createTempDirectory("graft-maintstream").toString
    Sink.writeIvfIndex(base, s"$root/index", Sink.Flat, Sink.Cells(2), iters = 2)
    // drop a: balanced → append; drop b: all A-side → RETRAIN
    // mid-stream; drop c: balanced → append into the NEW generation
    val drops = Seq(
      "a" -> twoClusters(100L until 110L, id => if (id % 2 == 0) 1 else -1),
      "b" -> twoClusters(200L until 210L, _ => 1),
      "c" -> twoClusters(110L until 120L, id => if (id % 2 == 0) 1 else -1))
    drops.zipWithIndex.foreach { case ((tag, df), i) =>
      val p = s"$root/drops/drop=$tag"
      df.coalesce(1).write.mode("overwrite").parquet(p)
      // FileStreamSource orders drops by modification time — pin it so
      // the replay processes a, b, c deterministically
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
        .foreach(f => assert(f.toFile.setLastModified(1000000000000L + i * 60000L)))
    }
    graft.streaming.IvfStream.runMaintainReplay(
      spark, s"$root/drops/drop=*", s"$root/index", s"$root/ckpt", s"$root/log")
    val log = spark.read.parquet(s"$root/log").orderBy("batch_id").collect()
    assert(log.map(_.getAs[String]("action")).toSeq ==
      Seq("append", "retrain", "append"),
      s"expected append/retrain/append, got ${log.mkString("; ")}")
    assert(!log(0).getAs[Boolean]("retrain_due") &&
      log(1).getAs[Boolean]("retrain_due") &&
      !log(2).getAs[Boolean]("retrain_due"))
    // counts chain through the generations: 20 → 30 → retrain(40) → 50
    assert(log.map(_.getAs[Long]("n_after")).toSeq == Seq(30L, 40L, 50L))
    assert(spark.read.parquet(s"$root/index/assignment").count() == 50)
    // the final index serves immediately
    assert(Sink.searchIvfIndex(spark, base, s"$root/index", 5, 3).count() == 15)
  }

  test("runSq8MaintainReplay: int8 tier decisions logged, drifted middle drop retrains mid-stream") {
    val base = twoClusters(0L until 20L, id => if (id % 2 == 0) 1 else -1)
    val root = Files.createTempDirectory("graft-sq8maintstream").toString
    Sink.writeIvfIndex(base, s"$root/index", Sink.Sq8, Sink.Cells(2), iters = 2)
    val drops = Seq(
      "a" -> twoClusters(100L until 110L, id => if (id % 2 == 0) 1 else -1),
      "b" -> twoClusters(200L until 210L, _ => 1),
      "c" -> twoClusters(110L until 120L, id => if (id % 2 == 0) 1 else -1))
    drops.zipWithIndex.foreach { case ((tag, df), i) =>
      val p = s"$root/drops/drop=$tag"
      df.coalesce(1).write.mode("overwrite").parquet(p)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
        .foreach(f => assert(f.toFile.setLastModified(1000000000000L + i * 60000L)))
    }
    graft.streaming.IvfStream.runMaintainReplay(
      spark, s"$root/drops/drop=*", s"$root/index", s"$root/ckpt", s"$root/log")
    val log = spark.read.parquet(s"$root/log").orderBy("batch_id").collect()
    assert(log.map(_.getAs[String]("action")).toSeq ==
      Seq("append", "retrain", "append"),
      s"expected append/retrain/append, got ${log.mkString("; ")}")
    assert(log.map(_.getAs[Long]("n_after")).toSeq == Seq(30L, 40L, 50L))
    val stored = spark.read.parquet(s"$root/index/assignment")
    assert(stored.count() == 50)
    // the retrain rebuilt the INT8 layout (codes + norms), not the
    // float one, and the final index serves through the SQ8 path
    assert(Seq("q", "n2", "ma").forall(stored.columns.contains))
    assert(Sink.searchIvfSq8Index(spark, base, s"$root/index", 5, 3).count() == 15)
  }

  test("drift pre-flight: skewed batch flags retrain, balanced does not") {
    val base = twoClusters(0L until 20L, id => if (id % 2 == 0) 1 else -1)
    val dir = Files.createTempDirectory("graft-ivfdrift").toString
    // cells=2 with seed vectors 0 (A-side) and 1 (B-side)
    Sink.writeIvfIndex(base, dir, Sink.Flat, Sink.Cells(2), iters = 2)
    val balanced = twoClusters(100L until 110L, id => if (id % 2 == 0) 1 else -1)
    val skewed = twoClusters(200L until 210L, _ => 1) // all on the A side
    val ok = Sink.ivfAppendDrift(spark, balanced, dir).collect()
    assert(ok.forall(!_.getAs[Boolean]("retrain_due")))
    assert(ok.head.getAs[Double]("psi") < 0.05)
    val bad = Sink.ivfAppendDrift(spark, skewed, dir).collect()
    assert(bad.forall(_.getAs[Boolean]("retrain_due")))
    assert(bad.head.getAs[Double]("psi") > 0.25)
    // the verdict is advisory: nothing was appended by the pre-flight
    assert(spark.read.parquet(s"$dir/assignment").count() == 20)
  }

  test("drift verdict is null-calibrated: a tiny undrifted batch reads its smoothing floor, not drift") {
    // a finite same-distribution batch against many cells reads a
    // NONZERO smoothed PSI — expectation ≈ (cells−1)(1/t_new +
    // 1/t_stored). The raw `psi > threshold` rule mistakes that floor
    // for drift (measured at ×100: PSI 0.686 on a no-drift batch →
    // spurious 19-minute retrain); the verdict subtracts the floor.
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-ivfnull").toString
    Sink.writeIvfIndex(e.filter(col("vec_id") < 400), dir, Sink.Flat, Sink.Cells(8), iters = 2)
    // 10 vectors / 8 cells: DuckDB-mirrored fixture values — psi
    // 0.271941 (the raw 0.25 rule WOULD flag), floor 0.7175
    val tiny = e.filter(col("vec_id") >= 400 && col("vec_id") < 410)
    val rows = Sink.ivfAppendDrift(spark, tiny, dir).collect()
    val h = rows.head
    assert(math.abs(h.getAs[Double]("psi") - 0.271941) < 1e-6)
    assert(h.getAs[Double]("psi") > 0.25,
      "fixture must sit where the uncalibrated rule fires")
    // floor = (8−1) × (1/10 + 1/400) = 0.7175 exactly
    assert(math.abs(h.getAs[Double]("psi_null") - 0.7175) < 1e-6)
    assert(rows.forall(!_.getAs[Boolean]("retrain_due")),
      "undrifted batch at its smoothing floor must not flag a retrain")
    // and a genuinely drifted batch still clears floor + threshold:
    // shift every coordinate by +10 — far outside the corpus
    val drifted = tiny.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x + 10.0 AS FLOAT))").as("embedding"))
    val flagged = Sink.ivfAppendDrift(spark, drifted, dir).collect()
    assert(flagged.forall(_.getAs[Boolean]("retrain_due")),
      s"shifted batch must clear the calibrated bar: ${flagged.head}")
  }

  test("kind guard: cross-layout maintenance and appends fail loudly, index untouched") {
    val base = twoClusters(0L until 20L, id => if (id % 2 == 0) 1 else -1)
    val batch = twoClusters(100L until 110L, id => if (id % 2 == 0) 1 else -1)
    // append and maintain take the layout from the index itself: a PQ
    // tree stays a PQ tree (appended rows carry codes, codebooks kept)
    val dirPq = Files.createTempDirectory("graft-kindpq").toString + "/index"
    Sink.writeIvfIndex(base, dirPq, Sink.Pq(4, 16, 8), Sink.Cells(2), iters = 2)
    Sink.appendToIvfIndex(batch, dirPq)
    val stored = spark.read.parquet(s"$dirPq/assignment")
    assert(stored.count() == 30 && stored.filter(col("codes").isNull).count() == 0)
    assert(spark.read.parquet(s"$dirPq/pq_centroids").count() > 0)
    // a non-IVF index is refused before any mutation
    val dirText = Files.createTempDirectory("graft-kindtext").toString + "/index"
    Sink.writeDedupIndex(spark.createDataFrame(Seq(
      (0L, "the quick brown fox jumps over the lazy dog"))).toDF("doc_id", "text"),
      dirText)
    val e1 = intercept[IllegalArgumentException] {
      Sink.maintainIvfIndex(spark, batch, dirText) }
    assert(e1.getMessage.contains("kind 'dedup_text'"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Sink.appendToIvfIndex(batch, dirText) }
    assert(e2.getMessage.contains("kind 'dedup_text'"), e2.getMessage)
    assert(!new java.io.File(s"$dirText/assignment").exists())
    // the PQ search refuses a layout without codes
    val dirIvf = Files.createTempDirectory("graft-kindivf").toString + "/index"
    Sink.writeIvfIndex(base, dirIvf, Sink.Flat, Sink.Cells(2), iters = 2)
    val e3 = intercept[IllegalArgumentException] {
      Sink.searchIvfPqIndex(spark, base, dirIvf, 5, 3, 10) }
    assert(e3.getMessage.contains("kind 'ivf'"), e3.getMessage)
  }

  test("legacy PQ index: maintenance derives the written geometry instead of defaulting") {
    val base = twoClusters(0L until 40L, id => if (id % 2 == 0) 1 else -1)
    // the same rule for every codec: a 4-cell legacy index must not
    // retrain to a default or caller-supplied 8
    Seq(Sink.Pq(4, 16, 8), Sink.Flat, Sink.Sq8).foreach { codec =>
      val dir = Files.createTempDirectory("graft-legacygeo").toString + "/index"
      Sink.writeIvfIndex(base, dir, codec, Sink.Cells(4), iters = 2)
      val cellsWritten = spark.read.parquet(s"$dir/centroids")
        .select("cell").distinct().count()
      val columnsWritten = spark.read.parquet(s"$dir/assignment").columns.toSeq
      // strip the manifest — the pre-manifest on-disk layout
      assert(new java.io.File(s"$dir/_graft_manifest.json").delete())
      // drifted batch → retrain: the rebuilt index must keep the WRITTEN
      // cell count and layout
      val skew = twoClusters(200L until 220L, _ => 1)
      val log = Sink.maintainIvfIndex(spark, skew, dir).head()
      assert(log.getAs[String]("action") == "retrain",
        s"${codec.kind}: skew must retrain: $log")
      val cellsAfter = spark.read.parquet(s"$dir/centroids")
        .select("cell").distinct().count()
      assert(cellsAfter == cellsWritten, s"${codec.kind}: retrain must " +
        s"preserve the written cell count $cellsWritten, got $cellsAfter")
      assert(spark.read.parquet(s"$dir/assignment").columns.toSeq == columnsWritten,
        s"${codec.kind}: retrain must keep the written layout")
    }
  }

  test("tombstone delete: masked at serve, purged on full compaction, clean tombstones") {
    val spark2 = spark
    import spark2.implicits._
    val base = twoClusters(0L until 20L, id => if (id % 2 == 0) 1 else -1)
    val dir = Files.createTempDirectory("graft-ivfdel").toString + "/index"
    Sink.writeIvfIndex(base, dir, Sink.Flat, Sink.Cells(2), iters = 2)
    val before = Sink.searchIvfIndex(spark, base, dir, nQueries = 4, k = 3)
      .collect()
    // delete two ids that WERE serving as neighbors
    val dead = before.map(_.getAs[Long]("vec_id")).distinct.take(2)
    Sink.deleteFromIvfIndex(spark, dir, dead.toSeq.toDF("vec_id"))
    val after = Sink.searchIvfIndex(spark, base, dir, nQueries = 4, k = 3)
      .collect()
    assert(!after.exists(r => dead.contains(r.getAs[Long]("vec_id"))),
      s"tombstoned ids ${dead.toSeq} still served: ${after.toSeq}")
    // still k results per query — the masked rows are replaced by the
    // next-best live neighbors, not by holes
    assert(after.count(_.getAs[Long]("qid") == 0L) == 3)
    // physical rows still present until a purge
    assert(spark.read.parquet(s"$dir/assignment").count() == 20)
    // appending a tombstoned id does NOT resurrect it
    Sink.appendToIvfIndex(
      twoClusters(Seq(dead.head), _ => 1), dir)
    val afterApp = Sink.searchIvfIndex(spark, base, dir, nQueries = 4, k = 3)
      .collect()
    assert(!afterApp.exists(r => r.getAs[Long]("vec_id") == dead.head),
      "a tombstoned id must stay dead across appends (no purge yet)")
    // full compaction purges physically and clears the tombstones
    Sink.compactIvfIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/assignment")
      .filter(col("vec_id").isin(dead.map(java.lang.Long.valueOf): _*))
      .count() == 0, "purge must drop tombstoned rows physically")
    // clearing is pinned to the consumed FILE SET (a concurrent delete
    // landing mid-compaction keeps its tombstone), so the directory
    // may remain — data-file emptiness is the functional property:
    // tombstones() returns None and search plans are identity again
    assert(Sink.countDataFiles(spark, s"$dir/tombstones") == 0,
      "consumed tombstone files must clear with the purge")
    // search result identical to the pre-compaction masked one
    val afterCompact = Sink.searchIvfIndex(spark, base, dir, nQueries = 4, k = 3)
      .collect()
    assert(afterCompact.map(_.toSeq).toSeq ==
      afterApp.filter(r => r.getAs[Long]("vec_id") != dead.head).map(_.toSeq).toSeq ||
      afterCompact.map(_.toSeq).toSeq == after.map(_.toSeq).toSeq,
      "masking and purging must serve the same live neighbors")
  }

  test("tombstones mask the PQ serving path too (ADC and rerank)") {
    val spark2 = spark
    import spark2.implicits._
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-pqdel").toString + "/index"
    Sink.writeIvfIndex(e, dir, Sink.Pq(4, 16, 8), Sink.Cells(8), iters = 2)
    val before = Sink.searchIvfPqIndex(spark, e, dir, 10, 3, 10).collect()
    val dead = before.map(_.getAs[Long]("vec_id")).distinct.take(3)
    Sink.deleteFromIvfIndex(spark, dir, dead.toSeq.toDF("vec_id"))
    val after = Sink.searchIvfPqIndex(spark, e, dir, 10, 3, 10).collect()
    assert(!after.exists(r => dead.contains(r.getAs[Long]("vec_id"))),
      s"tombstoned ids ${dead.toSeq} still served by the PQ path")
    assert(after.count(_.getAs[Long]("qid") == 0L) == 3,
      "masked candidates must be replaced by next-best live neighbors")
  }

  test("delete guards: empty id set leaves plans untouched, bad dir fails loudly, unknown CDC op fails the stream") {
    val spark2 = spark
    import spark2.implicits._
    val base = twoClusters(0L until 20L, id => if (id % 2 == 0) 1 else -1)
    val root = Files.createTempDirectory("graft-delguard").toString
    val dir = s"$root/index"
    Sink.writeIvfIndex(base, dir, Sink.Flat, Sink.Cells(2), iters = 2)
    // an empty delete must not write a schema-only tombstone file that
    // flips every future search onto the anti-join plan
    Sink.deleteFromIvfIndex(spark, dir, Seq.empty[Long].toDF("vec_id"))
    assert(!new java.io.File(s"$dir/tombstones").exists(),
      "empty delete must not create a tombstones table")
    // a typo'd dir must fail loudly, not silently no-op beside the
    // real index
    val e = intercept[IllegalArgumentException] {
      Sink.deleteFromIvfIndex(spark, s"$root/nope", Seq(1L).toDF("vec_id"))
    }
    assert(e.getMessage.contains("no index"), e.getMessage)
    // a CDC drop with an op the replay doesn't know must fail the
    // stream — those rows would otherwise vanish from the index
    base.limit(1).select(col("vec_id"), col("embedding"),
        lit("upsert").as("op"))
      .coalesce(1).write.parquet(s"$root/drops/drop=bad")
    val se = intercept[Exception] {
      graft.streaming.IvfStream.runCdcReplay(
        spark, s"$root/drops/drop=*", dir, s"$root/ckpt")
    }
    val msgs = Iterator.iterate(se: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains("unknown op"), msgs.take(500))
  }

  test("CDC replay: interleaved adds and deletes land the one-shot result") {
    val spark2 = spark
    import spark2.implicits._
    val base = twoClusters(0L until 20L, id => if (id % 2 == 0) 1 else -1)
    val root = Files.createTempDirectory("graft-cdc").toString
    // one-shot twin: append everything, then delete
    val oneDir = s"$root/oneshot"
    Sink.writeIvfIndex(base, oneDir, Sink.Flat, Sink.Cells(2), iters = 2)
    val adds = twoClusters(100L until 110L, id => if (id % 2 == 0) 1 else -1)
    Sink.appendToIvfIndex(adds, oneDir)
    Sink.deleteFromIvfIndex(spark, oneDir, Seq(0L, 104L).toDF("vec_id"))
    val expected = Sink.searchIvfIndex(spark, base, oneDir, 4, 3)
      .collect().map(_.toSeq).toSeq
    // CDC replay: the delete drop sits BETWEEN the two add drops, and
    // deletes id 104 before its add arrives — tombstone-wins makes the
    // order irrelevant
    val cdcDir = s"$root/cdc"
    Sink.writeIvfIndex(base, cdcDir, Sink.Flat, Sink.Cells(2), iters = 2)
    adds.filter(col("vec_id") < 105).withColumn("op", lit("add"))
      .coalesce(1).write.parquet(s"$root/drops/drop=a")
    Seq(0L, 104L).toDF("vec_id")
      .select(col("vec_id"), lit(null).cast("array<float>").as("embedding"),
        lit("delete").as("op"))
      .coalesce(1).write.parquet(s"$root/drops/drop=b_del")
    adds.filter(col("vec_id") >= 105).withColumn("op", lit("add"))
      .coalesce(1).write.parquet(s"$root/drops/drop=c")
    graft.streaming.IvfStream.runCdcReplay(
      spark, s"$root/drops/drop=*", cdcDir, s"$root/ckpt")
    val got = Sink.searchIvfIndex(spark, base, cdcDir, 4, 3)
      .collect().map(_.toSeq).toSeq
    assert(got == expected, s"CDC replay diverged from one-shot:\n$got\n$expected")
  }

  test("maintenance retrain purges tombstones and logs live counts") {
    val spark2 = spark
    import spark2.implicits._
    val base = twoClusters(0L until 20L, id => if (id % 2 == 0) 1 else -1)
    val dir = Files.createTempDirectory("graft-ivfdelmaint").toString + "/index"
    Sink.writeIvfIndex(base, dir, Sink.Flat, Sink.Cells(2), iters = 2)
    // 999 was never in the index (an out-of-order CDC delete): the
    // audit must intersect tombstones with the stored ids, not just
    // count the tombstone table
    Sink.deleteFromIvfIndex(spark, dir, Seq(0L, 2L, 4L, 999L).toDF("vec_id"))
    // undrifted batch → append branch: log counts LIVE rows
    val bal = twoClusters(100L until 110L, id => if (id % 2 == 0) 1 else -1)
    val log1 = Sink.maintainIvfIndex(spark, bal, dir).head()
    assert(log1.getAs[String]("action") == "append")
    assert(log1.getAs[Long]("n_stored_before") == 17, s"live stored: $log1")
    assert(log1.getAs[Long]("n_after") == 27, s"live after: $log1")
    // skewed batch → retrain: tombstoned rows die physically and the
    // rebuilt index starts with a clean tombstone set
    val skew = twoClusters(200L until 210L, _ => 1)
    val log2 = Sink.maintainIvfIndex(spark, skew, dir).head()
    assert(log2.getAs[String]("action") == "retrain")
    assert(log2.getAs[Long]("n_after") == 37, s"live after retrain: $log2")
    assert(spark.read.parquet(s"$dir/assignment").count() == 37)
    assert(spark.read.parquet(s"$dir/assignment")
      .filter(col("vec_id").isin(0L, 2L, 4L)).count() == 0)
    assert(!new java.io.File(s"$dir/tombstones").exists())
  }

  test("audit counts masked PHYSICAL rows: a re-appended tombstoned id subtracts twice") {
    val spark2 = spark
    import spark2.implicits._
    val base = twoClusters(0L until 20L, id => if (id % 2 == 0) 1 else -1)
    val dir = Files.createTempDirectory("graft-tombdup").toString + "/index"
    Sink.writeIvfIndex(base, dir, Sink.Flat, Sink.Cells(2), iters = 2)
    Sink.deleteFromIvfIndex(spark, dir, Seq(0L, 2L).toDF("vec_id"))
    // append-no-resurrect: id 0 re-delivered AFTER its delete — a
    // second physical row lands and BOTH stay masked (the
    // deleteFromIvfIndex contract), so the live audit must subtract
    // two masked rows for id 0, not one per distinct tombstoned id
    Sink.appendToIvfIndex(twoClusters(Seq(0L), _ => 1), dir)
    val bal = twoClusters(100L until 110L, id => if (id % 2 == 0) 1 else -1)
    val log = Sink.maintainIvfIndex(spark, bal, dir).head()
    assert(log.getAs[String]("action") == "append", s"expected append: $log")
    // physical 21 (20 base + re-append), masked physical 3 (id 0 twice,
    // id 2 once) → live 18; + 10 live batch rows → 28
    assert(log.getAs[Long]("n_stored_before") == 18, s"live stored: $log")
    assert(log.getAs[Long]("n_after") == 28, s"live after: $log")
    // and the log agrees with count(*) over the MASKED table
    val tomb = spark.read.parquet(s"$dir/tombstones").select("vec_id").distinct()
    val live = spark.read.parquet(s"$dir/assignment")
      .join(tomb, Seq("vec_id"), "left_anti").count()
    assert(live == log.getAs[Long]("n_after"),
      s"decision log n_after=${log.getAs[Long]("n_after")} vs live table $live")
  }

  test("serving tolerates a tombstone file deleted between planning and execution") {
    val spark2 = spark
    import spark2.implicits._
    val base = twoClusters(0L until 20L, id => if (id % 2 == 0) 1 else -1)
    val dir = Files.createTempDirectory("graft-tombrace").toString + "/index"
    Sink.writeIvfIndex(base, dir, Sink.Flat, Sink.Cells(2), iters = 2)
    // two delete calls → two tombstone files (deleteFromIvfIndex
    // appends one file per call)
    Sink.deleteFromIvfIndex(spark, dir, Seq(0L).toDF("vec_id"))
    Sink.deleteFromIvfIndex(spark, dir, Seq(2L).toDF("vec_id"))
    val tombFiles = new java.io.File(s"$dir/tombstones").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert(tombFiles.length == 2, s"expected 2 tombstone files: ${tombFiles.toSeq}")
    val fileOfId0 = tombFiles.find { f =>
      spark.read.parquet(f.getPath).collect().exists(_.getLong(0) == 0L)
    }.get
    // plan the search FIRST (this lists the tombstone files), then
    // simulate a concurrent compaction deleting a consumed tombstone
    // file before the tasks run — the read is pinned to the listed
    // snapshot and must treat the vanished file as empty, not fail
    val planned = Sink.searchIvfIndex(spark, base, dir, nQueries = 5, k = 3)
    assert(fileOfId0.delete())
    val rows = planned.collect()
    assert(rows.nonEmpty, "search must survive the vanished tombstone file")
    // the surviving tombstone file still masks its id
    assert(!rows.exists(_.getAs[Long]("vec_id") == 2L),
      "id 2's tombstone file survived and must still mask it")
  }

  test("a re-delivered vec_id appends once, and the decision log matches the table") {
    val base = twoClusters(0L until 20L, id => if (id % 2 == 0) 1 else -1)
    val dir = Files.createTempDirectory("graft-dupid").toString + "/index"
    Sink.writeIvfIndex(base, dir, Sink.Flat, Sink.Cells(2), iters = 2)
    // vec_id 100 delivered twice (a re-sent drop; the fixture derives
    // the embedding from the id, so the two rows are byte-identical —
    // the realistic duplicate)
    val dup = twoClusters(Seq(100L, 101L, 100L), _ => 1)
    val log = Sink.maintainIvfIndex(spark, dup, dir).head()
    assert(log.getAs[Long]("n_batch") == 2, s"per-id batch count: $log")
    val stored = spark.read.parquet(s"$dir/assignment")
    assert(stored.count() == log.getAs[Long]("n_after"),
      "decision log must agree with count(*) over the index")
    assert(stored.filter(col("vec_id") === 100L).count() == 1,
      "the duplicated id must land exactly once")
  }
}
