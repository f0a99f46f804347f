package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{Quality, Sink}

/** Parquet sink layout: partition pruning, sorted files, snapshot
  * upsert round-trips.
  */
class SinkSpec extends SparkSpec {

  test("writeStocks partitions by symbol and prunes on read") {
    val dir = Files.createTempDirectory("graft-sink").toString + "/stocks"
    val df = bars("AA", Seq(10.0, 11.0, 12.0))
      .unionByName(bars("BB", Seq(20.0, 21.0)))
    Sink.writeStocks(df, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 5)
    val pruned = back.filter(col("symbol") === "AA")
    assert(pruned.count() == 3)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("symbol"), s"expected partition pruning in:\n$plan")
  }

  test("JSONL export round-trips rows and schema exactly") {
    val spark2 = spark
    import spark2.implicits._
    val dir = Files.createTempDirectory("graft-jsonl").toString + "/docs"
    val d = Seq(
      (0L, "plain words", "en", "srcA", 11L),
      (1L, "quotes \" and back\\slash and tab\tline", "de", "srcB", 36L),
      (2L, "", "fr", "srcC", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Sink.exportJsonl(d, dir)
    val back = Sink.readJsonl(spark, dir, d.schema)
    // JSON columns are always nullable on read — names and types must hold
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      d.schema.map(f => (f.name, f.dataType)))
    val a = back.orderBy("doc_id").collect().map(_.toSeq)
    val b = d.orderBy("doc_id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("upsertInto: create, then last-wins merge, idempotent") {
    val dir = Files.createTempDirectory("graft-upsert").toString + "/stocks"
    val v1 = bars("AA", Seq(10.0, 11.0))
    Sink.upsertInto(spark, dir, v1)
    assert(spark.read.parquet(dir).count() == 2)
    // overlapping update: second day revised + a third day appended
    val v2 = bars("AA", Seq(10.0, 99.0, 12.0))
      .filter(col("date") >= lit("2020-01-02").cast("date"))
    Sink.upsertInto(spark, dir, v2)
    val after = spark.read.parquet(dir).orderBy("date").collect()
    assert(after.length == 3)
    assert(after(1).getAs[Double]("close") == 99.0)
    // idempotent re-apply
    Sink.upsertInto(spark, dir, v2)
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("upsertPartitioned rewrites only touched (symbol, year) partitions, byte-identical elsewhere") {
    import java.nio.file.{Files => JFiles, Paths}
    val dir = Files.createTempDirectory("graft-dpo").toString + "/stocks"
    // two symbols × two years
    def yearBars(sym: String, yr: Int, closes: Seq[Double]) =
      bars(sym, closes).withColumn("date",
        add_months(col("date"), (yr - 2020) * 12))
    val v1 = yearBars("AA", 2020, Seq(10.0, 11.0))
      .unionByName(yearBars("AA", 2021, Seq(12.0, 13.0)))
      .unionByName(yearBars("BB", 2020, Seq(20.0, 21.0)))
      .unionByName(yearBars("BB", 2021, Seq(22.0, 23.0)))
    Sink.upsertPartitioned(spark, dir, v1)
    val cols = v1.columns.map(col)
    val snapDf = spark.read.parquet(dir).select(cols: _*)
    val snapshot = snapDf.collect()
    val snapSchema = snapDf.schema

    def fileState(): Map[String, (Long, String)] = {
      val base = Paths.get(dir)
      import scala.jdk.CollectionConverters._
      JFiles.walk(base).iterator().asScala
        .filter(p => JFiles.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map { p =>
          val bytes = JFiles.readAllBytes(p)
          val md = java.security.MessageDigest.getInstance("MD5")
          base.relativize(p).toString -> (bytes.length.toLong,
            md.digest(bytes).map("%02x".format(_)).mkString)
        }.toMap
    }
    val before = fileState()

    // daily-increment cadence: only (AA, 2021) is touched — one revised
    // close and one appended row
    val updates = yearBars("AA", 2021, Seq(12.0, 99.0, 14.0))
      .filter(col("close") > 12.0)
    Sink.upsertPartitioned(spark, dir, updates)

    // (a) result ≡ the snapshot-rewrite Merge.upsert semantics
    val expected = graft.operators.Merge.upsert(
      spark.createDataFrame(
        spark.sparkContext.parallelize(snapshot.toIndexedSeq), snapSchema), updates)
      .select(cols: _*)
    val got = spark.read.parquet(dir).select(cols: _*)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "dynamic-overwrite merge diverged from snapshot merge semantics")
    assert(got.count() == 9)

    // (b) untouched partitions: same files, same bytes
    val after = fileState()
    val untouchedBefore = before.filterNot(_._1.startsWith("symbol=AA/year=2021"))
    val untouchedAfter = after.filterNot(_._1.startsWith("symbol=AA/year=2021"))
    assert(untouchedBefore == untouchedAfter,
      s"untouched partitions changed:\nbefore=$untouchedBefore\nafter=$untouchedAfter")
    // and the touched partition did change
    assert(before.keySet.exists(_.startsWith("symbol=AA/year=2021")))
    assert(after.filter(_._1.startsWith("symbol=AA/year=2021")) !=
      before.filter(_._1.startsWith("symbol=AA/year=2021")))

    // the merge's read side prunes to the touched directories
    val pruned = Sink.prunedTouchedRead(spark, dir, Seq(("AA", 2021)))
    assert(pruned.count() == 3)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("symbol") &&
      plan.contains("year"), s"expected partition pruning in:\n${plan.take(2000)}")
  }

  test("CSV export round-trips (S7: the reference's S3/CSV export path)") {
    val dir = Files.createTempDirectory("graft-csv").toString + "/export"
    val df = bars("AA", Seq(10.0, 11.5, 12.25))
    df.write.option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").schema(df.schema).csv(dir)
    assert(back.count() == 3)
    assert(back.orderBy("date").select("close").collect().map(_.getDouble(0)).toSeq ==
      Seq(10.0, 11.5, 12.25))
  }

  test("bucketed stocks table: symbol window and join plan with NO exchange") {
    import org.apache.spark.sql.expressions.Window
    val df = bars("AA", Seq(10.0, 11.0, 12.0))
      .unionByName(bars("BB", Seq(20.0, 21.0)))
    Sink.writeStocksBucketed(df, "graft_bucketed_spec", buckets = 4)
    val back = spark.table("graft_bucketed_spec")

    val w = Window.partitionBy("symbol").orderBy("date").rowsBetween(-1, 0)
    val windowed = back.withColumn("m", avg("close").over(w))
    windowed.write.format("noop").mode("overwrite").save()
    val windowPlan = windowed.queryExecution.executedPlan.toString
    assert(!windowPlan.contains("Exchange"), windowPlan)
    assert(windowed.count() == 5)

    // symbol-keyed aggregate: partial+final collapse onto the bucket
    // distribution, no shuffle
    val agg = back.groupBy("symbol").agg(max("close"))
    agg.write.format("noop").mode("overwrite").save()
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange"), aggPlan)

    spark.sql("DROP TABLE IF EXISTS graft_bucketed_spec")
  }

  test("writeRejects lands the quality side-output") {
    val dir = Files.createTempDirectory("graft-rej").toString + "/rejects"
    val bad = bars("AA", Seq(10.0)).withColumn("close", lit(-1.0))
    Sink.writeRejects(Quality.rejects(bad), dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 1)
    assert(back.head.getAs[String]("errors").contains("invalid_close"))
  }

  test("index rewrite replaces the WHOLE assignment even under dynamic session overwrite") {
    // the retrain contract: writeIvfIndex-overwrite must discard every
    // appended row of the previous index generation. Under a dynamic
    // session default, a plain overwrite only replaces cells present
    // in the new base — the per-write static option pins the semantics
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = e.count()
    val dir = Files.createTempDirectory("graft-ivfstatic").toString
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try {
      Sink.writeIvfIndex(e, dir, Sink.Flat, Sink.Cells(8), iters = 2)
      val extra = e.select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
      Sink.appendToIvfIndex(extra, dir)
      assert(spark.read.parquet(s"$dir/assignment").count() == 2 * n)
      // generation 2: retrain on a 20-vector base — every generation-1
      // row (base AND appended) must be gone afterwards
      Sink.writeIvfIndex(e.filter(col("vec_id") < 20), dir, Sink.Flat, Sink.Cells(8), iters = 2)
      val back = spark.read.parquet(s"$dir/assignment")
      assert(back.count() == 20,
        s"stale rows from the previous index generation survived: ${back.count()}")
      assert(back.agg(max("vec_id")).head.getLong(0) < 20)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("IVF-PQ index: co-located codes + vectors, two-stage search holds the PQ floor") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val dir = Files.createTempDirectory("graft-ivfpq").toString
    Sink.writeIvfIndex(e, dir, Sink.Pq(4, 16, 8), Sink.Cells(8), iters = 2)
    val back = spark.read.parquet(s"$dir/assignment")
    assert(back.columns.toSet == Set("vec_id", "codes", "embedding", "cell"))
    assert(back.count() == e.count())
    // every vector carries m=4 codes, each a codebook id in [0, 8)
    val codeStats = back.selectExpr("size(codes) AS m",
      "array_max(codes) AS hi", "array_min(codes) AS lo").collect()
    assert(codeStats.forall(r => r.getAs[Int]("m") == 4 &&
      r.getAs[Long]("hi") < 8 && r.getAs[Long]("lo") >= 0))
    val got = Sink.searchIvfIndex(spark, e, dir, 10, 3).collect()
    assert(got.length == 30)
    // recall gates: on the structure-free gaussian fixture nprobe=1
    // IVF-PQ with cand=10 must hold the PLAIN-PQ floor (the cell
    // restriction prunes ADC false positives, it cannot be worse than
    // corpus-wide ADC by more than noise) and an absolute floor
    val truth = graft.operators.Similarity.bruteForceTopK(e, 10, 3).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val mine = got.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val plainPq = graft.operators.Similarity.pqRerankTopK(e, 10, 3, 10).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val rIvfPq = mine.intersect(truth).size.toDouble / truth.size
    val rPlain = plainPq.intersect(truth).size.toDouble / truth.size
    assert(rIvfPq >= 0.3, s"IVF-PQ recall $rIvfPq below the PQ floor")
    assert(rIvfPq >= rPlain - 0.1,
      s"IVF-PQ recall $rIvfPq fell below corpus-wide PQ $rPlain")
  }

  test("stored IVF-PQ search probing every cell equals the in-memory PQ rerank") {
    // both train the codebooks through pqTrained and code each vector
    // through nearestCell, so with all 8 cells probed the stored ADC and
    // rerank see the in-memory tier's candidates and must rank them alike
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val dir = Files.createTempDirectory("graft-ivfpqall").toString
    Sink.writeIvfIndex(e, dir, Sink.Pq(4, 16, 8), Sink.Cells(8), iters = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rnk", "vec_id", "cos").collect().map(_.toSeq).toSeq
    val stored = rows(Sink.searchIvfIndex(spark, e, dir, 10, 3, nprobe = 8))
    assert(stored.size == 30, s"${stored.size} rows served")
    assert(stored == rows(graft.operators.Similarity.pqRerankTopK(e, 10, 3, 10, 4, 16, 8, 2)),
      "stored IVF-PQ search over every cell != in-memory pqRerankTopK")
  }

  test("stored-index search equals in-memory multiprobe at nprobe 2 and 4") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-ivfmp").toString
    Sink.writeIvfIndex(e, dir, Sink.Flat, Sink.Cells(8), iters = 2)
    Seq(2, 4).foreach { np =>
      val stored = Sink.searchIvfIndex(spark, e, dir, 10, 3, nprobe = np)
        .select("qid", "rnk", "vec_id", "cos")
        .collect().map(_.toSeq).toSeq
      val mem = graft.operators.Similarity.ivfMultiProbeTopK(e, 10, 3, 8, 2, nprobe = np)
        .select("qid", "rnk", "vec_id", "cos")
        .collect().map(_.toSeq).toSeq
      assert(stored == mem, s"stored != in-memory multiprobe at nprobe=$np")
    }
  }

  test("IVF-SQ8 stored lifecycle: stored search equals in-memory, append " +
      "folds in, delete masks, maintain appends under no drift") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-ivfsq8").toString
    import graft.operators.Similarity

    // full write: stored serving ≡ the in-memory composed tier
    Sink.writeIvfIndex(e, dir, Sink.Sq8, Sink.Cells(8), iters = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "rnk", "vec_id", "cell", "pn", "qcos")
      .collect().map(_.toSeq).toSeq
    assert(rows(Sink.searchIvfIndex(spark, e, dir, 10, 3, nprobe = 2)) ==
      rows(Similarity.ivfSq8TopK(e, 10, 3, 8, 2, nprobe = 2)),
      "stored SQ8 search != in-memory IVF×SQ8")

    // incremental build (base + append) serves every id
    val dir2 = Files.createTempDirectory("graft-ivfsq8a").toString
    Sink.writeIvfIndex(e.filter(col("vec_id") < 250), dir2, Sink.Sq8, Sink.Cells(8), 2)
    Sink.appendToIvfIndex(e.filter(col("vec_id") >= 250), dir2)
    val served = Sink.searchIvfIndex(spark, e, dir2, 10, 500, nprobe = 8)
      .select("vec_id").distinct().count()
    assert(served > 400, s"append path lost rows: $served ids served")

    // delete masks immediately; the dead id still queries
    Sink.deleteFromIvfIndex(spark, dir2, e.filter(col("vec_id") === 3)
      .select("vec_id"))
    val post = Sink.searchIvfIndex(spark, e, dir2, 10, 500, nprobe = 8)
    assert(post.filter(col("vec_id") === 3).count() == 0,
      "tombstoned id still served as a neighbor")
    assert(post.filter(col("qid") === 3).count() > 0,
      "tombstoned id must still query")

    // maintain: a same-distribution batch appends (no retrain) and the
    // log's action/threshold verdict says so; fresh ids then serve
    val batch = e.filter(col("vec_id") >= 240 && col("vec_id") < 260)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val log = Sink.maintainIvfIndex(spark, batch, dir, threshold = 5.0)
      .collect().head
    assert(log.getAs[String]("action") == "append",
      s"no-drift batch must append, got ${log.getAs[String]("action")}")
    val afterMaintain = Sink.searchIvfIndex(spark, e, dir, 10, 600, nprobe = 8)
      .filter(col("vec_id") >= 100000L).count()
    assert(afterMaintain > 0, "maintained batch invisible to serving")

    // the one search reads the codec from the index: this layout
    // serves the SQ8 columns
    assert(Sink.searchIvfIndex(spark, e, dir, 10, 3).columns.toSeq ==
      Seq("qid", "rnk", "vec_id", "cell", "pn", "qcos"))
  }

  test("driver-side drift verdict is bit-identical to the ivfAppendDrift " +
      "DataFrame form, same-distribution AND skewed batches") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-driftdrv").toString
    Sink.writeIvfIndex(e.filter(col("vec_id") < 400), dir, Sink.Flat, Sink.Cells(8), 2)
    val cent = Sink.loadIvfCentroids(spark, dir)
    val grid = cent.select("cell").collect().map(_.getLong(0)).toSeq.sorted
    val storedMap = Sink.storedCellCounts(spark, dir, 8)
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    def check(batch: org.apache.spark.sql.DataFrame, thr: Double): Unit = {
      // under the driver-map bound ivfAppendDrift IS the driver core:
      // lower the bound so its DataFrame side is the distributed frame
      val prev = sys.props.get("graft.maxDriverMapEntries")
      val df =
        try {
          sys.props("graft.maxDriverMapEntries") = "1"
          Sink.ivfAppendDrift(spark, batch, dir, thr).collect()
        } finally prev match {
          case Some(v) => sys.props("graft.maxDriverMapEntries") = v
          case None => sys.props.remove("graft.maxDriverMapEntries")
        }
      val incoming = graft.operators.Similarity.assignWithCentroids(batch, cent)
        .groupBy("cell").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val d = Sink.drift(grid, storedMap, incoming, thr)
      assert(bits(d.psi) == bits(df.head.getAs[Double]("psi")), "psi differs")
      assert(bits(d.psiNull) == bits(df.head.getAs[Double]("psi_null")), "psi_null differs")
      assert(df.forall(_.getAs[Boolean]("retrain_due") == d.due), "verdict differs")
      assert(df.map(r => (r.getAs[Long]("cell"), r.getAs[Long]("n_stored"),
        r.getAs[Long]("n_new"), bits(r.getAs[Double]("psi_term")))).toSeq ==
        d.keys.map { case (c, nS, nN, t) => (c, nS, nN, bits(t)) }, "per-cell rows differ")
    }
    // same-distribution batch (low PSI) and a one-cell skewed batch
    // (high PSI) at two thresholds — both branches of the verdict
    check(e.filter(col("vec_id") >= 400), 0.25)
    val skew = e.filter(col("vec_id") >= 400)
      .limit(40).select(col("vec_id"), col("embedding"))
    check(skew, 0.25)
    check(skew, 0.0001)
  }

  test("the driver-side PSI term is bit-identical to Spark's evaluated term, before rounding") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261020L)
    val tuples = Seq.fill(4000) {
      val nCells = 1L + rnd.nextInt(2000)
      val tS = rnd.nextInt(1000000).toLong
      val tN = rnd.nextInt(5000).toLong
      (rnd.nextLong(tS + 1), rnd.nextLong(tN + 1), tS, tN, nCells)
    }
    val pS = (col("n_stored") + lit(1)) / (col("t_stored") + col("n_cells"))
    val pN = (col("n_new") + lit(1)) / (col("t_new") + col("n_cells"))
    val expected = tuples.map { case (nS, nN, tS, tN, k) =>
      java.lang.Double.doubleToLongBits(Sink.psiTerm(nS, nN, tS, tN, k))
    }
    // the optimizer folds a projection over a local relation on the
    // driver (interpreted Log); with that rule off the term runs in
    // generated code — both must match the core
    val fold = "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    Seq(false, true).foreach { codegen =>
      val prev = spark.conf.getOption("spark.sql.optimizer.excludedRules")
      try {
        if (codegen) spark.conf.set("spark.sql.optimizer.excludedRules", fold)
        val got = tuples.toDF("n_stored", "n_new", "t_stored", "t_new", "n_cells")
          .select((pN - pS) * log(pN / pS)).collect()
          .map(r => java.lang.Double.doubleToLongBits(r.getDouble(0))).toSeq
        val differing = got.zip(expected).count { case (a, b) => a != b }
        assert(differing == 0, s"$differing of ${tuples.size} terms differ " +
          s"(${if (codegen) "generated code" else "interpreted"})")
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.optimizer.excludedRules", v)
        case None => spark.conf.unset("spark.sql.optimizer.excludedRules")
      }
    }
  }

  test("maxDriverMapEntries: malformed override is a loud config error, " +
      "not a NumberFormatException from inside a maintain path") {
    val prev = sys.props.get("graft.maxDriverMapEntries")
    try {
      sys.props("graft.maxDriverMapEntries") = "not-a-number"
      val ex = intercept[IllegalArgumentException] {
        Sink.maxDriverMapEntries
      }
      assert(ex.getMessage.contains("graft.maxDriverMapEntries"))
      assert(ex.getMessage.contains("not-a-number"))
    } finally {
      prev match {
        case Some(v) => sys.props("graft.maxDriverMapEntries") = v
        case None => sys.props.remove("graft.maxDriverMapEntries")
      }
    }
  }

  test("driver-map geometry guard: above maxDriverMapEntries the collects " +
      "refuse and the maintain pre-flight falls back, bit-identically") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = e.filter(col("vec_id") < 400)
    val batch = e.filter(col("vec_id") >= 400)
    // twin indexes: same inputs, same deterministic training
    val dirA = Files.createTempDirectory("graft-guardA").toString
    val dirB = Files.createTempDirectory("graft-guardB").toString
    Sink.writeIvfIndex(base, dirA, Sink.Flat, Sink.Cells(8), 2)
    Sink.writeIvfIndex(base, dirB, Sink.Flat, Sink.Cells(8), 2)
    // capture the drift frame BEFORE the maintain call appends to dirA
    val driftA = Sink.ivfAppendDrift(spark, batch, dirA).collect()
    val logA = Sink.maintainIvfIndex(spark, batch, dirA).collect().head
    val prev = sys.props.get("graft.maxDriverMapEntries")
    try {
      sys.props("graft.maxDriverMapEntries") = "1"
      // the collects refuse loudly instead of building an over-bound map
      val ex = intercept[IllegalArgumentException] {
        Sink.storedCellCounts(spark, dirB, 8)
      }
      assert(ex.getMessage.contains("maxDriverMapEntries"))
      // the maintain lifecycle still runs — distributed pre-flight —
      // and its one-row decision log is IDENTICAL to the driver-map
      // twin's (psi compared at the bit level)
      val logB = Sink.maintainIvfIndex(spark, batch, dirB).collect().head
      assert(java.lang.Double.doubleToLongBits(logA.getAs[Double]("psi")) ==
        java.lang.Double.doubleToLongBits(logB.getAs[Double]("psi")),
        "fallback psi differs from the driver-map path")
      Seq("action", "retrain_due", "n_stored_before", "n_batch", "n_after",
        "files_before", "files_after", "compacted").foreach { c =>
        assert(logA.getAs[Any](c) == logB.getAs[Any](c),
          s"fallback log column $c differs: ${logA.getAs[Any](c)} vs " +
            s"${logB.getAs[Any](c)}")
      }
      // ivfAppendDrift's stored side also routes distributed above the
      // bound — whole-frame equality against the under-bound twin.
      // (dirA was appended to above, so compare dirB against the
      // PRE-maintain drift frame captured from dirA.)
      Sink.writeIvfIndex(base, dirB + "-drift", Sink.Flat, Sink.Cells(8), 2)
      val driftB = Sink.ivfAppendDrift(spark, batch, dirB + "-drift").collect()
      assert(driftA.toSeq == driftB.toSeq,
        "distributed drift frame differs from the driver-map form")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.maxDriverMapEntries") = v
        case None => sys.props.remove("graft.maxDriverMapEntries")
      }
    }
  }

  test("sized builds: cells = ceil(N/size), byte-identical serving to the " +
      "explicit-cells twin; manifest carries the resolved geometry") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = e.count()
    // fixed-size geometry arithmetic
    assert(Sink.sizedCells(e, 64) == math.ceil(n / 64.0).toInt)
    assert(Sink.sizedCells(e, Int.MaxValue) == 1)
    val s = 64
    val expectCells = math.ceil(n / 64.0).toInt
    val dirA = Files.createTempDirectory("graft-sq8sized").toString
    val dirB = Files.createTempDirectory("graft-sq8explicit").toString
    val got = Sink.writeIvfIndex(e, dirA, Sink.Sq8, Sink.CellSize(s), iters = 2)
    assert(got == expectCells, s"sized build resolved $got cells, want $expectCells")
    Sink.writeIvfIndex(e, dirB, Sink.Sq8, Sink.Cells(expectCells), iters = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "rnk", "vec_id", "cell", "pn", "qcos")
      .collect().map(_.toSeq).toSeq
    assert(rows(Sink.searchIvfIndex(spark, e, dirA, 10, 3, nprobe = 2)) ==
      rows(Sink.searchIvfIndex(spark, e, dirB, 10, 3, nprobe = 2)),
      "sized layout must serve byte-identically to the explicit-cells twin")
    // the manifest records the RESOLVED cells — maintenance reads it back
    val mf = Sink.readIndexManifest(spark, dirA)
    assert(mf.exists(_.get("cells").contains(expectCells.toString)))
    // the sized IVF (float) build resolves the same geometry
    val dirC = Files.createTempDirectory("graft-ivfsized").toString
    assert(Sink.writeIvfIndex(e, dirC, Sink.Flat, Sink.CellSize(s)) == expectCells)
    assert(Sink.searchIvfIndex(spark, e, dirC, 10, 3).count() == 30)
  }

  test("sized maintain lifecycle: manifest carries target_cell_size; a " +
      "retrain re-derives cells from the union (fixed-size invariant)") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = e.filter(col("vec_id") < 400)
    val dir = Files.createTempDirectory("graft-szmaint").toString
    val sz = 64
    val cells0 = Sink.writeIvfIndex(base, dir, Sink.Sq8, Sink.CellSize(sz),
      iters = 2)
    assert(cells0 == math.ceil(400 / 64.0).toInt) // 7
    val mf0 = Sink.readIndexManifest(spark, dir)
    assert(mf0.exists(_.get("target_cell_size").contains(sz.toString)),
      "sized build must record target_cell_size in the manifest")
    // no-drift batch appends against the frozen sized geometry
    val batch = e.filter(col("vec_id") >= 400)
    val log1 = Sink.maintainIvfIndex(spark, batch, dir).collect().head
    assert(log1.getAs[String]("action") == "append")
    assert(Sink.readIndexManifest(spark, dir)
      .exists(_.get("cells").contains(cells0.toString)),
      "an append must not resize the sized geometry")
    // forced retrain (threshold 0 trips on any finite-batch PSI):
    // cells re-derive from the LIVE union — the fixed-size invariant
    // survives the index's own growth
    val nBatch2 = 40
    val batch2 = e.filter(col("vec_id") >= 400).limit(nBatch2)
      .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
    val log2 = Sink.maintainIvfIndex(spark, batch2, dir,
      threshold = -1.0).collect().head
    assert(log2.getAs[String]("action") == "retrain")
    val nUnion = log2.getAs[Long]("n_after")
    val mf2 = Sink.readIndexManifest(spark, dir)
    val wantCells = math.ceil(nUnion / 64.0).toInt
    assert(mf2.exists(_.get("cells").contains(wantCells.toString)),
      s"sized retrain must resolve cells = ceil($nUnion/$sz) = $wantCells," +
        s" manifest says ${mf2.flatMap(_.get("cells"))}")
    assert(mf2.exists(_.get("target_cell_size").contains(sz.toString)),
      "the retrain must re-record target_cell_size")
    // the resized index still serves
    assert(Sink.searchIvfIndex(spark, e, dir, 10, 3, nprobe = 3)
      .count() == 30)
  }

  test("sized retrain re-derives cells on the FLOAT and PQ tiers too — " +
      "the resize branch is shared, not SQ8-specific") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = e.filter(col("vec_id") < 400)
    // the batch must push the union ACROSS a cell boundary (400 + 80 =
    // 480 → ⌈480/64⌉ = 8 ≠ the stored 7) — a smaller batch makes the
    // re-derived count equal the frozen one and the assertions below
    // could not tell resize-from-union apart from freeze-at-stored
    val batch = e.filter(col("vec_id") >= 400).limit(80)
      .select((col("vec_id") + 300000L).as("vec_id"), col("embedding"))
    val sz = 64

    val dirF = Files.createTempDirectory("graft-szmaint-ivf").toString
    assert(Sink.writeIvfIndex(base, dirF, Sink.Flat, Sink.CellSize(sz),
      iters = 2) == 7)
    val logF = Sink.maintainIvfIndex(spark, batch, dirF,
      threshold = -1.0).collect().head
    assert(logF.getAs[String]("action") == "retrain")
    val wantF = math.ceil(logF.getAs[Long]("n_after") / 64.0).toInt
    assert(wantF != 7, "fixture must cross a cell boundary or the test " +
      "cannot distinguish resize-from-union from freeze-at-stored")
    val mfF = Sink.readIndexManifest(spark, dirF)
    assert(mfF.exists(_.get("cells").contains(wantF.toString)),
      s"float-tier sized retrain: want cells=$wantF, " +
        s"manifest says ${mfF.flatMap(_.get("cells"))}")
    assert(mfF.exists(_.get("target_cell_size").contains(sz.toString)))
    assert(Sink.searchIvfIndex(spark, e, dirF, 10, 3).count() == 30)

    val dirP = Files.createTempDirectory("graft-szmaint-pq").toString
    assert(Sink.writeIvfIndex(base, dirP, Sink.Pq(4, 16, 8), Sink.CellSize(sz),
      iters = 2) == 7)
    val logP = Sink.maintainIvfIndex(spark, batch, dirP,
      threshold = -1.0).collect().head
    assert(logP.getAs[String]("action") == "retrain")
    val wantP = math.ceil(logP.getAs[Long]("n_after") / 64.0).toInt
    val mfP = Sink.readIndexManifest(spark, dirP)
    assert(mfP.exists(_.get("cells").contains(wantP.toString)),
      s"PQ-tier sized retrain: want cells=$wantP, " +
        s"manifest says ${mfP.flatMap(_.get("cells"))}")
    assert(mfP.exists(_.get("target_cell_size").contains(sz.toString)),
      "PQ sized retrain must re-record target_cell_size")
    // the codebook geometry is subspace-shaped — the resize must NOT
    // touch m/subDim/k
    assert(mfP.exists(m => m.get("m").contains("4") &&
      m.get("subDim").contains("16") && m.get("k").contains("8")),
      "sized resize must leave the PQ codebook geometry unchanged")
    assert(Sink.searchIvfIndex(spark, e, dirP, 10, 3, nprobe = 3).count() == 30)
  }

  test("searchIvfIndex (PQ): nprobe=2 recall holds the nprobe=1 floor") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-ivfpqnp").toString
    Sink.writeIvfIndex(e, dir, Sink.Pq(4, 16, 8), Sink.Cells(8), iters = 2)
    val truth = graft.operators.Similarity.bruteForceTopK(e, 10, 3).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    def recall(np: Int): Double = {
      val mine = Sink.searchIvfIndex(spark, e, dir, 10, 3, nprobe = np)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
      mine.intersect(truth).size.toDouble / truth.size
    }
    val (r1, r2) = (recall(1), recall(2))
    assert(r2 >= r1,
      s"PQ nprobe=2 recall $r2 fell below nprobe=1 recall $r1 — more probed " +
        "cells must not lose true neighbors on this fixture")
  }

  test("PQ geometry: manifest check fails loudly with zero Spark jobs; legacy fallback still catches") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-pqgeom").toString
    Sink.writeIvfIndex(e, dir, Sink.Pq(4, 16, 8), Sink.Cells(8), iters = 2)
    val mf = Sink.readIndexManifest(spark, dir).get
    assert(mf("kind") == "ivfpq" && mf("cells") == "8" &&
      mf("m") == "4" && mf("subDim") == "16" && mf("k") == "8")
    val written = Sink.StoredGeometry(Sink.Pq(4, 16, 8), 8, None)
    // the manifest path never launches a Spark job — serving pays one
    // small-file read, not an aggregate over the codebook table
    val jobs = jobsOf(assert(Sink.storedGeometry(spark, dir) == written))
    assert(jobs == 0, s"manifest-backed geometry read launched $jobs Spark job(s)")
    // legacy (pre-manifest) index: the same geometry derives from the
    // stored artifacts
    assert(new java.io.File(s"$dir/_graft_manifest.json").delete())
    assert(Sink.storedGeometry(spark, dir) == written)
    // ...and an empty codebook table reports the clear diagnostic
    // instead of an opaque NPE or a silently empty broadcast
    val pqPath = s"$dir/pq_centroids"
    val schema = spark.read.parquet(pqPath).schema
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(pqPath)
    val ex = intercept[IllegalArgumentException](Sink.storedGeometry(spark, dir))
    assert(ex.getMessage.contains("no PQ codebooks"), ex.getMessage)
    // a manifest-bearing index whose codebook table is gone fails just
    // as loudly (partial restore)
    Sink.writeIndexManifest(spark, dir, mf.toSeq.filter(_._1 != "write_id"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pqPath))
    val ex2 = intercept[IllegalArgumentException](Sink.storedGeometry(spark, dir))
    assert(ex2.getMessage.contains("no PQ codebooks"), ex2.getMessage)
  }

  test("artifact cache misses on a rewrite even when the generation stamp collides") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-ivfstamp").toString
    val tables = Seq("centroids", "pq_centroids", "assignment")
    def dataFiles(t: String): Seq[java.io.File] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/$t")).iterator()
        .asScala.map(_.toFile)
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .toSeq
    }
    // pin every data file to one fixed mtime so the (mtime, count,
    // bytes) stamp is REPRODUCIBLE across the rewrite below — the
    // second-granularity-object-store collision, forced deterministically
    val fixedMtime = 1000000000000L
    def pinMtimes(): Unit = tables.flatMap(dataFiles).foreach { f =>
      assert(f.setLastModified(fixedMtime), s"setLastModified failed: $f")
    }
    def stamps() = tables.map(t =>
      (dataFiles(t).length, dataFiles(t).map(_.length).sum))
    // every generation-keyed cache, each through its own reader: the
    // loaded artifacts, the stored cell and code counts, and the
    // centroid and codebook grids
    val caches: Seq[(String, () => AnyRef)] = Seq(
      "loaded centroids" -> (() => Sink.loadIvfCentroids(spark, dir)),
      "loaded codebooks" -> (() => Sink.loadPqCentroids(spark, dir)),
      "cell counts" -> (() => Sink.storedCellCounts(spark, dir, 8)),
      "centroid cells" -> (() => Sink.centroidCellIds(spark, dir, 8)),
      "code counts" -> (() => Sink.storedCodeCounts(spark, dir)),
      "codebook grid" -> (() => Sink.pqCodeGrid(spark, dir)))
    Sink.writeIvfIndex(e, dir, Sink.Pq(4, 16, 8), Sink.Cells(8), iters = 2)
    val id1 = Sink.readIndexManifest(spark, dir).flatMap(_.get("write_id"))
    // the write seeded the artifacts it stored: the loads run no job and
    // return exactly what a fresh parquet read of the tables returns
    Seq("centroids" -> (() => Sink.loadIvfCentroids(spark, dir)),
        "pq_centroids" -> (() => Sink.loadPqCentroids(spark, dir))).foreach {
      case (t, load) =>
        var seeded: org.apache.spark.sql.DataFrame = null
        assert(jobsOf { seeded = load() } == 0, s"$t: the write must seed its artifact")
        val fresh = spark.read.parquet(s"$dir/$t").select(seeded.columns.map(col): _*)
        assert(seeded.schema == fresh.schema, s"$t: ${seeded.schema} vs ${fresh.schema}")
        def sorted(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toSeq).sortBy(_.take(2).mkString(",")).toSeq
        assert(sorted(seeded) == sorted(fresh), s"$t: seeded rows differ from the stored rows")
    }
    pinMtimes()
    val g1 = stamps()
    val first = caches.map(_._2())
    caches.zip(first).foreach { case ((name, read), v) =>
      assert(read() eq v, s"$name: an unchanged index must hit the cache")
    }
    // identical rewrite (deterministic training + layout): same file
    // count and bytes; mtimes re-pinned → the stamp alone COLLIDES
    Sink.writeIvfIndex(e, dir, Sink.Pq(4, 16, 8), Sink.Cells(8), iters = 2)
    val id2 = Sink.readIndexManifest(spark, dir).flatMap(_.get("write_id"))
    assert(id1 != id2, "every full index write must get a fresh write_id")
    pinMtimes()
    assert(stamps() == g1, s"collision precondition broke: $g1 vs ${stamps()}")
    caches.zip(first).foreach { case ((name, read), v) =>
      assert(read() ne v,
        s"$name: a rewrite with a colliding generation stamp must still miss the cache")
    }
    // the rewrite dropped every entry of the superseded generation
    assert(Sink.cachedWriteIds(dir) == id2.toSet,
      s"cached generations ${Sink.cachedWriteIds(dir)}, current $id2")
    // a keyed write trains centroids only: no corpus-sized assignment
    // is left cached for its key
    val key = s"artifact-cache-spec-$dir"
    Sink.writeIvfIndex(e, dir, Sink.Flat, Sink.Cells(8), iters = 2, corpusKey = Some(key))
    assert(!graft.operators.Similarity.cachedAssignment(spark, key, 8, 2),
      "a keyed write must not cache an assignment")
  }

  test("job budget: each codec's write, append, maintain and search stay within their Spark job counts") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = e.filter(col("vec_id") < 400)
    val batch1 = e.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    val batch2 = e.filter(col("vec_id") >= 450)
    def search(codec: Sink.IvfCodec, dir: String) =
      Sink.searchIvfIndex(spark, e, dir, 10, 3, nprobe = if (codec == Sink.Sq8) 2 else 1)
    // the artifact loads the append and search below start: none, since
    // the write seeded what it stored and an append never touches it
    def artifactLoads(codec: Sink.IvfCodec, dir: String): Int = jobsOf {
      Sink.loadIvfCentroids(spark, dir)
      if (codec.isInstanceOf[Sink.Pq]) Sink.loadPqCentroids(spark, dir)
    }
    // (write, append, maintain on its append branch, search), each at
    // the count it runs: training collects its sample once and runs on
    // the driver, the centroid array is packed on the driver, the
    // loads after a write hit the artifacts it seeded, and the probe
    // ranks narrowly over a read with a recorded schema. The keyed row
    // is the benchmark's path; its first write trains on a fresh key
    val corpusKey = s"job-budget-${System.nanoTime()}"
    val budgets = Seq(
      (Sink.Flat, None, Seq(5, 4, 10, 8)),
      (Sink.Sq8, None, Seq(5, 4, 10, 8)),
      (Sink.Pq(4, 16, 8), None, Seq(8, 5, 16, 13)),
      (Sink.Flat, Some(corpusKey), Seq(5, 4, 10, 8)))
    budgets.foreach { case (codec, key, budget) =>
      val dir = Files.createTempDirectory("graft-jobbudget").toString
      val write = jobsOf(Sink.writeIvfIndex(base, dir, codec, Sink.Cells(8), iters = 2,
        corpusKey = key))
      assert(artifactLoads(codec, dir) == 0, s"${codec.kind}: a load after the write ran a job")
      val append = jobsOf(Sink.appendToIvfIndex(batch1, dir))
      assert(artifactLoads(codec, dir) == 0, s"${codec.kind}: a load after the append ran a job")
      val used = Seq(write, append,
        jobsOf(assert(Sink.maintainIvfIndex(spark, batch2, dir, threshold = 1e9)
          .head().getAs[String]("action") == "append")),
        jobsOf(search(codec, dir).collect()))
      Seq("write", "append", "maintain", "search").zip(used.zip(budget))
        .foreach { case (step, (n, max)) =>
          assert(n <= max, s"${codec.kind} ${key.fold("")(_ => "keyed ")}$step ran " +
            s"$n Spark jobs, budget $max")
        }
    }
    // a keyed rewrite trains nothing: its centroids are the session's
    val dir = Files.createTempDirectory("graft-jobbudget").toString
    val rewrite = jobsOf(Sink.writeIvfIndex(base, dir, Sink.Flat, Sink.Cells(8), iters = 2,
      corpusKey = Some(corpusKey)))
    assert(rewrite <= 4, s"keyed rewrite ran $rewrite Spark jobs, budget 4")
    // a same-key multiprobe search derives its assignment from those
    // centroids: the rows a fresh training returns, in fewer jobs
    def multiprobe(key: Option[String]): (Seq[Seq[Any]], Int) = {
      var rows = Seq.empty[Seq[Any]]
      val jobs = jobsOf {
        rows = graft.operators.Similarity.ivfMultiProbeTopK(base, 10, 3, cells = 8,
          iters = 2, nprobe = 2, corpusKey = key).collect().map(_.toSeq).toSeq
      }
      (rows, jobs)
    }
    val (trained, retrainJobs) = multiprobe(None)
    val (derived, derivedJobs) = multiprobe(Some(corpusKey))
    assert(derived == trained, "the cached centroids must give the freshly trained rows")
    assert(derivedJobs < retrainJobs,
      s"deriving the assignment ran $derivedJobs Spark jobs, a retrain $retrainJobs")
  }

  test("job budget: the drift pre-flights stay within their Spark job counts, cold and warm") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = e.filter(col("vec_id") < 400)
    val batch = e.filter(col("vec_id") >= 400)
    // (cold, warm) for a collect of each pre-flight (12 and 9 each when
    // the verdict was a DataFrame chain): the first call scans the
    // stored counts once for the index generation, every call counts
    // the deduped batch in one collected pass, and the verdict is a
    // local relation whose collect runs no job
    Seq[(Sink.IvfCodec, (String => Unit), (Int, Int))](
      (Sink.Flat, dir => Sink.ivfAppendDrift(spark, batch, dir).collect(), (7, 4)),
      (Sink.Pq(4, 16, 8), dir => Sink.ivfPqCodeDrift(spark, batch, dir).collect(), (7, 4)))
      .foreach { case (codec, preflight, (coldMax, warmMax)) =>
        val dir = Files.createTempDirectory("graft-driftbudget").toString
        Sink.writeIvfIndex(base, dir, codec, Sink.Cells(8), iters = 2)
        val cold = jobsOf(preflight(dir))
        val warm = jobsOf(preflight(dir))
        assert(cold <= coldMax, s"${codec.kind} drift: first call ran $cold Spark jobs, budget $coldMax")
        assert(warm <= warmMax, s"${codec.kind} drift: repeat call ran $warm Spark jobs, budget $warmMax")
      }
  }

  test("a keyed PQ write and a same-key ADC search leave no Spark block persisted") {
    // a fresh session: its caches start empty. The check covers the
    // RDDs created from here on, since the context is shared by every
    // spec in the JVM
    val s = spark.newSession()
    val marker = s.sparkContext.emptyRDD[Int].id
    val e = Tables.embeddings(s, "/root/testdata/sf0.001")
    val key = s"pq-blocks-${System.nanoTime()}"
    val dir = Files.createTempDirectory("graft-pqblocks").toString
    try {
      Sink.writeIvfIndex(e, dir, Sink.Pq(4, 16, 8), Sink.Cells(8), iters = 2,
        corpusKey = Some(key))
      graft.operators.Similarity.pqAdcTopK(e, 10, 3, 4, 16, 8, 2, Some(key)).collect()
      org.apache.spark.GraftListenerShims.flushListeners(s.sparkContext)
      val pinned = s.sparkContext.getRDDStorageInfo.filter(_.id > marker)
      assert(pinned.isEmpty, s"persisted after a keyed PQ write + search: " +
        pinned.map(i => s"${i.id}:${i.name}").mkString(", "))
    } finally SessionCaches.evictSession(s)
  }

  test("an interrupted rename-aside swap rolls back: compaction and a maintain retrain serve the original rows") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = e.filter(col("vec_id") < 400)
    def ids(dir: String) = spark.read.parquet(s"$dir/assignment")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // crash inside compaction's swap, after rename(assignment →
    // assignment__old): the parked tree is the only copy
    val d1 = Files.createTempDirectory("graft-swapcompact").toString
    Sink.writeIvfIndex(base, d1, Sink.Flat, Sink.Cells(8), iters = 2)
    val served = Sink.searchIvfIndex(spark, e, d1, 10, 3).collect().map(_.toSeq).toSeq
    assert(new java.io.File(s"$d1/assignment")
      .renameTo(new java.io.File(s"$d1/assignment__old")))
    Sink.compactIvfIndex(spark, d1)
    assert(ids(d1) == (0L until 400L).toSet)
    assert(Sink.searchIvfIndex(spark, e, d1, 10, 3).collect().map(_.toSeq).toSeq == served)
    assert(!new java.io.File(s"$d1/assignment__old").exists())
    // crash inside a maintenance retrain's swap, after rename(index →
    // index__old): the next maintain must retrain on the ORIGINAL rows
    val d2 = Files.createTempDirectory("graft-swapretrain").toString + "/index"
    Sink.writeIvfIndex(base, d2, Sink.Flat, Sink.Cells(8), iters = 2)
    assert(new java.io.File(d2).renameTo(new java.io.File(d2 + "__old")))
    val batch = e.filter(col("vec_id") >= 400)
    val log = Sink.maintainIvfIndex(spark, batch, d2, threshold = -1.0).head()
    assert(log.getAs[String]("action") == "retrain", s"forced retrain: $log")
    assert(ids(d2) == (0L until 500L).toSet)
    assert(Sink.searchIvfIndex(spark, e, d2, 10, 3).count() == 30)
    assert(!new java.io.File(d2 + "__old").exists())
    // the same compaction crash, then a delete: the delete must roll
    // the parked tree back before it checks for the index, so search
    // serves the original rows minus the deleted ids
    val d4 = Files.createTempDirectory("graft-swapdelete").toString
    Sink.writeIvfIndex(base, d4, Sink.Flat, Sink.Cells(8), iters = 2)
    val dead = (0L until 400L by 7).toSet
    val d4ref = Files.createTempDirectory("graft-swapdelete-ref").toString
    Sink.writeIvfIndex(base, d4ref, Sink.Flat, Sink.Cells(8), iters = 2)
    Sink.deleteFromIvfIndex(spark, d4ref,
      spark.createDataFrame(dead.toSeq.map(Tuple1(_))).toDF("vec_id"))
    assert(new java.io.File(s"$d4/assignment")
      .renameTo(new java.io.File(s"$d4/assignment__old")))
    Sink.deleteFromIvfIndex(spark, d4,
      spark.createDataFrame(dead.toSeq.map(Tuple1(_))).toDF("vec_id"))
    assert(ids(d4) == (0L until 400L).toSet)
    assert(!new java.io.File(s"$d4/assignment__old").exists())
    val served4 = Sink.searchIvfIndex(spark, e, d4, 10, 3, 2).collect().map(_.toSeq).toSeq
    assert(served4.nonEmpty && served4.forall(r => !dead(r(3).asInstanceOf[Long])))
    assert(served4 ==
      Sink.searchIvfIndex(spark, e, d4ref, 10, 3, 2).collect().map(_.toSeq).toSeq)
    // crash inside a dedup-index compaction, after rename(shingles →
    // shingles__old): an append must not land a batch-only shingles
    // table beside the parked one, which the next compaction would then
    // treat as the redundant copy and delete
    val d3 = Files.createTempDirectory("graft-swapdedup").toString + "/idx"
    Sink.writeDedupIndex(dedupDocs(spark, dedupExisting), d3)
    def classify() = Sink.classifyWithDedupIndex(
        spark, dedupDocs(spark, dedupBatchRows), d3)
      .collect().map(_.toSeq).toSeq
    val beforeCrash = classify()
    assert(new java.io.File(s"$d3/shingles")
      .renameTo(new java.io.File(s"$d3/shingles__old")))
    Sink.appendToDedupIndex(dedupDocs(spark,
      Seq((20L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"))), d3)
    Sink.compactDedupIndex(spark, d3)
    assert(classify() == beforeCrash)
    assert(!new java.io.File(s"$d3/shingles__old").exists())
  }

  test("a truncated index manifest fails loudly instead of reading back wrong geometry") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-manifest").toString
    Sink.writeIvfIndex(e, dir, Sink.Flat, Sink.Cells(16), iters = 2)
    // the write goes through a sibling temp file, renamed into place
    assert(!new java.io.File(dir).list().exists(_.endsWith(".tmp")))
    val p = java.nio.file.Paths.get(s"$dir/_graft_manifest.json")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    assert(new String(Files.readAllBytes(p), utf8).startsWith(
      "{\"kind\":\"ivf\",\"cells\":16,"))
    // a write cut off inside the cells value: a lenient reader sees
    // cells = 1 and would retrain / compact on the wrong geometry
    Files.write(p, "{\"kind\":\"ivf\",\"cells\":1".getBytes(utf8))
    new java.io.File(s"$dir/._graft_manifest.json.crc").delete()
    val ex = intercept[IllegalStateException](Sink.readIndexManifest(spark, dir))
    assert(ex.getMessage.contains("corrupt index manifest"), ex.getMessage)
    intercept[IllegalStateException](
      Sink.maintainIvfIndex(spark, e.filter(col("vec_id") < 10), dir))
  }

  test("IVF index round-trip: stored-index search equals in-memory single-probe") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-ivfidx").toString
    Sink.writeIvfIndex(e, dir, Sink.Flat, Sink.Cells(8), iters = 2)
    // cell-partitioned layout on disk: one directory per cell
    val cellDirs = new java.io.File(s"$dir/assignment").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).toSet
    assert(cellDirs.nonEmpty)
    val stored = Sink.searchIvfIndex(spark, e, dir, 10, 3)
      .collect().map(_.toSeq).toSeq
    val mem = graft.operators.Similarity.ivfTopK(e, 10, 3, 8, 2)
      .collect().map(_.toSeq).toSeq
    assert(stored == mem)
  }

  test("sized index: delete + compact preserve target_cell_size and serving") {
    // symmetry insurance for the sized layout: append and retrain are
    // oracle-checked on all three sized tiers, delete/compact are
    // geometry-agnostic by construction — pin that a delete+compact
    // cycle neither perturbs served results nor loses the sized
    // manifest the next retrain re-derives its geometry from
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-ivfsized-del").toString
    Sink.writeIvfIndex(e, dir, Sink.Flat, Sink.CellSize(64), iters = 2)
    def manifest() = Sink.readIndexManifest(spark, dir).get
    assert(manifest().get("target_cell_size").contains("64"))
    val cellsBefore = manifest()("cells")
    val dead = e.filter(pmod(col("vec_id"), lit(17L)) === 3).select("vec_id")
    val deadSet = dead.collect().map(_.getLong(0)).toSet
    Sink.deleteFromIvfIndex(spark, dir, dead)
    val masked = Sink.searchIvfIndex(spark, e, dir, 10, 3, 2)
      .collect().map(_.toSeq).toSeq
    assert(masked.nonEmpty)
    assert(masked.forall(r => !deadSet.contains(r(3).asInstanceOf[Long])),
      "a tombstoned id must never serve as a neighbor")
    Sink.compactIvfIndex(spark, dir)
    // physical purge: identical serving, tombstones consumed, rows gone
    val purged = Sink.searchIvfIndex(spark, e, dir, 10, 3, 2)
      .collect().map(_.toSeq).toSeq
    assert(purged == masked)
    assert(!new java.io.File(s"$dir/tombstones").exists() ||
      new java.io.File(s"$dir/tombstones").listFiles()
        .count(_.getName.endsWith(".parquet")) == 0)
    val remaining = spark.read.parquet(s"$dir/assignment")
      .filter(col("vec_id").isin(deadSet.toSeq.map(Long.box): _*)).count()
    assert(remaining == 0, "compact must purge tombstoned rows physically")
    // the sized-geometry manifest survives the rewrite untouched
    assert(manifest().get("target_cell_size").contains("64"))
    assert(manifest()("cells") == cellsBefore)
    assert(manifest()("kind") == "ivf")
  }

  // ---- stored incremental-dedup text index -------------------------

  private val dedupExisting = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
    (2L, "one two three four five six seven eight nine ten eleven twelve"),
    // verbatim copy of doc 0 under a higher id: the exact store must
    // resolve dup_of to the MIN existing doc
    (5L, "the quick brown fox jumps over the lazy dog near the river bank today"))

  private val dedupBatchRows = Seq(
    (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu zz1 zz2"),
    (12L, "completely different words entirely unrelated content here nothing shared at all"))

  private def dedupDocs(s: org.apache.spark.sql.SparkSession,
      rows: Seq[(Long, String)]): org.apache.spark.sql.DataFrame =
    s.createDataFrame(rows).toDF("doc_id", "text")

  test("dedup index: stored classify survives a restart and equals the cached path") {
    val existing = dedupDocs(spark, dedupExisting)
    val dir = Files.createTempDirectory("graft-dedupidx").toString + "/idx"
    Sink.writeDedupIndex(existing, dir)
    val expected = graft.operators.Dedup
      .incrementalDedup(existing, dedupDocs(spark, dedupBatchRows))
      .collect().map(_.toSeq).toSeq
    // sanity on the fixture itself: one exact (min-doc partner), one
    // near, one new
    assert(expected.map(r => (r(0), r(1), r(2))) ==
      Seq((10L, "exact", 0L), (11L, "near", 1L), (12L, "new", null)))
    // restart analog: a FRESH session shares no session-keyed cache
    // with the build — the stored path must classify from disk alone
    val fresh = spark.newSession()
    val got = Sink.classifyWithDedupIndex(
        fresh, dedupDocs(fresh, dedupBatchRows), dir)
      .collect().map(_.toSeq).toSeq
    assert(got == expected)
    // kind guard: an IVF index dir must be refused loudly
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ivfDir = Files.createTempDirectory("graft-dedupidx-ivf").toString
    Sink.writeIvfIndex(e, ivfDir, Sink.Flat, Sink.Cells(4), iters = 2)
    val ex = intercept[IllegalArgumentException] {
      Sink.classifyWithDedupIndex(spark, dedupDocs(spark, dedupBatchRows), ivfDir)
    }
    assert(ex.getMessage.contains("dedup_text"))
  }

  test("dedup index: append equals rebuild-on-union in any id order") {
    // build WITHOUT doc 0 (the min-id exact partner) and append it
    // AFTER: the raw-fingerprint min-fold and read-time band cap must
    // make the appended index equal to a fresh build on the union —
    // including dup_of = 0 for the exact verdict, even though doc 5
    // (same text, higher id) was in the base build first
    val base = dedupDocs(spark, dedupExisting.filter(_._1 != 0L))
    val dir = Files.createTempDirectory("graft-dedupidx-app").toString + "/idx"
    Sink.writeDedupIndex(base, dir)
    Sink.appendToDedupIndex(dedupDocs(spark, dedupExisting.filter(_._1 == 0L)), dir)
    val expected = graft.operators.Dedup
      .incrementalDedup(dedupDocs(spark, dedupExisting),
        dedupDocs(spark, dedupBatchRows))
      .collect().map(_.toSeq).toSeq
    val got = Sink.classifyWithDedupIndex(
        spark, dedupDocs(spark, dedupBatchRows), dir)
      .collect().map(_.toSeq).toSeq
    assert(got == expected)
    assert(got.map(r => (r(0), r(1), r(2))) ==
      Seq((10L, "exact", 0L), (11L, "near", 1L), (12L, "new", null)))
    // one shingle-set row per stored doc, across the build and the append
    val sh = spark.read.parquet(s"$dir/shingles")
    assert(sh.count() == dedupExisting.size &&
      sh.select("doc_id").distinct().count() == dedupExisting.size)
  }

  test("dedup index: compact restores invariants after a violated append contract") {
    val existing = dedupDocs(spark, dedupExisting)
    val dir = Files.createTempDirectory("graft-dedupidx-cmp").toString + "/idx"
    Sink.writeDedupIndex(dedupDocs(spark, dedupExisting.take(3)), dir)
    // contract violation: the same doc appended twice duplicates its
    // stored rows
    val dup = dedupDocs(spark, dedupExisting.filter(_._1 == 5L))
    Sink.appendToDedupIndex(dup, dir)
    Sink.appendToDedupIndex(dup, dir)
    Sink.compactDedupIndex(spark, dir)
    val expected = graft.operators.Dedup
      .incrementalDedup(existing, dedupDocs(spark, dedupBatchRows))
      .collect().map(_.toSeq).toSeq
    val got = Sink.classifyWithDedupIndex(
        spark, dedupDocs(spark, dedupBatchRows), dir)
      .collect().map(_.toSeq).toSeq
    assert(got == expected)
    // compacted layout: one data file per partition directory in every table
    Seq("shingles", "fingerprints", "bands").foreach { t =>
      new java.io.File(s"$dir/$t").listFiles().filter(_.isDirectory).foreach { p =>
        val n = p.listFiles().count(f => f.getName.endsWith(".parquet"))
        assert(n == 1, s"$t/${p.getName}: expected 1 data file, got $n")
      }
    }
  }

  test("dedup index: takedown delete masks, survives a restart, and compact purges") {
    val dir = Files.createTempDirectory("graft-dedupidx-del").toString + "/idx"
    Sink.writeDedupIndex(dedupDocs(spark, dedupExisting), dir)
    // delete doc 0 (the exact verdict's min partner — the fold must
    // fall through to doc 5) and doc 1 (doc 11's ONLY near partner —
    // the verdict must fall through to new)
    Sink.deleteFromDedupIndex(spark, dir,
      dedupDocs(spark, dedupExisting.filter(_._1 <= 1L)).select("doc_id"))
    // ≡ rebuild on the filtered corpus, the takedown contract
    val expected = graft.operators.Dedup
      .incrementalDedup(dedupDocs(spark, dedupExisting.filter(_._1 > 1L)),
        dedupDocs(spark, dedupBatchRows))
      .collect().map(_.toSeq).toSeq
    assert(expected.map(r => (r(0), r(1), r(2))) ==
      Seq((10L, "exact", 5L), (11L, "new", null), (12L, "new", null)))
    // restart analog: tombstones must be read from disk, not session state
    val fresh = spark.newSession()
    val masked = Sink.classifyWithDedupIndex(
        fresh, dedupDocs(fresh, dedupBatchRows), dir)
      .collect().map(_.toSeq).toSeq
    assert(masked == expected)
    // mixed generation, as a crash between two of compaction's
    // per-table swaps leaves it: shingles compacted and purged,
    // fingerprints and bands not, tombstones still present — built on a
    // copy by swapping in only a compacted copy's shingles
    val mixed = Files.createTempDirectory("graft-dedupidx-mixed").toString + "/idx"
    val donor = Files.createTempDirectory("graft-dedupidx-donor").toString + "/idx"
    Seq(mixed, donor).foreach(d => org.apache.commons.io.FileUtils
      .copyDirectory(new java.io.File(dir), new java.io.File(d)))
    Sink.compactDedupIndex(spark, donor)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$mixed/shingles"))
    assert(new java.io.File(s"$donor/shingles")
      .renameTo(new java.io.File(s"$mixed/shingles")))
    def deletedRows(t: String) =
      spark.read.parquet(s"$mixed/$t").filter(col("doc_id") <= 1L).count()
    assert(deletedRows("shingles") == 0 && deletedRows("bands") > 0)
    val mixedGot = Sink.classifyWithDedupIndex(
        spark, dedupDocs(spark, dedupBatchRows), mixed)
      .collect().map(_.toSeq).toSeq
    assert(mixedGot == expected)
    // purge: identical service with zero masking joins, rows gone,
    // tombstones consumed
    Sink.compactDedupIndex(spark, dir)
    val purged = Sink.classifyWithDedupIndex(
        spark, dedupDocs(spark, dedupBatchRows), dir)
      .collect().map(_.toSeq).toSeq
    assert(purged == expected)
    Seq("shingles", "fingerprints", "bands").foreach { t =>
      val n = spark.read.parquet(s"$dir/$t")
        .filter(col("doc_id") <= 1L).count()
      assert(n == 0, s"$t: compact must purge tombstoned rows physically")
    }
    val tombFiles = Option(new java.io.File(s"$dir/tombstones").listFiles())
      .map(_.count(f => f.getName.endsWith(".parquet"))).getOrElse(0)
    assert(tombFiles == 0, "compact must consume the tombstone files")
  }

  test("dedup index: delete masks BEFORE the band cap (capped slots promote)") {
    // one LSH bucket holding cap+1 identical docs: the read-time cap
    // keeps ids 0..cap-1 and id `cap` sits beyond it. Deleting every
    // capped doc must PROMOTE the over-cap survivor into the freed
    // slots — exactly what a rebuild on the filtered corpus does — so
    // the near verdict resolves to it instead of collapsing to 'new'
    // (which is what masking after the cap would produce).
    val cap = graft.operators.Dedup.lshBucketCap
    val t = "the quick brown fox jumps over the lazy dog near the river bank today"
    val existing = (0L to cap.toLong).map(i => (i, t))
    val batch = Seq((500L, t + " qq1 qq2 qq3"))
    val dir = Files.createTempDirectory("graft-dedupidx-cap").toString + "/idx"
    Sink.writeDedupIndex(dedupDocs(spark, existing), dir)
    Sink.deleteFromDedupIndex(spark, dir,
      dedupDocs(spark, existing.filter(_._1 < cap)).select("doc_id"))
    val got = Sink.classifyWithDedupIndex(spark, dedupDocs(spark, batch), dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((500L, "near", cap.toLong)))
    // and ≡ the rebuild on the one surviving doc
    val rebuilt = graft.operators.Dedup
      .incrementalDedup(dedupDocs(spark, existing.filter(_._1 >= cap)),
        dedupDocs(spark, batch))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rebuilt.toSeq == got.toSeq)
  }

  test("dedup index: a full rebuild clears stale tombstones") {
    val dir = Files.createTempDirectory("graft-dedupidx-reb").toString + "/idx"
    Sink.writeDedupIndex(dedupDocs(spark, dedupExisting), dir)
    Sink.deleteFromDedupIndex(spark, dir,
      dedupDocs(spark, dedupExisting.filter(_._1 == 0L)).select("doc_id"))
    // rebuild over a corpus that legitimately contains doc 0 again:
    // the old tombstone must not survive to mask it
    Sink.writeDedupIndex(dedupDocs(spark, dedupExisting), dir)
    val got = Sink.classifyWithDedupIndex(
        spark, dedupDocs(spark, dedupBatchRows), dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got.head == (10L, "exact"),
      s"doc 10 must classify exact against the rebuilt doc 0: $got")
  }

  test("dedup index: classify refuses a version-skewed band geometry") {
    val dir = Files.createTempDirectory("graft-dedupidx-skew").toString + "/idx"
    Sink.writeDedupIndex(dedupDocs(spark, dedupExisting), dir)
    // simulate an index built by a binary with a different band count
    Sink.writeIndexManifest(spark, dir, Seq(
      "kind" -> "dedup_text", "shingle_n" -> "3",
      "bands" -> "999", "band_cap" -> graft.operators.Dedup.lshBucketCap.toString))
    val ex = intercept[IllegalArgumentException] {
      Sink.classifyWithDedupIndex(spark, dedupDocs(spark, dedupBatchRows), dir)
    }
    assert(ex.getMessage.contains("bands=999"))
  }

  test("dedup index: every entry point refuses an index whose manifest does not record the layout") {
    val dir = Files.createTempDirectory("graft-dedupidx-layout").toString + "/idx"
    Sink.writeDedupIndex(dedupDocs(spark, dedupExisting), dir)
    // the manifest an index of the one-row-per-shingle layout carries
    Sink.writeIndexManifest(spark, dir, Seq(
      "kind" -> "dedup_text", "shingle_n" -> "3", "bands" -> "4",
      "band_cap" -> graft.operators.Dedup.lshBucketCap.toString))
    def files() = {
      import scala.jdk.CollectionConverters._
      org.apache.commons.io.FileUtils.listFiles(new java.io.File(dir), null, true)
        .asScala.map(f => (f.getPath, f.length)).toSet
    }
    val before = files()
    val batch = dedupDocs(spark, dedupBatchRows)
    val calls = Seq[(String, () => Unit)](
      "append" -> (() => Sink.appendToDedupIndex(batch, dir)),
      "delete" -> (() => Sink.deleteFromDedupIndex(spark, dir, batch.select("doc_id"))),
      "compact" -> (() => Sink.compactDedupIndex(spark, dir)),
      "maintain" -> (() => Sink.maintainDedupIndex(spark, batch, dir).collect(): Unit),
      "classify" -> (() => Sink.classifyWithDedupIndex(spark, batch, dir).collect(): Unit))
    calls.foreach { case (name, call) =>
      val ex = intercept[IllegalArgumentException](call())
      assert(ex.getMessage.contains("layout=(unrecorded)") &&
        ex.getMessage.contains("rebuild the index"), s"$name: ${ex.getMessage}")
    }
    assert(files() == before, "a refused call must leave the index untouched")
  }

  /** The dedup budget fixture: the sf0.001 documents (doc_id, text). */
  private def budgetDocs = Tables.documents(spark, "/root/testdata/sf0.001").select("doc_id", "text")

  /** The docs in [lo, hi) plus verbatim and near copies of stored docs,
    * so the exact, near and new paths all run.
    */
  private def planted(lo: Long, hi: Long, shift: Long) = {
    val all = budgetDocs
    all.filter(col("doc_id") >= lo && col("doc_id") < hi)
      .unionByName(all.filter(col("doc_id") < 10)
        .select((col("doc_id") + shift).as("doc_id"), col("text")))
      .unionByName(all.filter(col("doc_id") >= 10 && col("doc_id") < 20)
        .select((col("doc_id") + shift + 1000).as("doc_id"),
          concat(col("text"), lit(" zq1 zq2 zq3")).as("text")))
  }

  /** A dedup index at a fresh dir over the fixture's docs below 300. */
  private def budgetIndex(tag: String): String = {
    val dir = Files.createTempDirectory(tag).toString + "/idx"
    Sink.writeDedupIndex(budgetDocs.filter(col("doc_id") < 300), dir)
    dir
  }

  /** Every row of each dedup table, partition column included, sorted. */
  private def dedupTableRows(dir: String): Map[String, Seq[String]] =
    Seq("shingles", "fingerprints", "bands").map { t =>
      t -> spark.read.parquet(s"$dir/$t").collect().map(_.toString).toSeq.sorted
    }.toMap

  test("dedup index: maintain equals classify plus an append of the accepted split") {
    val a = budgetIndex("graft-dedupmaint-a")
    val b = budgetIndex("graft-dedupmaint-b")
    val batch = planted(450, 500, 20000)
    val viaMaintain = Sink.maintainDedupIndex(spark, batch, a)
      .collect().map(_.toSeq).toSeq
    val classified = Sink.classifyWithDedupIndex(spark, batch, b)
    val viaTwoSteps = classified.collect().map(_.toSeq).toSeq
    Sink.appendToDedupIndex(batch.join(
      classified.filter(col("verdict") === "new").select("doc_id"),
      Seq("doc_id"), "left_semi"), b)
    assert(viaMaintain == viaTwoSteps)
    assert(viaMaintain.map(_(1)).toSet == Set("exact", "near", "new"),
      "the planted batch must exercise all three verdicts")
    val (rowsA, rowsB) = (dedupTableRows(a), dedupTableRows(b))
    rowsA.foreach { case (t, rows) =>
      assert(rows.nonEmpty && rows == rowsB(t), s"$t differs after maintain vs two steps")
    }
    val next = planted(400, 450, 10000)
    assert(Sink.classifyWithDedupIndex(spark, next, a).collect().map(_.toSeq).toSeq ==
      Sink.classifyWithDedupIndex(spark, next, b).collect().map(_.toSeq).toSeq)
  }

  test("dedup index: an all-duplicate maintain writes nothing and keeps the manifest") {
    val dir = budgetIndex("graft-dedupmaint-dup")
    def files(t: String) = {
      import scala.jdk.CollectionConverters._
      org.apache.commons.io.FileUtils.listFiles(new java.io.File(s"$dir/$t"), null, true)
        .asScala.map(f => (f.getPath, f.length, f.lastModified)).toSet
    }
    def state() = (Sink.readIndexManifest(spark, dir).flatMap(_.get("write_id")),
      Seq("shingles", "fingerprints", "bands").map(files))
    val before = state()
    // verbatim copies of stored docs under fresh ids: every verdict is exact
    val copies = budgetDocs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 30000).as("doc_id"), col("text"))
    val verdicts = Sink.maintainDedupIndex(spark, copies, dir)
      .collect().map(_.getString(1)).toSet
    assert(verdicts == Set("exact"))
    assert(before._1.isDefined)
    assert(state() == before, "an all-duplicate batch must leave the index untouched")
  }

  test("job budget: the dedup index's write, append, classify, maintain, delete and compact stay within their Spark job counts") {
    val all = budgetDocs
    val dir = Files.createTempDirectory("graft-dedupbudget").toString + "/idx"
    val used = Seq(
      jobsOf(Sink.writeDedupIndex(all.filter(col("doc_id") < 300), dir)),
      jobsOf(Sink.appendToDedupIndex(
        all.filter(col("doc_id") >= 300 && col("doc_id") < 400), dir)),
      jobsOf(Sink.classifyWithDedupIndex(spark, planted(400, 450, 10000), dir)
        .collect(): Unit),
      jobsOf(Sink.maintainDedupIndex(spark, planted(450, 500, 20000), dir)
        .collect(): Unit),
      jobsOf(Sink.deleteFromDedupIndex(spark, dir,
        all.filter(col("doc_id") < 5).select("doc_id"))),
      jobsOf(Sink.classifyWithDedupIndex(spark, planted(400, 450, 10000), dir)
        .collect(): Unit),
      jobsOf(Sink.compactDedupIndex(spark, dir)))
    // the measured counts, the max over six runs (every run gave the
    // same counts)
    val budget = Seq(8, 8, 31, 42, 4, 35, 20)
    val steps = Seq("write", "append", "classify", "maintain", "delete",
      "classify (masked)", "compact")
    val report = steps.zip(used.zip(budget))
      .map { case (step, (n, max)) => s"$step $n/$max" }.mkString(", ")
    info(s"dedup Spark jobs used/budget: $report")
    assert(used.zip(budget).forall { case (n, max) => n <= max },
      s"a dedup step ran over its Spark job budget: $report")
  }

  // ---- stored BPE tokenizer artifact -------------------------------

  private val bpeCorpus = Seq(
    (0L, "abab abab cdcd"),
    (1L, "abab cdcd cdcd ef"),
    (2L, "abab abcd ef ef"))

  private def mergeRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("iter").collect().map(r => (r.getInt(0), r.getInt(1),
      r.getInt(2), r.getString(3), r.getString(4), r.getString(5),
      r.getLong(6))).toSeq

  test("bpe tokenizer: stored encode equals inline and survives a restart") {
    val d = dedupDocs(spark, bpeCorpus)
    val dir = Files.createTempDirectory("graft-bpetok").toString + "/tok"
    Sink.writeBpeTokenizer(d, dir, rounds = 3, batchSize = 3)
    val inlineMerges = mergeRows(
      graft.operators.TextOps.bpeTrainMergesBatched(d, 3, 3))
    val inlineEnc = graft.operators.TextOps
      .bpeEncodeBatched(d, 3, 3).collect().map(_.toSeq).toSeq
    // restart analog: a FRESH session shares no artifact cache with
    // the build — load + encode must come from disk alone
    val fresh = spark.newSession()
    val d2 = dedupDocs(fresh, bpeCorpus)
    assert(mergeRows(Sink.loadBpeMerges(fresh, dir)) == inlineMerges)
    assert(Sink.encodeWithBpeTokenizer(fresh, d2, dir)
      .collect().map(_.toSeq).toSeq == inlineEnc)
  }

  test("bpe tokenizer: extend on the SAME corpus ≡ one longer train") {
    val d = dedupDocs(spark, bpeCorpus)
    val dir = Files.createTempDirectory("graft-bpetok-ext").toString + "/tok"
    Sink.writeBpeTokenizer(d, dir, rounds = 2, batchSize = 3)
    Sink.extendBpeTokenizer(d, dir, rounds = 2, batchSize = 3)
    // continued training re-derives the same vocabulary state the
    // single-shot trainer reaches after round 2, so iter/round/rk
    // numbering AND counts line up exactly
    assert(mergeRows(Sink.loadBpeMerges(spark, dir)) ==
      mergeRows(graft.operators.TextOps.bpeTrainMergesBatched(d, 4, 3)))
  }

  test("bpe tokenizer: an exhausted extend still advances the round budget") {
    val d = dedupDocs(spark, bpeCorpus)
    val dir = Files.createTempDirectory("graft-bpetok-exh").toString + "/tok"
    Sink.writeBpeTokenizer(d, dir, rounds = 2, batchSize = 3)
    val before = mergeRows(Sink.loadBpeMerges(spark, dir))
    // single-symbol vocabulary: no pairs, nothing learned
    Sink.extendBpeTokenizer(dedupDocs(spark, Seq((9L, "x y z"))), dir,
      rounds = 2, batchSize = 3)
    assert(mergeRows(Sink.loadBpeMerges(spark, dir)) == before)
    // the NEXT extension numbers its rounds after the spent budget
    Sink.extendBpeTokenizer(d, dir, rounds = 1, batchSize = 3)
    val after = mergeRows(Sink.loadBpeMerges(spark, dir))
    assert(after.size > before.size)
    assert(after.drop(before.size).forall(_._2 == 5),
      s"new rows must land in round 5 (2 + 2 exhausted + 1): $after")
    assert(after.map(_._1) == (1 to after.size).toSeq,
      "iter numbering must stay gapless across an exhausted extend")
  }

  test("bpe tokenizer: a no-merge corpus fails at write time, not at load") {
    val ex = intercept[IllegalArgumentException] {
      Sink.writeBpeTokenizer(dedupDocs(spark, Seq((0L, "x y z"))),
        Files.createTempDirectory("graft-bpetok-empty").toString + "/tok",
        rounds = 2, batchSize = 3)
    }
    assert(ex.getMessage.contains("no merges"))
  }

  test("bpe tokenizer: kind guards refuse cross-artifact dirs") {
    val d = dedupDocs(spark, bpeCorpus)
    val dedupDir = Files.createTempDirectory("graft-bpetok-kind").toString + "/idx"
    Sink.writeDedupIndex(d, dedupDir)
    val ex = intercept[IllegalArgumentException] {
      Sink.loadBpeMerges(spark, dedupDir)
    }
    assert(ex.getMessage.contains("bpe_tokenizer"))
    val tokDir = Files.createTempDirectory("graft-bpetok-kind2").toString + "/tok"
    Sink.writeBpeTokenizer(d, tokDir, rounds = 1, batchSize = 3)
    val ex2 = intercept[IllegalArgumentException] {
      Sink.classifyWithDedupIndex(spark, d, tokDir)
    }
    assert(ex2.getMessage.contains("dedup_text"))
  }
}
