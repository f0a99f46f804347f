package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.streaming.DedupStream

/** Streaming exact dedup: feeding the same document file twice must
  * emit exactly one row per distinct content fingerprint — the
  * stateful-dedup contract a continuously-ingesting pipeline relies on.
  */
class DedupStreamSpec extends SparkSpec {

  test("re-ingested files dedup to one row per fingerprint") {
    val src = Paths.get("/root/testdata/sf0.001/documents.parquet")
    val dir = Files.createTempDirectory("graft-stream-docs")
    // the same content lands twice (two files) — a re-ingest
    Files.copy(src, dir.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(src, dir.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val name = DedupStream.runBounded(spark, dir.toString, "dedup_stream_spec")
    val streamed = spark.table(name)

    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val distinctFps = docs.select(md5(col("text")).as("fp")).distinct().count()

    assert(streamed.count() == distinctFps)
    assert(streamed.select("fp").distinct().count() == distinctFps)
    // the kept fingerprint set is exactly the corpus fingerprint set
    val kept = streamed.select("fp").collect().map(_.getString(0)).toSet
    val all = docs.select(md5(col("text")).as("fp")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(kept == all)
  }

  private def landOneFile(df: org.apache.spark.sql.DataFrame,
      dir: Path, fname: String): Unit = {
    val tmp = Files.createTempDirectory("graft-neardup-tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(p =>
      p.getFileName.toString.endsWith(".parquet")).findFirst().get()
    Files.copy(part, dir.resolve(fname), StandardCopyOption.REPLACE_EXISTING)
  }

  test("streaming signature projection is bit-identical to the batch groupBy signatures") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      0L -> "the quick brown fox jumps over the lazy dog",
      1L -> "the quick brown fox jumps over the lazy cat",
      2L -> "completely different words about spark engines here today",
      3L -> "x y").toDF("doc_id", "text")
    // the shared per-row kernel the streaming path projects…
    val streamSide = Dedup.minhashSigs(Dedup.shingleSets(docs))
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    // …against a reference built the other way: one row per shingle
    // occurrence, min-aggregated per doc
    val mins = Dedup.minhashParams.zipWithIndex.map { case ((a, b), k) =>
      min(pmod(lit(a) * col("x") + lit(b), lit(Dedup.minhashP))).as(s"h$k")
    }
    val batchSide = Dedup.shingles(docs, distinct = false)
      .withColumn("x", Dedup.shingleBase(col("s")))
      .groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(streamSide.keySet == Set(0L, 1L, 2L))
    assert(streamSide == batchSide)
    // the 2-word doc has no 3-shingles: absent from BOTH signature sets
    assert(!streamSide.contains(3L) && !batchSide.contains(3L))
  }

  test("streaming near-dup pairs ≡ batch minhashLshPairs, pairing across micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    val all = Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "en", "web", 43L),
      (1L, "the quick brown fox jumps over the lazy cat", "en", "web", 43L),
      (2L, "completely different words about spark engines here today", "en", "web", 57L),
      (3L, "the quick brown fox jumps over the lazy dog", "en", "web", 43L))
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val dir = Files.createTempDirectory("graft-neardup-stream")
    // docs 0-1 land in micro-batch 1, docs 2-3 in micro-batch 2: the
    // exact-dup pair (0, 3) can only come from bucket STATE carried
    // across batches
    landOneFile(all.take(2).toDF(cols: _*), dir, "a.parquet")
    landOneFile(all.drop(2).toDF(cols: _*), dir, "b.parquet")
    val streamed = DedupStream.runBoundedNearDups(
        spark, dir.toString, 0.5, "neardup_stream_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Dedup.minhashLshPairs(
        all.map(t => (t._1, t._2)).toDF("doc_id", "text"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch)
    assert(streamed.contains((0L, 3L, 1.0)),
      "the cross-micro-batch exact-dup pair must surface via bucket state")
  }

  test("bounded replay of the sf0.001 corpus matches the batch LSH pair list") {
    val sfDir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    // replay ≡ batch holds wherever no bucket crossed the cap during
    // the replay (over-cap buckets star-link in arrival order, batch in
    // global-min order) — assert the precondition rather than assume it
    val nBands = Dedup.minhashSeeds / Dedup.minhashBandSize
    val sig = Dedup.minhashSignatures(docs)
    val maxBucket = (0 until nBands).map { b =>
      val bv = concat_ws("_", (0 until Dedup.minhashBandSize)
        .map(j => col(s"h${b * Dedup.minhashBandSize + j}")): _*)
      sig.groupBy(bv.as("bv")).count().agg(max("count")).head.getLong(0)
    }.max
    assert(maxBucket <= Dedup.lshBucketCap,
      s"replay-equality precondition violated: max bucket $maxBucket")

    val dir = Files.createTempDirectory("graft-neardup-sf")
    Files.copy(Paths.get(s"$sfDir/documents.parquet"),
      dir.resolve("docs.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val streamed = DedupStream.runBoundedNearDups(
        spark, dir.toString, 0.5, "neardup_sf_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Dedup.minhashLshPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch)
  }

  test("stored-index classify replay ≡ one-shot batch classify") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val existing = docs.filter(col("doc_id") < 40)
    // planted batch: 5 exact copies, 5 near copies, the rest fresh
    val batch = docs.filter(col("doc_id") >= 40).limit(20)
      .unionByName(docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 1000).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") >= 5 && col("doc_id") < 10)
        .select((col("doc_id") + 2000).as("doc_id"),
          concat(col("text"), lit(" zq1 zq2 zq3")).as("text")))
      .localCheckpoint()
    val root = Files.createTempDirectory("graft-dedupidx-replay").toString
    graft.operators.Sink.writeDedupIndex(existing, s"$root/index")
    // two micro-batch drops by doc_id parity
    Seq(("a", 0), ("b", 1)).foreach { case (tag, r) =>
      batch.filter(pmod(col("doc_id"), lit(2)) === r).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/drops/drop=$tag")
    }
    DedupStream.runStoredClassifyReplay(spark, s"$root/drops/drop=*",
      s"$root/index", s"$root/ckpt", s"$root/out")
    val replayed = spark.read.parquet(s"$root/out")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val oneShot = graft.operators.Sink
      .classifyWithDedupIndex(spark, batch, s"$root/index")
      .collect().map(_.toSeq).toSeq
    assert(replayed == oneShot)
    // the fixture actually plants all three verdicts
    val verdicts = replayed.map(_(1)).toSet
    assert(verdicts == Set("exact", "near", "new"))
  }

  test("CDC replay: adds and takedowns fold to a build on the net corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val base = docs.filter(col("doc_id") < 40)
    val adds = docs.filter(col("doc_id") >= 40 && col("doc_id") < 60)
    val root = Files.createTempDirectory("graft-dedupidx-cdc").toString
    graft.operators.Sink.writeDedupIndex(base, s"$root/index")
    adds.select(col("doc_id"), col("text"), lit("add").as("op"))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/drops/drop=a")
    docs.filter(col("doc_id") < 5)
      .select(col("doc_id"), lit(null).cast("string").as("text"),
        lit("delete").as("op"))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/drops/drop=b")
    DedupStream.runCdcReplay(spark, s"$root/drops/drop=*",
      s"$root/index", s"$root/ckpt")
    // planted probes: a copy of a TAKEN-DOWN doc (must not match it)
    // and a copy of a STREAM-ADDED doc (must match it exactly)
    val batch = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 1000).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") >= 40 && col("doc_id") < 45)
        .select((col("doc_id") + 2000).as("doc_id"), col("text")))
      .localCheckpoint()
    val got = graft.operators.Sink
      .classifyWithDedupIndex(spark, batch, s"$root/index")
      .collect().map(_.toSeq).toSeq
    val net = docs.filter(col("doc_id") < 60 && col("doc_id") >= 5)
    val expected = Dedup.incrementalDedup(net, batch)
      .collect().map(_.toSeq).toSeq
    assert(got == expected)
    // the stream-added docs serve as exact partners
    assert(got.filter(r => r(0).asInstanceOf[Long] >= 2040L)
      .forall(_(1) == "exact"))
    // unknown ops fail the stream loudly instead of vanishing
    docs.filter(col("doc_id") === 0)
      .select(col("doc_id"), col("text"), lit("upsert").as("op"))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/drops2/drop=x")
    val ex = intercept[Exception] {
      DedupStream.runCdcReplay(spark, s"$root/drops2/drop=*",
        s"$root/index", s"$root/ckpt2")
    }
    assert(ex.getMessage.contains("unknown op") ||
      Option(ex.getCause).exists(_.getMessage.contains("unknown op")))
  }

  test("ingest replay: the growing-index stream equals the sequential batch form") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val base = docs.filter(col("doc_id") < 30)
    val b1 = docs.filter(col("doc_id") >= 30 && col("doc_id") < 40)
    // batch 2 plants a verbatim copy of a batch-1 doc: 'exact' against
    // it is only possible if the index grew between triggers
    val b2 = docs.filter(col("doc_id") >= 40 && col("doc_id") < 50)
      .unionByName(docs.filter(col("doc_id") === 30)
        .select((col("doc_id") + 1000).as("doc_id"), col("text")))
      .localCheckpoint()
    val batchDir = Files.createTempDirectory("graft-ingest-batch").toString + "/idx"
    graft.operators.Sink.writeDedupIndex(base, batchDir)
    val v1 = graft.operators.Sink.maintainDedupIndex(spark, b1, batchDir)
    val v2 = graft.operators.Sink.maintainDedupIndex(spark, b2, batchDir)
    val expected = v1.unionByName(v2).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    val root = Files.createTempDirectory("graft-ingest-stream").toString
    graft.operators.Sink.writeDedupIndex(base, s"$root/index")
    Seq(("a", b1, 0), ("b", b2, 1)).foreach { case (tag, df, k) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$root/drops/drop=$tag")
      new java.io.File(s"$root/drops/drop=$tag").listFiles()
        .foreach(f => assert(f.setLastModified(1700000000000L + k * 60000L)))
    }
    DedupStream.runIngestReplay(spark, s"$root/drops/drop=*",
      s"$root/index", s"$root/ckpt", s"$root/out")
    val got = spark.read.parquet(s"$root/out").orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(got == expected)
    val copy = got.find(_(0) == 1030L).get
    assert(copy(1) == "exact" && copy(2) == 30L,
      "the cross-batch copy must classify against the grown index")
  }
}
