package graft

import org.apache.spark.storage.StorageLevel
import graft.operators.Similarity

/** Cache lifecycle: every session-scoped cache must evict per tenant
  * (releasing blocks while the context lives) and must not let one
  * tenant's eviction touch another's entries — the multi-tenant JVM
  * contract.
  */
class SessionCachesSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("stocks cache: per-session entries, tenant eviction unpersists only that tenant") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val a1 = Tables.stocks(s1, sfDir)
    val a2 = Tables.stocks(s2, sfDir)
    // cached: repeated fetch is the same frame, persisted
    assert(Tables.stocks(s1, sfDir) eq a1)
    assert(a1.storageLevel != StorageLevel.NONE)
    assert(a2.storageLevel != StorageLevel.NONE)

    SessionCaches.evictSession(s1)
    // s1's entry is gone (a fresh fetch re-derives) and its blocks are
    // released; s2's entry is untouched
    assert(a1.storageLevel == StorageLevel.NONE)
    assert(!(Tables.stocks(s1, sfDir) eq a1))
    assert(Tables.stocks(s2, sfDir) eq a2)
    assert(a2.storageLevel != StorageLevel.NONE)
    SessionCaches.evictSession(s1)
    SessionCaches.evictSession(s2)
  }

  test("quantizer cache: tenant eviction releases the checkpoint and forces retrain") {
    import org.apache.spark.sql.GraftShims
    val s1 = spark.newSession()
    val emb = Tables.embeddings(s1, sfDir)
    val q1 = Similarity.kmeansAssignCached(emb, 8, 2, "spec-corpus")
    assert(Similarity.kmeansAssignCached(emb, 8, 2, "spec-corpus") eq q1)
    // the trained assignment is a checkpointed frame with live blocks
    // (checked on q1's own RDD — the context-global persistent-RDD
    // census races with concurrently-running suites)
    assert(GraftShims.checkpointStorageLevel(q1).exists(_ != StorageLevel.NONE),
      "training must have checkpointed the assignment")

    SessionCaches.evictSession(s1)
    assert(GraftShims.checkpointStorageLevel(q1).contains(StorageLevel.NONE),
      "eviction must release the quantizer checkpoint blocks")
    val q2 = Similarity.kmeansAssignCached(emb, 8, 2, "spec-corpus")
    assert(!(q2 eq q1), "a fresh fetch after eviction must retrain")
    SessionCaches.evictSession(s1)
  }

  test("vocabPrune / customerRfm terminal checkpoints: reused across calls, released on eviction") {
    import graft.operators.{Relational, TextOps}
    val s1 = spark.newSession()
    import s1.implicits._
    val d = Seq(
      (0L, "alpha beta gamma", "en", "src", 16L),
      (1L, "alpha beta delta", "en", "src", 16L),
      (2L, "alpha epsilon zeta", "en", "src", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val v1 = TextOps.vocabPrune(d, minDf = 2, maxDfFrac = 1.0).collect()
    val r1 = Relational.customerRfm(s1, sfDir).collect()
    assert(v1.nonEmpty && r1.nonEmpty)

    // second calls hit the bounded caches: the call itself (the part
    // that previously pinned a FRESH checkpoint per call) launches no
    // job — both operators are lazy past their cached frame. Count only
    // THIS thread's jobs (job group is thread-local): suites share the
    // context and may run concurrently.
    val group = "graft-leak-spec"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    s1.sparkContext.addSparkListener(listener)
    val (v2f, r2f) = try {
      s1.sparkContext.setJobGroup(group, "leak spec cache-hit window")
      val a = TextOps.vocabPrune(d, minDf = 2, maxDfFrac = 1.0)
      val b = Relational.customerRfm(s1, sfDir)
      Thread.sleep(500) // listener bus is async; let any job event land
      assert(jobs.get() == 0,
        s"cache-hit calls launched ${jobs.get()} Spark job(s) — a fresh " +
          "checkpoint per call is the leak this cache exists to prevent")
      (a, b)
    } finally {
      s1.sparkContext.clearJobGroup()
      s1.sparkContext.removeSparkListener(listener)
    }
    assert(v2f.collect().toSeq == v1.toSeq)
    assert(r2f.collect().toSeq == r1.toSeq)

    // tenant eviction releases the terminal checkpoints; fresh calls
    // recompute from scratch and still agree
    SessionCaches.evictSession(s1)
    assert(TextOps.vocabPrune(d, minDf = 2, maxDfFrac = 1.0)
      .collect().toSeq == v1.toSeq)
    assert(Relational.customerRfm(s1, sfDir).collect().toSeq == r1.toSeq)
    SessionCaches.evictSession(s1)
  }

  test("plan-keyed pool misses when the files under the same path are rewritten") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-poolgen").toString + "/t"
    Seq((0L, "alpha beta"), (1L, "alpha gamma")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    def read() = spark.read.parquet(dir)
    val a = CheckpointPool.cached("spec-poolgen")(read())
    assert(CheckpointPool.cached("spec-poolgen")(read()) eq a,
      "unchanged files must hit the pool")
    // same path, new files: semanticHash COLLIDES (InMemoryFileIndex
    // equality is by root path, not file list) — the file-generation
    // stamp in the key must turn the rewrite into a miss
    Seq((0L, "delta epsilon"), (2L, "zeta eta")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val b = CheckpointPool.cached("spec-poolgen")(read())
    assert(!(b eq a), "a same-path rewrite must miss the pool")
    assert(b.select("doc_id").collect().map(_.getLong(0)).toSet == Set(0L, 2L),
      "the miss must serve the NEW snapshot")
  }

  test("a winning insert parks the SUPERSEDED generation; the next turnover releases it") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-poolsup").toString + "/t"
    Seq((0L, "alpha")).toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    def read() = spark.read.parquet(dir)
    val a = CheckpointPool.cached("spec-poolsup")(read())
    assert(a.count() == 1)
    // grow the directory (the streaming shape: same path, new file set)
    Seq((1L, "beta")).toDF("doc_id", "text").write.mode("append").parquet(dir)
    val b = CheckpointPool.cached("spec-poolsup")(read())
    assert(!(b eq a), "a grown directory must mint a new generation")
    assert(b.count() == 2)
    // the superseded generation is PARKED for one turnover, not
    // released inline — a concurrent holder that fetched it just
    // before the supersession must be able to finish its job
    assert(a.count() == 1, "superseded generation must stay readable for one turnover")
    // the next supersession turns the generation over: gen-1 releases
    // (a re-read fails — checkpoint lineage is truncated on
    // unpersist), gen-2 takes its parked slot, gen-3 serves
    Seq((2L, "gamma")).toDF("doc_id", "text").write.mode("append").parquet(dir)
    val c = CheckpointPool.cached("spec-poolsup")(read())
    assert(c.count() == 3)
    val oldGone =
      try { a.count(); false }
      catch { case _: Throwable => true }
    assert(oldGone,
      "the twice-superseded generation must be released on the second turnover")
    assert(b.count() == 2, "the once-superseded generation is still the parked cushion")
    // the live generation still serves
    assert(CheckpointPool.cached("spec-poolsup")(read()) eq c)
  }

  test("sweepStopped keeps entries whose context is alive") {
    val s = spark.newSession()
    val a = Tables.stocks(s, sfDir)
    SessionCaches.sweepStopped()
    assert(Tables.stocks(s, sfDir) eq a)
    SessionCaches.evictSession(s)
  }

  test("tenant eviction empties every session cache for that tenant only") {
    import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
    import graft.operators.{Dedup, Relational, Sink, TextOps}
    val index = java.nio.file.Files.createTempDirectory("graft-evict-all").toString
    // one entry in every cache family: the table handles, stocks, the
    // checkpoint pool, Similarity's centroid / quantizer / corpus-count
    // / two-level / PQ caches, TextOps' vocabPrune and LM caches,
    // Dedup's pairs and incremental-index caches, the RFM cache and
    // Sink's five generation caches. Returns the frames whose blocks
    // eviction must release.
    def fill(s: SparkSession): Seq[DataFrame] = {
      val emb = Tables.embeddings(s, sfDir)
      val docs = s.createDataFrame(Seq(
        (0L, "alpha beta gamma delta epsilon zeta"),
        (1L, "alpha beta gamma delta epsilon eta"),
        (2L, "theta iota kappa lambda mu nu"))).toDF("doc_id", "text")
      val stocks = Tables.stocks(s, sfDir)
      val pooled = CheckpointPool.cached("spec-evict-all")(docs)
      val assigned = Similarity.kmeansAssignCached(emb, 4, 2, "spec-evict-all")
      Similarity.ivfTopK(emb, 10, 3, 8, 2, corpusKey = Some("spec-evict-all"))
      Similarity.corpusCount(emb, Some("spec-evict-all"))
      Similarity.semDedupTwoLevel(emb, 0.95, 2, 2, 2)
      Similarity.pqTrained(emb, 4, 16, 8, 2, Some("spec-evict-all"))
      TextOps.vocabPrune(docs, minDf = 1, maxDfFrac = 1.0)
      val lm = TextOps.lmScoreCached(docs, "spec-evict-all")
      val pairs = Dedup.minhashLshPairsCached(docs, "spec-evict-all")
      Dedup.incrementalDedup(docs, docs, existingKey = Some("spec-evict-all"))
      Relational.customerRfm(s, sfDir)
      if (!new java.io.File(s"$index/centroids").exists)
        Sink.writeIvfIndex(emb, index, Sink.Pq(4, 16, 8), Sink.Cells(8), iters = 2)
      Sink.loadIvfCentroids(s, index)
      Sink.loadPqCentroids(s, index)
      Sink.storedCellCounts(s, index, 8)
      Sink.centroidCellIds(s, index, 8)
      Sink.storedCodeCounts(s, index)
      Sink.pqCodeGrid(s, index)
      Seq(stocks, pooled, assigned, lm, pairs)
    }
    val (s1, s2) = (spark.newSession(), spark.newSession())
    val held = fill(s1)
    fill(s2)
    def counts(s: SparkSession) = SessionCaches.all.map(_.entries(s))
    val (before1, before2) = (counts(s1), counts(s2))
    assert(before1.count(_ > 0) == 19,
      s"every one of the 19 session caches must hold an s1 entry: $before1")
    SessionCaches.evictSession(s1)
    assert(counts(s1).forall(_ == 0), s"s1 entries survived eviction: ${counts(s1)}")
    assert(counts(s2) == before2, "evicting s1 must not touch s2's entries")
    assert(held.head.storageLevel == StorageLevel.NONE, "stocks must be unpersisted")
    held.tail.foreach(df =>
      assert(GraftShims.checkpointStorageLevel(df).contains(StorageLevel.NONE),
        "eviction must release every checkpointed value"))
    SessionCaches.evictSession(s2)
  }

  test("a lost build race returns the winner to both callers and releases the loser once") {
    val released = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val cache = new SessionCache[String, AnyRef](maxEntries = 4, release = released.add(_): Unit)
    val s = spark.newSession()
    // both builds start before either inserts, so one must lose
    val bothBuilding = new java.util.concurrent.CountDownLatch(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[AnyRef] {
          def call(): AnyRef = cache.getOrBuild(s, "k") {
            bothBuilding.countDown()
            assert(bothBuilding.await(30, java.util.concurrent.TimeUnit.SECONDS))
            new Object
          }
        })
      }
      val results = calls.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(results(0) eq results(1), "both callers must get the winner")
      assert(cache.get(s, "k").exists(_ eq results(0)))
      assert(released.size == 1, s"the loser must be released exactly once: $released")
      assert(!(released.peek() eq results(0)), "the winner must not be released")
    } finally pool.shutdown()
    SessionCaches.evictSession(s)
    assert(cache.entries(s) == 0 && released.size == 2)
  }

  test("a stopped context's entries are swept without a release") {
    // stopping a context needs a JVM of its own: the specs share one
    val java = s"${System.getProperty("java.home")}/bin/java"
    val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    val cmd = Seq(java, "-Xmx1g") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.StoppedContextProbe")
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd).!(
      scala.sys.process.ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(code == 0, s"probe failed:\n$out")
    assert(out.toString.contains("swept 1 entry, 0 releases; 0 left"), out.toString)
  }
}

/** Child-JVM half of the stopped-context spec: one cached entry, then
  * the context stops. The application-end listener that
  * [[SessionCache.getOrBuild]] installs must sweep the entry, and
  * neither the sweep nor a later eviction may call `release`.
  */
object StoppedContextProbe {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    var releases = 0
    val cache = new SessionCache[String, String](maxEntries = 4, release = _ => releases += 1)
    cache.getOrBuild(spark, "k")("v")
    val held = cache.entries(spark)
    spark.stop()  // drains the listener bus, so the sweep has run
    val left = cache.entries(spark)
    SessionCaches.evictSession(spark)
    println(s"swept $held entry, $releases releases; $left left")
    sys.exit(if (held == 1 && left == 0 && releases == 0) 0 else 1)
  }
}
