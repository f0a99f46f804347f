package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._
import graft.operators.Dedup

/** Streaming exact deduplication over a document feed — the ingest-time
  * twin of [[graft.operators.Dedup.exact]]: a training-data pipeline
  * that continuously lands documents must drop re-ingested content
  * without re-scanning the corpus, which is Structured Streaming's
  * stateful `dropDuplicates` on a content fingerprint.
  *
  * Shape: file-source readStream → md5 fingerprint projection →
  * `dropDuplicatesWithinWatermark(fp)` keyed state. State is one entry
  * per distinct fingerprint inside the watermark horizon — the
  * watermark bounds state exactly like the reference's incremental
  * watermark bounds re-fetch (SURVEY.md §2.7), and re-ingests inside
  * the horizon dedup exactly. At 100 TB the fingerprint state lives in
  * the state store (RocksDB), sized by distinct-docs-per-horizon, not
  * corpus size.
  */
object DedupStream {

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** readStream over a parquet directory of documents. */
  def read(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 4): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Fingerprint + arrival-time projection, then stateful dedup: the
    * first document per fingerprint within the watermark passes, later
    * copies are dropped.
    */
  def dedup(stream: DataFrame, watermark: String = "10 minutes"): DataFrame =
    stream
      .withColumn("fp", md5(col("text")))
      .withColumn("arrival", current_timestamp())
      .withWatermark("arrival", watermark)
      .dropDuplicatesWithinWatermark("fp")
      .select("doc_id", "fp", "lang")

  /** Bounded run into a memory sink (specs): process everything in the
    * directory, then stop.
    */
  def runBounded(spark: SparkSession, dir: String,
      name: String = "dedup_stream"): String = {
    val q = dedup(read(spark, dir))
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    name
  }

  // ---------------------------------------------------------------- //
  // Streaming NEAR-dup: the ingest-time twin of                      //
  // [[Dedup.minhashLshPairs]].                                       //
  // ---------------------------------------------------------------- //

  /** One exploded LSH band row of a streaming document. */
  case class BandDoc(band: Int, bv: String, doc_id: Long,
      arrival: java.sql.Timestamp)

  /** Per-(band, bv) bucket state: the doc_ids seen inside the watermark
    * horizon (bounded by the cap) plus the running population count and
    * hub (min doc_id) for over-cap star-linking.
    */
  case class BucketState(docs: Seq[Long], hub: Long, n: Long)

  /** An emitted candidate pair, doc_a < doc_b. */
  case class CandPair(doc_a: Long, doc_b: Long)

  private val shingleN = 3

  /** Per-doc MinHash signature as a PURE PROJECTION — no shuffle, so it
    * runs inside a streaming micro-batch as a narrow map: the shingle
    * multiset becomes an array column, each shingle hashes through the
    * same md5 polynomial as the batch path
    * ([[Dedup.shingleBase]]), and sig_k = array_min of the k-th
    * universal hash over that array. `min` over the same multiset ⇒
    * signatures are bit-identical to the batch explode+groupBy plan —
    * the projection is how a batch rewrite would also look if window
    * parallelism mattered more than partial aggregation.
    *
    * Output: one row per (doc, band) with the band value string built
    * exactly like the batch `bandValue` concat, carrying `arrival` for
    * the watermark. Docs under `shingleN` words have no shingles and are
    * dropped — same as the batch signature groupBy seeing no rows.
    */
  private[graft] def minhashSigProjection(df: DataFrame): DataFrame = {
    val grams = expr(
      s"""transform(sequence(1, size(__w) - ${shingleN - 1}),
         |  i -> concat_ws(' ', ${(0 until shingleN).map(j => s"element_at(__w, i + $j)").mkString(", ")}))""".stripMargin)
    val hashed = df
      .withColumn("__w", split(col("text"), " "))
      .filter(size(col("__w")) >= shingleN)
      .withColumn("__xs", transform(grams, s => Dedup.shingleBase(s)))
    val hCols = Dedup.minhashParams.zipWithIndex.map { case ((a, b), k) =>
      array_min(transform(col("__xs"),
        x => pmod(lit(a) * x + lit(b), lit(Dedup.minhashP)))).as(s"h$k")
    }
    hashed.select(col("doc_id") +: col("arrival") +: hCols: _*)
  }

  private[graft] def minhashBands(df: DataFrame): DataFrame = {
    val sig = minhashSigProjection(df)
    val nBands = Dedup.minhashSeeds / Dedup.minhashBandSize
    def bandValue(bIdx: Int): Column = concat_ws("_",
      (0 until Dedup.minhashBandSize)
        .map(j => col(s"h${bIdx * Dedup.minhashBandSize + j}")): _*)
    val bandStructs = (0 until nBands).map(b =>
      struct(lit(b).as("band"), bandValue(b).as("bv")))
    sig.select(col("doc_id"), col("arrival"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bv").as("bv"),
        col("doc_id"), col("arrival"))
  }

  /** The stateful pair emitter: a new doc in a bucket pairs with every
    * doc already in that bucket's state (classic banding, exact while
    * the bucket stays at or under `cap`); once the population crosses
    * the cap, later arrivals pair with the HUB only — the arrival-order
    * analogue of [[Dedup.cappedBandCandidates]]'s star links, keeping
    * state and output O(cap + 1) per bucket however degenerate the band
    * value. Within one micro-batch arrivals process in doc_id order so
    * replays are deterministic. State expires one watermark horizon
    * after the bucket's last arrival.
    */
  private def emitPairs(cap: Int, horizonMs: Long)(key: (Int, String),
      rows: Iterator[BandDoc],
      state: GroupState[BucketState]): Iterator[CandPair] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var st = state.getOption.getOrElse(BucketState(Vector.empty, Long.MaxValue, 0L))
    val out = scala.collection.mutable.ArrayBuffer.empty[CandPair]
    var maxArrival = 0L
    for (r <- rows.toSeq.sortBy(_.doc_id)) {
      val d = r.doc_id
      maxArrival = math.max(maxArrival, r.arrival.getTime)
      if (st.n < cap) {
        st.docs.foreach { x =>
          if (x != d) out += CandPair(math.min(x, d), math.max(x, d))
        }
        st = BucketState(st.docs :+ d, math.min(st.hub, d), st.n + 1)
      } else {
        if (st.hub != d) out += CandPair(math.min(st.hub, d), math.max(st.hub, d))
        st = st.copy(n = st.n + 1)
      }
    }
    state.update(st)
    state.setTimeoutTimestamp(maxArrival + horizonMs)
    out.iterator
  }

  /** Streaming near-dup CANDIDATE pairs: signature projection → band
    * explode → watermark → per-(band, bv) stateful pairing. Candidates
    * still need the exact-Jaccard verify (a batch join against the doc
    * store — [[runBoundedNearDups]] — or a downstream signature-estimate
    * filter); the streaming stage owns exactly the part that needs
    * state: which docs share a bucket inside the horizon.
    *
    * State at 100 TB: one entry per active (band, bv) bucket, each
    * holding ≤ cap doc_ids — sized by distinct-buckets-per-horizon in
    * the state store, independent of corpus size, expiring with the
    * watermark like the exact-dedup path above.
    */
  def nearDupCandidates(stream: DataFrame,
      watermark: String = "10 minutes",
      horizonMs: Long = 10L * 60 * 1000,
      cap: Int = Dedup.lshBucketCap): Dataset[CandPair] = {
    val spark = stream.sparkSession
    import spark.implicits._
    minhashBands(stream.withColumn("arrival", current_timestamp()))
      .withWatermark("arrival", watermark)
      .as[BandDoc]
      .groupByKey(r => (r.band, r.bv))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(emitPairs(cap, horizonMs))
  }

  /** Bounded replay (specs): stream the directory through
    * [[nearDupCandidates]] one file per micro-batch, then exact-verify
    * the collected candidates against the static corpus with the SAME
    * Jaccard join the batch path uses — output schema and semantics
    * equal [[Dedup.minhashLshPairs]] wherever no bucket crossed the cap
    * during replay.
    */
  def runBoundedNearDups(spark: SparkSession, dir: String,
      threshold: Double = 0.5, name: String = "neardup_stream",
      maxFilesPerTrigger: Int = 1,
      staticDocs: Option[DataFrame] = None): DataFrame = {
    val q = nearDupCandidates(read(spark, dir, maxFilesPerTrigger))
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val cands = spark.table(name).distinct()
    // verify against the caller's corpus frame when given (a glob dir
    // the batch reader can't re-read, or just saving the disk roundtrip)
    val docs = staticDocs.getOrElse(
      spark.read.schema(schema).parquet(dir).select("doc_id", "text").distinct())
    Dedup.jaccardVerify(
      graft.CheckpointPool.cached("stream-verify-shingles")(Dedup.shingles(docs)),
      cands, threshold)
  }

  // ---------------------------------------------------------------- //
  // Streaming incremental classify against the STORED dedup index.   //
  // ---------------------------------------------------------------- //

  /** The streaming ingest LOOP: each micro-batch classifies against
    * the stored dedup index, appends its accepted ('new') docs, and
    * lands the per-doc verdicts in `outDir`
    * ([[graft.operators.Sink.maintainDedupIndex]] per trigger). The
    * index GROWS between triggers — a later drop's copy of an earlier
    * drop's accepted doc classifies exact/near — so replay order is
    * semantic: drops must arrive with strictly increasing file
    * mtimes (the file source's ordering key) for the replay to equal
    * the sequential batch form the oracle unrolls. This is the
    * production continuous-ingestion shape: per-trigger cost is
    * batch-proportional classify probes plus an accepted-sized
    * append, never a corpus scan, and the on-disk index is the only
    * state.
    */
  def runIngestReplay(spark: SparkSession, dropGlob: String,
      indexDir: String, checkpointDir: String, outDir: String,
      threshold: Double = 0.5): Unit =
    // re-apply window ([[Replay]]): a crash between the append and the
    // marker re-runs maintain once — duplicated shingle rows are
    // compact-recoverable and the re-classified batch's verdicts
    // double-land in outDir; the marker bounds this to the one
    // in-flight batch
    Replay.replayWith(spark, dropGlob, checkpointDir, Replay.docSchema,
      clearDirs = Seq(outDir)) { (batch, _) =>
      graft.operators.Sink
        .maintainDedupIndex(spark, batch, indexDir, threshold)
        .write.mode("append").parquet(outDir)
    }

  /** CDC-shaped maintenance of the stored dedup index — accepted docs
    * and takedowns arrive through ONE stream: each micro-batch appends
    * its "add" rows ([[graft.operators.Sink.appendToDedupIndex]]) and
    * tombstones its "delete" ids
    * ([[graft.operators.Sink.deleteFromDedupIndex]]). The final index
    * equals a build on (base ∪ adds) minus deletes in ANY drop order,
    * because appends are append-only rows folded at read and a
    * tombstone masks its doc whether written before or after the
    * doc's rows — with the same resurrect caveat as the IVF CDC
    * replay: a feed that re-adds a deleted doc_id must compact
    * between the delete and the re-add (tombstone-wins has no
    * sequence ordering). An op this replay doesn't know fails the
    * stream loudly instead of vanishing from the index.
    */
  def runCdcReplay(spark: SparkSession, dropGlob: String,
      indexDir: String, checkpointDir: String): Unit =
    // re-apply window ([[Replay]]): a re-run append folds at read
    // (compact-recoverable duplication) and a re-run delete is a
    // no-op on the tombstone set
    Replay.cdcReplayWith(spark, dropGlob, checkpointDir, Replay.docSchema)(
      add = b => graft.operators.Sink.appendToDedupIndex(
        b.select("doc_id", "text"), indexDir),
      delete = b => graft.operators.Sink.deleteFromDedupIndex(spark, indexDir,
        b.select("doc_id")))

  /** Classify each micro-batch against the FROZEN stored index and
    * append the verdicts to `outDir` — the restart-safe streaming form
    * of the planted-batch classify. The index never changes, so
    * verdicts are per-doc independent and the replayed union shares
    * the one-shot batch oracle verbatim; the [[Replay]] marker keeps a
    * retried trigger from double-landing its verdict rows.
    */
  def runStoredClassifyReplay(spark: SparkSession, dropGlob: String,
      indexDir: String, checkpointDir: String, outDir: String,
      threshold: Double = 0.5): Unit =
    Replay.replayWith(spark, dropGlob, checkpointDir, Replay.docSchema,
      clearDirs = Seq(outDir)) { (batch, _) =>
      graft.operators.Sink
        .classifyWithDedupIndex(spark, batch, indexDir, threshold)
        .write.mode("append").parquet(outDir)
    }
}
