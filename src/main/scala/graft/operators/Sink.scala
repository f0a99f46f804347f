package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet sink operators (SURVEY.md §2.1 S5/S6) — the engine
  * equivalents of the reference's row-at-a-time insert
  * (/root/reference/fetch_yfinance.py:21-34) and bulk upsert
  * (/root/reference/fetch_and_store_multi.py:244-248). Batching and
  * vectorized encoding are native to the Parquet writer; what the sink
  * layer owns is LAYOUT — the partitioning and in-file ordering that
  * make downstream reads cheap.
  *
  * Layout contract for the stocks table at scale:
  *  - `partitionBy(symbol)` → partition pruning turns per-symbol scans
  *    (the reference's `WHERE symbol=?`, SURVEY §2.2 P2) into
  *    directory-level pruning;
  *  - `sortWithinPartitions(date)` → parquet row-group min/max stats
  *    prune date ranges (P3/P4), and window scans are pre-sorted.
  * At 100 TB, symbol alone may under- or over-partition; the grid
  * becomes (symbol-bucket, year) with the same sort contract.
  */
object Sink {

  /** Write bars partitioned by symbol, date-sorted within files. */
  def writeStocks(df: DataFrame, path: String): Unit =
    df.repartition(col("symbol"))
      .sortWithinPartitions("symbol", "date")
      .write
      .mode("overwrite")
      .partitionBy("symbol")
      .parquet(path)

  /** Upsert-then-write snapshot rewrite: merge updates into the stored
    * table and replace it (the plain-parquet stand-in for a
    * transactional MERGE; at scale this becomes dynamic partition
    * overwrite of only the touched partitions).
    */
  def upsertInto(spark: SparkSession, path: String, updates: DataFrame): Unit = {
    val exists = pathExists(spark, path)
    val merged = if (exists) {
      Merge.upsert(spark.read.parquet(path), updates)
    } else updates
    // write to a temp location then swap, so the source is never read
    // and overwritten in the same job. The swap is the crash-recoverable
    // rename-aside (never delete-then-rename: Hadoop rename signals
    // failure by returning false, and an unchecked false after the
    // delete would lose the only live copy).
    val tmp = path + "__tmp"
    writeStocks(merged, tmp)
    if (exists) checkedSwap(spark, tmp, path, "upsertInto")
    else {
      val dst = new org.apache.hadoop.fs.Path(path)
      val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.rename(new org.apache.hadoop.fs.Path(tmp), dst),
        s"upsertInto: rename($tmp, $dst) failed — new data remains at $tmp")
    }
  }

  /** Write bars to a (symbol, year)-partitioned layout, date-sorted
    * within files — the grid [[upsertPartitioned]] merges into. Year is
    * derived from the date column; reads get two-level directory pruning
    * (`WHERE symbol=? AND date BETWEEN` prunes to the touched dirs).
    */
  def writeStocksPartitioned(df: DataFrame, path: String,
      overwriteMode: String = "static"): Unit =
    df.withColumn("year", year(col("date")))
      .repartition(col("symbol"), col("year"))
      .sortWithinPartitions("symbol", "date")
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", overwriteMode)
      .partitionBy("symbol", "year")
      .parquet(path)

  /** Partition-pruned upsert — the scale path [[upsertInto]]'s scaladoc
    * promises, demonstrated: merge `updates` into a (symbol, year)
    * partitioned table rewriting ONLY the touched partitions.
    *
    * The reference's production cadence is a small daily increment into
    * a years-deep store (/root/reference/fetch_and_store_multi.py:244-248
    * upserts one fetch batch per run); a snapshot rewrite reads and
    * rewrites the whole table for that sliver. Here:
    *  1. the touched (symbol, year) set comes off the updates — an
    *     aggregate over partition COLUMNS only, collected to the driver
    *     (bounded by partition count, never by data);
    *  2. existing rows are read back under an explicit partition-value
    *     filter, so the scan prunes to touched directories (file listing
    *     + parquet footers of everything else are never opened);
    *  3. the merged slice is written with dynamic partition overwrite —
    *     only partitions present in the written frame are replaced;
    *     untouched partition files are never read, never rewritten,
    *     byte-identical after the merge (SinkSpec asserts both).
    * Cost is proportional to the updated slice, not the table.
    */
  def upsertPartitioned(spark: SparkSession, path: String, updates: DataFrame): Unit = {
    if (!pathExists(spark, path)) {
      writeStocksPartitioned(updates, path)
      return
    }
    val touched = updates.select(col("symbol"), year(col("date")).as("year"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getInt(1)))
      .toSeq
    val merged = Merge.upsert(prunedTouchedRead(spark, path, touched), updates)
    writeStocksPartitioned(merged, path, overwriteMode = "dynamic")
  }

  /** Read back ONLY the given (symbol, year) partitions — an explicit
    * partition-value filter, so the scan prunes to touched directories
    * (SinkSpec asserts `PartitionFilters` in the executed plan).
    */
  private[graft] def prunedTouchedRead(spark: SparkSession, path: String,
      touched: Seq[(String, Int)]): org.apache.spark.sql.DataFrame = {
    val pruneFilter = touched
      .groupBy(_._1).toSeq
      .map { case (s, ys) =>
        col("symbol") === s && col("year").isin(ys.map(_._2): _*)
      }
      .reduceOption(_ || _)
      .getOrElse(lit(false))
    spark.read.parquet(path).filter(pruneFilter).drop("year")
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The 100 TB layout made concrete: a bucketed, per-bucket-sorted
    * stocks table. Reading it back hash-distributes by symbol from
    * STORAGE — a `PARTITION BY symbol` window or a symbol-keyed join
    * plans with no Exchange (SinkSpec asserts the executed plan), which
    * on a cluster is the difference between a shuffle of the whole
    * table and none. One file per bucket keeps Spark's
    * one-sorted-file-per-bucket requirement so bucket info stays
    * usable.
    */
  def writeStocksBucketed(df: DataFrame, table: String, buckets: Int = 8): Unit =
    df.repartition(buckets, col("symbol"))
      .write
      .mode("overwrite")
      .bucketBy(buckets, "symbol")
      .sortBy("symbol", "date")
      .saveAsTable(table) // managed table in the session warehouse

  /** S7 CSV export (the reference's S3 path is a manual CSV dump +
    * `aws s3 cp`, /root/reference/README.md:99-107 — no object store in
    * this container, so the path is any Hadoop-FS URI; s3a:// works
    * unchanged on a cluster with the S3 connector on the classpath).
    * Headered, one file per partition; doubles round-trip exactly
    * (shortest-repr printing).
    */
  def exportCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Read back an [[exportCsv]] export with an explicit schema (CSV has
    * no types; inferring would re-scan and can widen types).
    */
  def readCsv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** JSONL export — the LLM-training-data interchange format (one JSON
    * object per line, one file per partition; sharded .jsonl is what
    * tokenizer/loader pipelines consume). Same Hadoop-FS path semantics
    * as [[exportCsv]] (s3a:// works unchanged on a cluster).
    */
  def exportJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Read back an [[exportJsonl]] export with an explicit schema —
    * skipping inference avoids the extra full scan AND pins types
    * (inference would widen e.g. int-valued doubles).
    */
  def readJsonl(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Reject side-output sink (SURVEY §2.1 S9 / §2.8 Q4): quality
    * rejects land next to the main table, partitioned the same way.
    */
  def writeRejects(df: DataFrame, path: String): Unit =
    df.withColumn("errors", concat_ws(",", col("errors")))
      .write.mode("append").partitionBy("symbol").parquet(path)

  /** The per-row payload a stored IVF index keeps beside each vector.
    * The lifecycle — train, cell-partitioned write, append, maintain,
    * probe — is one code path for every codec; a codec supplies only
    * its manifest fields, its extra trained artifact (the PQ
    * codebooks), its per-row layout columns and, for PQ, the code-drift
    * tripwire. Append, maintain and search read the codec back from
    * the index ([[storedGeometry]]), so only the write names it.
    */
  sealed trait IvfCodec {
    /** The manifest `kind`. */
    def kind: String
    /** Assignment-table columns, in stored order. */
    private[Sink] def columns: Seq[String]
    private[Sink] def fields: Seq[(String, String)] = Nil
    /** The layout columns over (vec_id, embedding, cell) rows, as
      * narrow per-row expressions; `codebooks` (the stored or freshly
      * trained PQ artifact) is only evaluated by [[Pq]].
      */
    private[Sink] def encode(rows: DataFrame, codebooks: => DataFrame): DataFrame = rows
  }

  /** Float vectors only — exact-cosine serving ([[searchIvfIndex]]). */
  case object Flat extends IvfCodec {
    val kind = "ivf"
    private[Sink] val columns = Seq("vec_id", "embedding", "cell")
  }

  /** The int8 tier: per-vector max-abs codes from the ONE quantization
    * scheme ([[Similarity.sq8Codes]], shared with the in-memory tier),
    * so stored serving ([[searchIvfSq8Index]]) cannot diverge from
    * [[Similarity.ivfSq8TopK]]. No trained artifact, so nothing to
    * drift beyond the coarse cells.
    */
  case object Sq8 extends IvfCodec {
    val kind = "ivfsq8"
    private[Sink] val columns = Seq("vec_id", "q", "n2", "ma", "embedding", "cell")
    override private[Sink] def encode(rows: DataFrame,
        codebooks: => DataFrame): DataFrame = Similarity.withSq8Codes(rows)
  }

  /** The FAISS-style compressed tier: m subspaces of `subDim` dims, `k`
    * codewords each. The codes and the raw vectors share the cell
    * files, so the ADC candidate stage and the exact rerank of
    * [[searchIvfPqIndex]] are two column projections of the same
    * probed partitions. The codebook geometry is subspace-shaped, not
    * corpus-shaped: a sized build resizes only the coarse cells.
    */
  final case class Pq(m: Int = 4, subDim: Int = 16, k: Int = 8) extends IvfCodec {
    val kind = "ivfpq"
    private[Sink] val columns = Seq("vec_id", "codes", "embedding", "cell")
    override private[Sink] val fields =
      Seq("m" -> m.toString, "subDim" -> subDim.toString, "k" -> k.toString)
    override private[Sink] def encode(rows: DataFrame,
        codebooks: => DataFrame): DataFrame =
      rows.crossJoin(broadcast(pqSubsArray(codebooks)))
        .withColumn("codes", pqCodesColumn(subDim))
  }

  /** Write-time cell geometry. A fixed cell COUNT makes per-cell
    * population grow with the corpus (probe scans grow ∝ N); a fixed
    * cell SIZE (cells = ⌈N/target⌉, [[sizedCells]]) keeps every probed
    * partition constant-sized — the production rule. The manifest
    * records `target_cell_size` for a sized build, and a maintenance
    * RETRAIN then re-derives cells from the grown index instead of
    * freezing the stored count (appends never resize).
    */
  sealed trait IvfCells
  final case class Cells(n: Int) extends IvfCells
  final case class CellSize(target: Int) extends IvfCells

  /** Persist a trained IVF index — the production "train once, store,
    * serve many" shape: the cell assignment lands PARTITIONED BY cell
    * WITH the vectors and the codec's payload co-located in the cell
    * partitions (so a probe is a partition-pruned scan that already
    * carries everything it scores — no join back against the
    * corpus-sized embedding table at serve time), the trained centroid
    * table (plus the PQ codebooks) beside it, and ONE manifest write
    * recording the geometry every later operation reads back. Serving
    * never retrains. Returns the resolved cell count. The overwrite is
    * static ([[TableLayout.save]]): a retrain replaces every cell.
    */
  def writeIvfIndex(emb: DataFrame, dir: String, codec: IvfCodec,
      cells: IvfCells = Cells(8), iters: Int = 2,
      corpusKey: Option[String] = None): Int = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    require(iters >= 2, "a stored IVF index needs trained centroids (iters >= 2)")
    val spark = emb.sparkSession
    val (n, sizeField) = cells match {
      case Cells(c) => (c, Nil)
      case CellSize(sz) =>
        (sizedCells(emb, sz, corpusKey), Seq("target_cell_size" -> sz.toString))
    }
    // training is once-per-corpus by design: with a corpusKey the
    // quantizer (and the PQ codebooks) come from the session caches —
    // shared with ivfTopK / the pq_* queries — and a rebuild pays only
    // the writes. The caches OWN those checkpoints; release them only
    // on the keyless (train-fresh) path.
    def release(dfs: Seq[DataFrame]): Unit =
      if (corpusKey.isEmpty) dfs.foreach(org.apache.spark.sql.GraftShims.uncheckpoint)
    // the PQ codebooks and the coarse quantizer train on DISJOINT
    // inputs (subvector slices vs full vectors) — run them
    // concurrently; results are bit-identical to serial, and the
    // codebook-free codecs train the quantizer on the calling thread
    val pqF = Future {
      codec match {
        case Pq(m, subDim, k) => Some(Similarity.pqTrained(emb, m, subDim, k, iters, corpusKey))
        case _ => None
      }
    }
    def trainedPq(pq: Option[(DataFrame, DataFrame)]) =
      pq.toSeq.flatMap { case (codes, cents) => Seq(codes, cents) }
    // a failure on either training leg must not abandon the other
    // leg's keyless checkpoints
    val cent = try corpusKey match {
      case Some(ck) => Similarity.kmeansAssignCachedWithCentroids(emb, n, iters, ck)._2
      case None => Similarity.kmeansAssignInternal(emb, n, iters)._2.get
    } catch { case t: Throwable =>
      try release(trainedPq(Await.result(pqF, Duration.Inf)))
      catch { case _: Throwable => () }
      throw t
    }
    val pq = try Await.result(pqF, Duration.Inf)
      catch { case t: Throwable => release(Seq(cent)); throw t }
    val trained = trainedPq(pq)
    // the model-sized artifacts are independent of the corpus-sized
    // assignment write — overlap them (guide §2.6: the small job
    // back-fills the big one's tail); the manifest still lands only
    // after everything exists, so a reader never sees a manifest ahead
    // of its content
    val artF = Future {
      writeCentroidArtifact(cent, s"$dir/centroids")
      pq.foreach { case (_, c) =>
        writeCentroidArtifact(c.select("sub", "cell", "c"), s"$dir/pq_centroids")
      }
    }
    // cell and payload are NARROW per-row expressions against the
    // broadcast trained artifacts (bit-identical to the trained
    // assignment — the same rounded-L2 argmin with cell tiebreak), so
    // the write pays ONE exchange: the cell repartition (guide §2.4)
    try assignmentTable.save(
        codec.encode(withNearestCell(emb.select("vec_id", "embedding"), cent),
          pq.get._2).select(codec.columns.map(col): _*),
        assignmentTable.path(dir), SaveMode.Overwrite)
    finally Await.ready(artF, Duration.Inf)
    artF.value.get.get // surface an artifact-write failure
    writeIndexManifest(spark, dir,
      Seq("kind" -> codec.kind, "cells" -> n.toString) ++ codec.fields ++ sizeField)
    // a full (re)write is a new generation — tombstones against the
    // REPLACED rows must not mask the new content
    clearTombstones(spark, dir)
    release(cent +: trained)
    n
  }

  /** One partitioned table of a stored index: its name under the index
    * dir, its partition column and its in-file sort keys. The writer
    * repartitions on the partition column BEFORE the partitioned write,
    * so each task holds whole partitions and every partition (or, on
    * append, every touched one) lands as ONE file. Without it every
    * shuffle task writes a sliver into every partition directory —
    * tasks × partitions files, and at cells ∝ corpus the serve-time
    * file listing dominates search (measured ×100 probe: 36.8 s → the
    * one-file-per-cell layout serves the same probe in ~1 s).
    */
  private final case class TableLayout(name: String, part: String, keys: String*) {
    def path(dir: String): String = s"$dir/$name"

    def writer(rows: DataFrame) =
      rows.repartition(col(part)).sortWithinPartitions(keys.map(col): _*)
        .write.partitionBy(part)

    /** Append, or overwrite pinned to STATIC partition-overwrite
      * semantics: a full rewrite must replace the WHOLE table, or
      * partitions absent from the new rows would keep stale rows from
      * the previous generation under a dynamic session default.
      */
    def save(rows: DataFrame, dst: String, mode: SaveMode): Unit =
      writer(rows).mode(mode).option("partitionOverwriteMode", "static")
        .parquet(dst)
  }

  private val assignmentTable = TableLayout("assignment", "cell", "cell", "vec_id")

  // the dedup index's three tables (see "stored incremental-dedup
  // text index" below)
  private val shinglesTable = TableLayout("shingles", "db", "db", "doc_id", "s")
  private val fingerprintsTable = TableLayout("fingerprints", "fpb", "fpb", "fp", "doc_id")
  private val bandsTable = TableLayout("bands", "band", "band", "bv", "doc_id")

  /** A stored-index family as the shared lifecycle core sees it: the
    * manifest kinds it owns, the id column its tombstones carry, and
    * the tables compaction rewrites (in swap order; the last one is
    * written last, so its presence marks a complete index). `swapsDir`:
    * a maintenance retrain swaps the whole index dir as well.
    * `distinctRows`: every column is a key, so compaction restores the
    * distinct invariant (defense in depth against a violated append
    * contract).
    */
  private final case class IndexFamily(kinds: Seq[String], idCol: String,
      tables: Seq[TableLayout], swapsDir: Boolean, distinctRows: Boolean) {
    /** Every path a [[checkedSwap]] of this family replaces. */
    def trees(dir: String): Seq[String] =
      (if (swapsDir) Seq(dir) else Nil) ++ tables.map(_.path(dir))
  }

  private val ivfIndex = IndexFamily(Seq(Flat.kind, Sq8.kind, Pq().kind),
    "vec_id", Seq(assignmentTable), swapsDir = true, distinctRows = false)

  private val dedupIndex = IndexFamily(Seq("dedup_text"), "doc_id",
    Seq(shinglesTable, fingerprintsTable, bandsTable),
    swapsDir = false, distinctRows = true)

  /** Fixed-cell-SIZE geometry: cells = ⌈N/targetCellSize⌉ (see
    * [[CellSize]]). One column-pruned count on the keyless path; with
    * a corpusKey, N comes from the shared per-corpus count cache
    * ([[Similarity.corpusCount]]) — a keyed build whose corpus was
    * already counted derives its geometry without another scan.
    */
  def sizedCells(emb: DataFrame, targetCellSize: Int,
      corpusKey: Option[String] = None): Int = {
    require(targetCellSize > 0, s"targetCellSize must be > 0, got $targetCellSize")
    math.max(1, math.ceil(
      Similarity.corpusCount(emb, corpusKey).toDouble / targetCellSize).toInt)
  }

  /** Stored-artifact generation stamp: (max mtime, file count, total
    * bytes) of the data files under `path`, folded to one Long. A
    * retrain REWRITES the artifact files (new stamp); an append never
    * touches the trained artifacts. One FS listing, no parquet opened.
    *
    * The stamp alone is NOT collision-free: a retrain that rewrites the
    * same number of bytes within one mtime tick (second-granularity
    * object stores) reproduces the old stamp. [[genKey]] therefore
    * also folds in the manifest's `write_id` (a per-write nonce, see
    * [[writeIndexManifest]]) — every full index write changes it.
    */
  private def artifactGeneration(spark: SparkSession, path: String): Long = {
    var mt = 0L; var n = 0L; var bytes = 0L
    forEachDataFile(spark, path) { f =>
      mt = math.max(mt, f.getModificationTime); n += 1; bytes += f.getLen
    }
    if (n == 0 && !pathExists(spark, path)) -1L
    else (mt * 31 + n) * 31 + bytes
  }

  /** The ONE recursive tree walk behind [[artifactGeneration]],
    * [[countDataFiles]] and [[cellFileCounts]]: visits every data file
    * (skips _SUCCESS / hidden), no-op on a missing tree. FS metadata
    * only — never opens a file, never runs a Spark job.
    */
  private def forEachDataFile(spark: SparkSession, path: String)(
      visit: org.apache.hadoop.fs.LocatedFileStatus => Unit): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) visit(f)
    }
  }

  /** Cache key of the stored table at `path` (one level under its index
    * dir): (session, path, [[artifactGeneration]], the index manifest's
    * `write_id` — "" for a legacy index, which falls back to the stamp
    * alone). Every per-index driver cache below keys on it, so each
    * misses when its source table changes.
    */
  private type GenKey = (SparkSession, String, Long, String)

  private def genKey(spark: SparkSession, path: String): GenKey = {
    graft.SessionCaches.watch(spark)
    val indexDir = new org.apache.hadoop.fs.Path(path).getParent.toString
    val writeId = readIndexManifest(spark, indexDir)
      .flatMap(_.get("write_id")).getOrElse("")
    (spark, path, artifactGeneration(spark, path), writeId)
  }

  /** A [[GenKey]]-keyed driver cache, LRU-bounded and registered with
    * [[graft.SessionCaches]] for per-session eviction and the
    * stopped-context sweep.
    */
  private def genCache[V](maxEntries: Int,
      release: V => Unit = (_: V) => ()): graft.BoundedLruCache[GenKey, V] = {
    val cache = new graft.BoundedLruCache[GenKey, V](maxEntries, release)
    graft.SessionCaches.register(
      evict = s => cache.removeIf(_._1 eq s,
        releaseRemoved = !s.sparkContext.isStopped),
      sweep = () => cache.removeIf(_._1.sparkContext.isStopped,
        releaseRemoved = false))
    cache
  }

  private def cachedByGen[V](cache: graft.BoundedLruCache[GenKey, V],
      spark: SparkSession, path: String)(compute: => V): V = {
    val key = genKey(spark, path)
    cache.get(key).getOrElse(cache.putIfAbsent(key, compute))
  }

  /** Loaded stored-artifact cache: serving and maintenance call
    * [[loadIvfCentroids]]/[[loadPqCentroids]] on EVERY operation (a
    * drop-cadence maintenance replay reloads the same frozen artifacts
    * a dozen times), and each load is a read over an unchanged file
    * set. Values are localCheckpoint'ed model-sized frames.
    */
  private val artifactLoadCache = genCache[DataFrame](maxEntries = 32,
    release = df =>
      if (!df.sparkSession.sparkContext.isStopped)
        org.apache.spark.sql.GraftShims.uncheckpoint(df))

  private def cachedArtifactLoad(spark: SparkSession, path: String)(
      build: => DataFrame): DataFrame = {
    val key = genKey(spark, path)
    artifactLoadCache.get(key).getOrElse {
      val df = build.localCheckpoint()
      // once per artifact generation (cache misses only): an index
      // artifact table is never legitimately empty, and an empty
      // broadcast codebook/centroid frame makes every downstream join
      // silently drop all rows instead of failing
      if (df.isEmpty) {
        org.apache.spark.sql.GraftShims.uncheckpoint(df)
        throw new IllegalArgumentException(
          s"stored index artifact at $path is empty — zero-row table " +
            "or missing data files (partial restore / failed rewrite?)")
      }
      val winner = artifactLoadCache.putIfAbsent(key, df)
      if (winner ne df)
        org.apache.spark.sql.GraftShims.uncheckpoint(df)
      winner
    }
  }

  /** Append the nearest-cell column as a NARROW per-row argmin over the
    * broadcast centroid table — the same rounded-L2 metric and cell
    * tiebreak as [[Similarity.assignWithCentroids]], without its
    * aggregate + vec_id-join shape: writes and appends derive the cell
    * inside the scan projection instead of shuffling an assignment
    * frame back onto the vectors (guide §2.4).
    */
  private def withNearestCell(batch: DataFrame, cent: DataFrame): DataFrame =
    batch.crossJoin(broadcast(Similarity.centroidArray(cent)))
      .withColumn("cell",
        Similarity.nearestCell(Similarity.toDouble(col("embedding")), col("cs")))

  /** The stored PQ codebooks collapsed to ONE broadcastable row
    * (subs: array<struct<sub, cs: array<struct<cell, c>>>>, sub-sorted)
    * — the shape [[pqCodesColumn]] consumes.
    */
  private def pqSubsArray(pqc: DataFrame): DataFrame =
    pqc.groupBy("sub")
      .agg(array_sort(collect_list(struct(col("cell"), col("c")))).as("cs"))
      .agg(array_sort(collect_list(struct(col("sub"), col("cs")))).as("subs"))

  /** Per-row PQ codes over a [[pqSubsArray]] `subs` column: for each
    * subspace, the lexicographic argmin of (rounded-L2 distance, code)
    * between the row's subvector slice and that subspace's codewords —
    * bit-identical to [[Similarity.assignWithCentroids]] applied
    * per-subspace (the pqTrained scheme), as a narrow expression.
    */
  private def pqCodesColumn(subDim: Int): Column =
    transform(col("subs"), sa =>
      array_min(transform(sa.getField("cs"), s0 =>
        struct(Similarity.l2sq(
            Similarity.toDouble(slice(col("embedding"),
              sa.getField("sub") * lit(subDim) + lit(1), lit(subDim))),
            s0.getField("c")).as("d"),
          s0.getField("cell").as("cell"))))
        .getField("cell"))

  /** Persist a model-sized centroid/codebook frame PIVOTED — the
    * vector column stays an array<double>, exactly the shape every
    * consumer broadcasts, so a cache miss is a bare read (no
    * explode/re-pivot shuffle). coalesce(1): the frame is cells- or
    * m×k-sized, one file cuts serve-time listing.
    */
  private def writeCentroidArtifact(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** Reassemble the stored centroid table: (cell, c: array<double>) —
    * a cells-sized frame, always broadcast by its consumers. Cached per
    * artifact generation (see [[cachedArtifactLoad]]).
    */
  def loadIvfCentroids(spark: SparkSession, dir: String): DataFrame =
    cachedArtifactLoad(spark, s"$dir/centroids") {
      spark.read.parquet(s"$dir/centroids").select("cell", "c")
    }

  /** Fold a new vector batch into a stored index of any codec WITHOUT
    * retraining: each new vector takes its nearest STORED centroid (the
    * training metric — rounded L2, cell tiebreak) and its payload from
    * the STORED artifacts (PQ codes against the stored codebooks), and
    * the rows append into the cell-partitioned layout, one new file per
    * touched cell. Cost is one broadcast pass over the batch, never a
    * Lloyd's rerun; the searches serve the union immediately. Pair with
    * [[ivfAppendDrift]] (run it BEFORE appending) or use
    * [[maintainIvfIndex]], which makes the retrain decision itself.
    *
    * vec_id is the index key: a batch carrying the same vec_id twice
    * (a re-delivered drop) appends ONCE — [[dedupBatch]] keeps one
    * deterministic row per id. Duplicates against ALREADY STORED ids
    * are the caller's contract (append-only ingest with fresh ids).
    */
  def appendToIvfIndex(newEmb: DataFrame, dir: String): Unit = {
    val spark = newEmb.sparkSession
    openForMutation(spark, dir, ivfIndex, "appendToIvfIndex")
    val codec = storedGeometry(spark, dir).codec
    assignmentTable.save(encodeBatch(spark, dir, codec, dedupBatch(newEmb)),
      assignmentTable.path(dir), SaveMode.Append)
  }

  /** A deduped batch in the stored layout: cell from the narrow
    * nearest-cell projection over the STORED centroids, then the
    * codec's payload columns against the STORED artifacts.
    */
  private def encodeBatch(spark: SparkSession, dir: String, codec: IvfCodec,
      uniq: DataFrame): DataFrame =
    codec.encode(withNearestCell(uniq, loadIvfCentroids(spark, dir)),
        loadPqCentroids(spark, dir))
      .select(codec.columns.map(col): _*)

  /** Hard bound on the DRIVER-SIDE index maps ([[storedCellCounts]],
    * [[centroidCellIds]]): "geometry-bounded, not data-bounded" is only
    * a guarantee while the geometry itself fits the driver — in the
    * sized layout cells = ⌈N/size⌉, so a 10¹⁰-vector / size-64 index
    * is ~1.5×10⁸ cells, past what a driver map should hold. Above this
    * bound the collects REFUSE (loud, actionable) and the maintain
    * pre-flight falls back to ONE distributed aggregate over the
    * assignment per drop ([[maintainIvfIndex]]'s fallback branch —
    * bit-identical verdict, index-proportional cost). Production IVF
    * serves ≲10⁶-10⁷ cells, so the default (2²⁴ ≈ 1.7×10⁷ entries)
    * never bites on a sane geometry; override via the
    * `graft.maxDriverMapEntries` system property (specs lower it to
    * pin the fallback).
    */
  private[graft] def maxDriverMapEntries: Long =
    sys.props.get("graft.maxDriverMapEntries") match {
      case None => 1L << 24
      case Some(v) =>
        // parse loudly at the config boundary: a malformed override must
        // read as a config error, not a NumberFormatException surfacing
        // from deep inside a maintain/search path
        val parsed = v.toLongOption
        require(parsed.isDefined,
          s"graft.maxDriverMapEntries must be a long, got '$v'")
        parsed.get
    }

  private def requireDriverMapFits(dir: String, cells: Long,
      what: String): Unit =
    require(cells <= maxDriverMapEntries,
      s"$what: index at $dir has $cells cells > graft.maxDriverMapEntries" +
        s" (${maxDriverMapEntries}) — a driver-side cells-sized map would" +
        " not fit; use the distributed pre-flight (maintainIvfIndex falls" +
        " back automatically) or raise the bound explicitly")

  /** Stored-side per-cell PHYSICAL row counts, cached per assignment
    * generation: the drift pre-flight needs them EVERY micro-batch,
    * and a full `read.parquet(assignment).groupBy(cell).count()`
    * re-lists and re-scans the whole cells-∝-N tree per drop. The
    * value is a driver-side cells-sized map (bounded by the index
    * geometry, `cells`, never by data). Appends seed the NEXT
    * generation arithmetically (pre-append counts + the batch's
    * per-cell counts — no new scan); retrains and compactions change
    * the generation WITHOUT a seed, so the next maintain call rescans
    * once. Footer-equivalent physical counts: tombstones stay
    * invisible to it by design.
    */
  private val cellCountCache = genCache[Map[Long, Long]](maxEntries = 32)

  private[graft] def storedCellCounts(spark: SparkSession, dir: String,
      cells: Long): Map[Long, Long] = {
    requireDriverMapFits(dir, cells, "storedCellCounts")
    cachedByGen(cellCountCache, spark, s"$dir/assignment") {
      // partition-column inference reads `cell=` path values as INT —
      // normalize to the centroid table's LONG before collecting
      spark.read.parquet(s"$dir/assignment")
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
  }

  /** Centroid cell-id list, cached per centroids-artifact generation —
    * the drift verdict's grid, collected once per index generation
    * instead of once per micro-batch. Cells-sized.
    */
  private val centroidCellCache = genCache[Seq[Long]](maxEntries = 32)

  private[graft] def centroidCellIds(spark: SparkSession, dir: String,
      cells: Long): Seq[Long] = {
    requireDriverMapFits(dir, cells, "centroidCellIds")
    cachedByGen(centroidCellCache, spark, s"$dir/centroids") {
      loadIvfCentroids(spark, dir).select("cell")
        .collect().map(_.getLong(0)).toSeq.sorted
    }
  }

  /** Element-wise sum of two count maps — the arithmetic seed of a
    * post-append generation.
    */
  private def addCounts[K](a: Map[K, Long], b: Map[K, Long]): Map[K, Long] =
    (a.keySet ++ b.keySet).iterator
      .map(c => c -> (a.getOrElse(c, 0L) + b.getOrElse(c, 0L))).toMap

  /** Driver-side twin of [[ivfAppendDrift]]'s verdict — the maintain
    * loop's per-micro-batch decision without the cells-sized DataFrame
    * chain (multi-join + window + broadcast = a dozen tiny driver jobs
    * per drop, the replay storm's fixed cost). Same smoothed-PSI
    * arithmetic on the SAME operands: Spark divides two longs by
    * casting both to double, `round(x, n)` on a double is
    * BigDecimal.valueOf(x).setScale(n, HALF_UP) (the Catalyst Round
    * kernel), the term sum is an exact scale-8 decimal sum (fold-order
    * free — iteration order can't move it), and `log` is Math.log on
    * the same JVM — so the verdict is BIT-IDENTICAL to the DataFrame
    * form (spec-pinned, and every maintain-log oracle re-verifies it).
    * Returns (psi, psi_null, retrain_due).
    */
  private[graft] def driftVerdictDriverSide(gridCells: Seq[Long],
      stored: Map[Long, Long], incoming: Map[Long, Long],
      threshold: Double): (Double, Double, Boolean) = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val nCells = gridCells.size.toLong
    val tS = gridCells.iterator.map(stored.getOrElse(_, 0L)).sum
    val tN = gridCells.iterator.map(incoming.getOrElse(_, 0L)).sum
    var sum = JBD.ZERO
    gridCells.foreach { c =>
      val nS = stored.getOrElse(c, 0L)
      val nN = incoming.getOrElse(c, 0L)
      val pS = (nS + 1L).toDouble / (tS + nCells).toDouble
      val pN = (nN + 1L).toDouble / (tN + nCells).toDouble
      val term = (pN - pS) * math.log(pN / pS)
      sum = sum.add(JBD.valueOf(term).setScale(8, RoundingMode.HALF_UP))
    }
    psiFromTermSum(sum, nCells, tS, tN, threshold)
  }

  /** The verdict's FINAL arithmetic, factored so the driver-map path
    * above and the distributed fallback below share it verbatim: input
    * is the exact scale-8 decimal term sum plus the three totals —
    * identical JBD roundings either way, so the two paths cannot
    * diverge by construction.
    */
  private def psiFromTermSum(sum: java.math.BigDecimal, nCells: Long,
      tS: Long, tN: Long,
      threshold: Double): (Double, Double, Boolean) = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val psi = JBD.valueOf(sum.doubleValue)
      .setScale(6, RoundingMode.HALF_UP).doubleValue
    val psiNull = JBD.valueOf((nCells - 1L).toDouble *
        (1.0 / math.max(tN, 1L).toDouble + 1.0 / math.max(tS, 1L).toDouble))
      .setScale(6, RoundingMode.HALF_UP).doubleValue
    (psi, psiNull, psi > threshold + psiNull)
  }

  /** The maintain pre-flight ABOVE [[maxDriverMapEntries]]: one
    * distributed aggregate over the stored assignment — the same
    * grid-left-join + smoothed-term chain as [[ivfAppendDrift]],
    * reduced to ONE collected row (term sum as an exact scale-8
    * decimal, plus the three totals), finished with the shared
    * [[psiFromTermSum]]. Verdict is bit-identical to the driver-map
    * path (spec-pinned); cost is index-proportional per drop, which is
    * exactly the trade the bound exists to make.
    * Returns (psi, retrain_due, t_stored_physical).
    */
  private def driftVerdictDistributed(spark: SparkSession,
      cent: DataFrame, assignPath: String, incoming: Map[Long, Long],
      threshold: Double): (Double, Boolean, Long) = {
    val spark2 = spark
    import spark2.implicits._
    val stored = spark.read.parquet(assignPath)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_stored"))
    val inc = incoming.toSeq.toDF("cell", "n_new")
    val cells = cent.select("cell")
      .join(stored, Seq("cell"), "left")
      .join(broadcast(inc), Seq("cell"), "left")
      .withColumn("n_stored", coalesce(col("n_stored"), lit(0L)))
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
    val totals = cells.agg(
      count(lit(1)).as("n_cells"),
      sum("n_stored").as("t_stored"), sum("n_new").as("t_new"))
    val pS = (col("n_stored") + lit(1)) / (col("t_stored") + col("n_cells"))
    val pN = (col("n_new") + lit(1)) / (col("t_new") + col("n_cells"))
    val row = cells.crossJoin(broadcast(totals))
      .withColumn("term",
        round((pN - pS) * log(pN / pS), 8).cast("decimal(18,8)"))
      .agg(sum("term").as("s"), max("n_cells").as("n_cells"),
        max("t_stored").as("t_stored"), max("t_new").as("t_new"))
      .head()
    val termSum = Option(row.getDecimal(0))
      .map(_.setScale(8)).getOrElse(java.math.BigDecimal.ZERO)
    val (psi, _, due) = psiFromTermSum(termSum,
      row.getLong(1), row.getLong(2), row.getLong(3), threshold)
    (psi, due, row.getLong(2))
  }

  /** Pre-flight drift check for [[appendToIvfIndex]]: per cell, the
    * stored population vs the incoming batch's would-be population
    * (assigned with the STORED centroids, no retrain), a smoothed PSI
    * between the two cell-share distributions, and a retrain_due flag.
    * Everything is cells-sized after the two grouped counts — the
    * windows and the one-row total joins run over ≤ cells rows.
    *
    * The verdict is NULL-CALIBRATED: a finite batch drawn from the
    * exact stored distribution still reads a nonzero smoothed PSI —
    * its expectation is ≈ (cells − 1)·(1/t_new + 1/t_stored) (the
    * chi-square-style null floor), which DOMINATES when cells ≫ batch
    * (measured: a same-distribution 2020-vector batch against an
    * 800-cell ×100 index reads PSI ≈ 0.4 with NO drift — the raw
    * `psi > threshold` rule tripped a spurious 19-minute full retrain;
    * at ×10 the floor predicts 0.043 and the batch read 0.034). The
    * flag therefore fires on `psi > threshold + psi_null`, with
    * `psi_null` emitted as a column so the calibration is auditable.
    *
    * PSI carrier mirrors [[Corpus.sourceDrift]]: per-cell term rounded
    * to an 8dp DECIMAL so the sum is fold-order free, total rounded 6.
    * The stored side is the generation-cached driver map when the
    * geometry fits [[maxDriverMapEntries]], the raw distributed
    * aggregate above it — so this works at ANY cell count.
    */
  def ivfAppendDrift(spark: SparkSession, batch: DataFrame, dir: String,
      threshold: Double = 0.25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark2 = spark
    import spark2.implicits._
    val cent = loadIvfCentroids(spark, dir)
    val geomCells = storedGeometry(spark, dir).cells
    val stored =
      if (geomCells <= maxDriverMapEntries)
        storedCellCounts(spark, dir, geomCells).toSeq.toDF("cell", "n_stored")
      else spark.read.parquet(s"$dir/assignment")
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_stored"))
    val incoming = Similarity.assignWithCentroids(batch, cent)
      .groupBy("cell").agg(count(lit(1)).as("n_new"))
    val cells = cent.select("cell")
      .join(stored, Seq("cell"), "left")
      .join(incoming, Seq("cell"), "left")
      .withColumn("n_stored", coalesce(col("n_stored"), lit(0L)))
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
    val totals = cells.agg(
      count(lit(1)).as("n_cells"),
      sum("n_stored").as("t_stored"), sum("n_new").as("t_new"))
    val pS = (col("n_stored") + lit(1)) / (col("t_stored") + col("n_cells"))
    val pN = (col("n_new") + lit(1)) / (col("t_new") + col("n_cells"))
    val wAll = Window.partitionBy() // cells-sized frame only
    cells.crossJoin(broadcast(totals))
      .withColumn("term",
        round((pN - pS) * log(pN / pS), 8).cast("decimal(18,8)"))
      .withColumn("psi", round(sum("term").over(wAll).cast("double"), 6))
      .withColumn("psi_term", round(col("term").cast("double"), 6))
      .withColumn("psi_null", round(
        (col("n_cells") - 1).cast("double") *
          (lit(1.0) / greatest(col("t_new"), lit(1L)) +
            lit(1.0) / greatest(col("t_stored"), lit(1L))), 6))
      .withColumn("retrain_due", col("psi") > lit(threshold) + col("psi_null"))
      .select("cell", "n_stored", "n_new", "psi_term", "psi", "psi_null",
        "retrain_due")
      .orderBy("cell")
  }

  /** Reassemble the stored PQ codebooks: (sub, cell, c: array<double>)
    * — an m×k-sized frame, always broadcast by its consumers. Cached
    * per artifact generation like [[loadIvfCentroids]].
    */
  def loadPqCentroids(spark: SparkSession, dir: String): DataFrame =
    cachedArtifactLoad(spark, s"$dir/pq_centroids") {
      spark.read.parquet(s"$dir/pq_centroids").select("sub", "cell", "c")
    }

  /** Monotonic per-JVM component of the manifest write_id — nanoTime
    * alone can repeat across JVMs on coarse clocks; the pair (nanoTime,
    * counter) is unique per write from this JVM and collision-unlikely
    * across JVMs, which is all the cache key needs.
    */
  private val manifestWriteCounter = new java.util.concurrent.atomic.AtomicLong()

  /** One-file index manifest: the geometry the index was written with,
    * persisted as a tiny flat JSON object beside the tables. Serving
    * and maintenance read THIS instead of re-deriving geometry from
    * the artifacts — one small-file FS read, zero Spark jobs.
    *
    * The file is written to a sibling temp name and renamed into place,
    * so a crash mid-write leaves the previous manifest (or none), never
    * a truncated one. Local and most object-store filesystems replace
    * the target in the rename; one that refuses an existing target
    * (HDFS) gets a delete first — a crash between the two leaves no
    * manifest, which readers treat as a legacy index and derive the
    * geometry from the stored artifacts.
    */
  private[graft] def writeIndexManifest(spark: SparkSession, dir: String,
      fields: Seq[(String, String)]): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_graft_manifest.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every full index write gets a fresh nonce: the generation-keyed
    // caches fold it into their key, so a rewrite that happens to
    // reproduce the (mtime, count, bytes) generation stamp still misses
    val writeId = s"${System.nanoTime()}x${manifestWriteCounter.incrementAndGet()}"
    val json = (fields :+ ("write_id" -> writeId)).map { case (k, v) =>
      // unquoted only for well-formed integers
      "\"" + k + "\":" + (if (v.matches("-?\\d+")) v else "\"" + v + "\"")
    }.mkString("{", ",", "}")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/_graft_manifest.json.$writeId.tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, p)) {
      fs.delete(p, false)
      require(fs.rename(tmp, p),
        s"writeIndexManifest: rename($tmp, $p) failed — the new manifest remains at $tmp")
    }
  }

  private val manifestPair = """"([A-Za-z_]+)":(-?\d+|"[^"]*")"""
  private val manifestObject = s"""\\{(?:$manifestPair(?:,$manifestPair)*)?\\}""".r

  /** Read back [[writeIndexManifest]]. None for a pre-manifest (legacy)
    * index — callers derive geometry from the stored artifacts instead
    * ([[storedGeometry]]). Anything that is not one complete flat JSON
    * object fails loudly: a lenient read of a truncated file
    * (`{"kind":"ivf","cells":1` cut from `"cells":16`) would silently
    * hand maintenance the wrong geometry.
    */
  private[graft] def readIndexManifest(spark: SparkSession,
      dir: String): Option[Map[String, String]] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_graft_manifest.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                 finally in.close()
      if (!manifestObject.matches(json))
        throw new IllegalStateException(s"corrupt index manifest at $p — " +
          s"not one complete JSON object (truncated write?): '${json.take(200)}'")
      Some(manifestPair.r.findAllMatchIn(json).map(mt =>
        mt.group(1) -> mt.group(2).stripPrefix("\"").stripSuffix("\"")).toMap)
    }
  }

  /** The geometry a stored IVF index was WRITTEN with: its codec (kind,
    * plus m/subDim/k for PQ), its cell count, and `target_cell_size`
    * for a sized build.
    */
  private[graft] final case class StoredGeometry(codec: IvfCodec, cells: Int,
      targetCellSize: Option[Int])

  /** Read [[StoredGeometry]] back from the index — the only source of
    * geometry for append, maintain and search, so no caller can hold a
    * stale one. Manifest first (one FS read, no Spark job); a legacy
    * pre-manifest index derives every value from the stored artifacts
    * (bounded aggregates over the cells- and m·k-sized tables; the
    * codec from which artifacts and payload columns exist) instead of
    * defaulting — a hardcoded default would silently retrain e.g. a
    * 32-cell index down to 8 cells.
    */
  private[graft] def storedGeometry(spark: SparkSession,
      dir: String): StoredGeometry = {
    val mf = readIndexManifest(spark, dir).getOrElse(Map.empty)
    val codec = mf.get("kind") match {
      case Some(Flat.kind) => Flat
      case Some(Sq8.kind) => Sq8
      case Some("ivfpq") => storedPq(spark, dir, mf)
      case Some(other) => throw new IllegalArgumentException(
        s"index at $dir is kind '$other', not an IVF-family index — use " +
          s"the ${indexFamily(other)} operator family")
      case None =>
        require(pathExists(spark, s"$dir/assignment"),
          s"no IVF index at $dir (missing assignment table)")
        if (pathExists(spark, s"$dir/pq_centroids")) storedPq(spark, dir, mf)
        else if (spark.read.parquet(s"$dir/assignment").columns.contains("q")) Sq8
        else Flat
    }
    val cells = mf.get("cells").map(_.toInt).getOrElse(
      spark.read.parquet(s"$dir/centroids")
        .agg(countDistinct(col("cell"))).head().getLong(0).toInt)
    StoredGeometry(codec, cells, mf.get("target_cell_size").map(_.toInt))
  }

  /** PQ codebook geometry: manifest fields when present, else derived
    * from the stored codebooks (m = distinct subspaces, k = codewords
    * per subspace, subDim = codeword width). Either way a missing or
    * empty codebook table fails loudly: an empty broadcast codebook
    * makes every downstream join silently drop all rows.
    */
  private def storedPq(spark: SparkSession, dir: String,
      mf: Map[String, String]): Pq = {
    // FS metadata check first — keeps the manifest path job-free
    require(countDataFiles(spark, s"$dir/pq_centroids") > 0,
      s"no PQ codebooks found at $dir — the pq_centroids table has no " +
        "data files (partial restore?)")
    if (Seq("m", "subDim", "k").forall(mf.contains))
      Pq(mf("m").toInt, mf("subDim").toInt, mf("k").toInt)
    else {
      val g = spark.read.parquet(s"$dir/pq_centroids")
        .agg(countDistinct(col("sub")).as("m"),
          countDistinct(col("cell")).as("k"),
          max(size(col("c"))).cast("long").as("subDim")).head()
      require(g.getLong(0) > 0,
        s"no PQ codebooks found at $dir — the pq_centroids table is empty")
      Pq(g.getLong(0).toInt, g.getLong(2).toInt, g.getLong(1).toInt)
    }
  }

  /** The stored PQ codec, or a loud kind error naming the right family. */
  private def storedPqCodec(spark: SparkSession, dir: String,
      label: String): Pq =
    storedGeometry(spark, dir).codec match {
      case pq: Pq => pq
      case c => throw new IllegalArgumentException(
        kindMismatch(label, dir, c.kind, Seq("ivfpq")))
    }

  /** Tombstone-delete from a stored index (any codec — deletion is
    * assignment-level): the ids land as one tiny id-only parquet file
    * beside the index ([[writeTombstones]]); every search masks them
    * with a broadcast anti-join, and the next WHOLE-INDEX rewrite (a
    * maintenance retrain, or [[compactIvfIndex]]) purges the rows
    * physically and consumes the tombstones. Cost model: a delete
    * writes O(ids) bytes and never touches the corpus-sized
    * assignment; serving pays one broadcast anti-join only while
    * tombstones exist; the purge rides rewrites that were already
    * rewriting every row. No manifest write: the generation caches key
    * on `assignment` and `centroids`, which a delete does not change.
    *
    * Contract: a tombstoned id is DEAD until a purge clears it —
    * appending the same id again stays masked (no timestamp ordering
    * between a delete and a later insert; to re-insert, compact first).
    * Selective compaction does not purge (it rewrites only fragmented
    * cells, so it could not clear the tombstone set safely).
    */
  def deleteFromIvfIndex(spark: SparkSession, dir: String,
      ids: DataFrame): Unit = {
    openForMutation(spark, dir, ivfIndex, "deleteFromIvfIndex")
    writeTombstones(spark, dir, ivfIndex, ids): Unit
  }

  /** The one tombstone writer: the distinct ids of `ids` (the family's
    * id column) append as ONE small file under `dir/tombstones`.
    * Returns whether anything was written. The ids may reference rows
    * the index never held (out-of-order CDC: the delete can arrive
    * before its row) — but an EMPTY delete writes nothing, since a
    * schema-only file would flip every later read onto the masking plan
    * for nothing.
    */
  private def writeTombstones(spark: SparkSession, dir: String,
      fam: IndexFamily, ids: DataFrame): Boolean = {
    val d = ids.select(col(fam.idCol).cast("long").as(fam.idCol))
      .distinct().localCheckpoint()
    val nonEmpty = !d.isEmpty
    if (nonEmpty) d.coalesce(1).write.mode("append").parquet(s"$dir/tombstones")
    org.apache.spark.sql.GraftShims.uncheckpoint(d)
    nonEmpty
  }

  /** One listing of an index's tombstones: the data files it found and
    * the distinct ids they hold — None when no delete has ever
    * happened, so a tombstone-free index plans no masking join (FS
    * metadata check only).
    *
    * The read is PINNED to the listed file set (explicit paths +
    * schema, so planning opens no footer) and tolerates files
    * vanishing before task execution: a concurrent compaction deletes
    * exactly the tombstone files IT listed, whose ids are purged from
    * the rows it rewrote, so a reader that planned against the old
    * listing can treat the vanished files as empty. The same pinned
    * `files` are what a compaction deletes after its swap.
    */
  private final case class Tombstones(idCol: String, files: Seq[String],
      ids: Option[DataFrame]) {
    /** `rows` minus the tombstoned ids (a broadcast anti-join on the
      * tiny id set) — identity when there are none.
      */
    def mask(rows: DataFrame): DataFrame =
      ids.fold(rows)(t => rows.join(broadcast(t), Seq(idCol), "left_anti"))
  }

  private def tombstones(spark: SparkSession, dir: String,
      fam: IndexFamily): Tombstones = {
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    forEachDataFile(spark, s"$dir/tombstones")(f => files += f.getPath.toString)
    Tombstones(fam.idCol, files.toSeq,
      if (files.isEmpty) None
      else Some(spark.read
        .schema(s"${fam.idCol} long")
        .option("ignoreMissingFiles", "true")
        .parquet(files.toSeq: _*)
        .select(fam.idCol).distinct()))
  }

  private def clearTombstones(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true): Unit
  }

  /** One deterministic row per vec_id: min embedding (arrays are
    * orderable) — a map-side-combinable aggregate over the batch, so
    * the dedup is batch-proportional. Keeps the appended rows, the
    * drift pre-flight's counts (already per-id via the assignment
    * window), and the decision log's n_batch/n_after all consistent
    * when a batch carries a re-delivered vec_id.
    */
  private def dedupBatch(newEmb: DataFrame): DataFrame =
    newEmb.select("vec_id", "embedding")
      .groupBy("vec_id").agg(min("embedding").as("embedding"))

  /** Operator family serving an index kind (for kind-mismatch errors). */
  private def indexFamily(kind: String): String = kind match {
    case "ivfpq" => "IVF-PQ"
    case "ivfsq8" => "IVF-SQ8"
    case "dedup_text" => "dedup-index"
    case "bpe_tokenizer" => "BPE-tokenizer"
    case _ => "IVF"
  }

  private def kindMismatch(label: String, dir: String, kind: String,
      expected: Seq[String]): String =
    s"$label: index at $dir is kind '$kind', not " +
      expected.mkString("'", "' | '", "'") +
      s" — use the ${indexFamily(kind)} operator family"

  /** Fail loudly when an operator is pointed at an index of another
    * layout. Kind is checked whenever the manifest records it; a legacy
    * pre-manifest index has no kind to check.
    */
  private def requireIndexKind(spark: SparkSession, dir: String,
      label: String, expected: String*): Unit =
    readIndexManifest(spark, dir).flatMap(_.get("kind")).foreach { kind =>
      require(expected.contains(kind), kindMismatch(label, dir, kind, expected))
    }

  /** The guard before any read of a family's index: a recorded kind the
    * family owns, and the family's last-written table present (a
    * typo'd dir fails loudly instead of silently no-opping beside the
    * real index).
    */
  private def requireIndex(spark: SparkSession, dir: String,
      fam: IndexFamily, label: String): Unit = {
    requireIndexKind(spark, dir, label, fam.kinds: _*)
    val last = fam.tables.last
    require(pathExists(spark, last.path(dir)),
      s"$label: no index at $dir (missing ${last.name} table)")
  }

  /** The preamble of every mutating entry point (append, delete,
    * compact, maintain): roll back each swap an interrupted lifecycle
    * call left ([[recoverSwap]] over the family's trees), then
    * [[requireIndex]] on the recovered state. Maintenance is
    * single-writer, so no swap is in flight here. Readers never
    * recover: a search racing a live swap must not rename trees under
    * it.
    */
  private def openForMutation(spark: SparkSession, dir: String,
      fam: IndexFamily, label: String): Unit = {
    fam.trees(dir).foreach(recoverSwap(spark, _))
    requireIndex(spark, dir, fam, label)
  }

  /** Compact a stored index's assignment layout back to ONE file per
    * cell and purge its tombstoned rows ([[compactTables]]). Every
    * [[appendToIvfIndex]] batch adds one file per touched cell, so a
    * continuously-fed index accumulates files linearly in batch count —
    * and probe cost grows with file count (open/footer per file), not
    * data. Schema-agnostic, so the same op serves every codec's layout.
    * Run it on the [[ivfAppendDrift]] cadence.
    */
  def compactIvfIndex(spark: SparkSession, dir: String): Unit =
    compactTables(spark, dir, ivfIndex, "compactIvfIndex")

  /** The one compaction routine: after the mutator preamble
    * ([[openForMutation]]), rewrite each of the family's tables into
    * `<table>__compact` in its one-file-per-partition layout,
    * minus the tombstoned ids, and [[checkedSwap]] it into place
    * (reading and overwriting the same path in one job would corrupt
    * it); then delete the consumed tombstone files.
    *
    * The full rewrite is the purge point for tombstoned rows — the
    * anti-join rides a pass that was already rewriting every row. The
    * consumed tombstone FILE SET is pinned up front ([[tombstones]]):
    * compaction runs on the append cadence, concurrent with serving,
    * and a delete landing between the listing and the cleanup must
    * KEEP its tombstone (clearing the whole directory would silently
    * resurrect it). A crash between the swaps and the cleanup is safe:
    * tombstones over already-purged ids anti-join nothing.
    *
    * Swap order matters on a LIVE index: the old tree is renamed
    * ASIDE, the compacted tree into place, THEN the old one dies — the
    * unreadable window is a single rename, and a crash mid-swap leaves
    * either the old tree recoverable at `__old` or the new one live
    * (delete-then-rename would leave NO table for the whole span and
    * strand the compacted data in the temp dir on a crash).
    */
  private def compactTables(spark: SparkSession, dir: String,
      fam: IndexFamily, label: String): Unit = {
    openForMutation(spark, dir, fam, label)
    val tombs = tombstones(spark, dir, fam)
    fam.tables.foreach { t =>
      val tmp = t.path(dir) + "__compact"
      val rows = tombs.mask(spark.read.parquet(t.path(dir)))
      t.save(if (fam.distinctRows) rows.distinct() else rows, tmp,
        SaveMode.Overwrite)
      checkedSwap(spark, tmp, t.path(dir), label)
    }
    // delete ONLY the consumed tombstone files (never the directory):
    // a tombstone written after the listing survives and keeps masking
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    tombs.files.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), false): Unit)
  }

  /** Rename-aside tree swap with CHECKED renames: `tmp` replaces
    * `dst0`, the displaced tree parks at `dst0 + "__old"` until the
    * forward rename is confirmed, then dies. Hadoop rename signals
    * most failures by returning FALSE, not by throwing — an unchecked
    * rename(tmp, dst) that silently failed after rename(dst, old)
    * succeeded would let the delete(old) destroy the only remaining
    * copy. On a forward-rename failure the old tree is rolled back
    * into place before raising; a crash mid-swap leaves either the
    * old tree at __old (rolled back by [[recoverSwap]] on the next
    * lifecycle call) or the new one already live, never neither. FS
    * resolves from dst's own URI (s3a://, hdfs:// swap against the
    * right store, not the default FS).
    */
  private def checkedSwap(spark: SparkSession, tmp: String, dst0: String,
      label: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(dst0)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(dst0 + "__old")
    recoverSwap(spark, dst0)
    require(fs.rename(dst, old),
      s"$label: rename($dst, $old) failed — target left untouched")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)) {
      val rolledBack = fs.rename(old, dst)
      throw new IllegalStateException(
        s"$label: rename($tmp, $dst) failed; " +
          (if (rolledBack) s"previous tree restored at $dst"
           else s"ROLLBACK ALSO FAILED — recover manually from $old") +
          s"; new data remains at $tmp")
    }
    fs.delete(old, true) // both renames confirmed — old copy is redundant
    ()
  }

  /** Finish or undo a [[checkedSwap]] a crash interrupted. A crash
    * after rename(dst → __old) and before rename(tmp → dst) leaves
    * __old as the ONLY copy: roll it back into place. A leftover __old
    * beside a live dst is redundant (both renames completed) and dies.
    */
  private def recoverSwap(spark: SparkSession, dst0: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(dst0)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(dst0 + "__old")
    if (fs.exists(old)) {
      if (fs.exists(dst)) fs.delete(old, true): Unit
      else require(fs.rename(old, dst),
        s"recoverSwap: rename($old, $dst) failed — recover manually from $old")
    }
  }

  /** Per-cell data-file counts from one recursive FS listing — the
    * fragmentation map [[compactIvfIndexSelective]] plans from (cost:
    * file metadata only, no parquet opened).
    */
  private[graft] def cellFileCounts(spark: SparkSession,
      assignPath: String): Map[Long, Int] = {
    val counts = scala.collection.mutable.Map.empty[Long, Int]
    val cellRe = ".*/cell=([0-9]+)/[^/]+$".r
    forEachDataFile(spark, assignPath) { f =>
      f.getPath.toString match {
        case cellRe(c) => counts(c.toLong) = counts.getOrElse(c.toLong, 0) + 1
        case _ => ()
      }
    }
    counts.toMap
  }

  /** Compact ONLY the fragmented cells: cells holding at least
    * `minFilesPerCell` files are read back under a partition-pruned
    * scan, rewritten one-file-per-cell, and swapped in with DYNAMIC
    * partition overwrite — untouched cell directories are never read,
    * never rewritten. [[compactIvfIndex]] rewrites the WHOLE
    * assignment (one shuffle of the entire index); at production scale
    * appends touch a slice of the cells per batch, so full-table
    * compaction pays corpus-sized I/O to fix batch-sized
    * fragmentation. Here cost ∝ the fragmented cells' data. Same
    * schema-agnostic contract (serves IVF and IVF-PQ layouts); the
    * per-partition replace is atomic per cell directory, and a crash
    * mid-write leaves non-replaced cells on their old (complete)
    * files. Returns the number of cells compacted.
    */
  def compactIvfIndexSelective(spark: SparkSession, dir: String,
      minFilesPerCell: Int = 2, fullRewriteAbove: Double = 0.4): Int = {
    openForMutation(spark, dir, ivfIndex, "compactIvfIndexSelective")
    val assignPath = s"$dir/assignment"
    val counts = cellFileCounts(spark, assignPath)
    val fragmented = counts
      .filter(_._2 >= minFilesPerCell).keys.toSeq.sorted
    if (fragmented.isEmpty) return 0
    // ADAPTIVE: when most cells are fragmented (full-width appends),
    // the selective path's constant factors lose — it pays the slice
    // twice (materialize + rewrite) plus per-partition commit
    // overhead, measured ~2.3× the full rewrite's per-cell cost at
    // ×100 (21.7 s selective vs 9.4 s full at 95% fragmentation).
    // Break-even sits near 40%; above it, the one-shuffle full
    // rewrite is strictly cheaper. Below it — the skewed-append
    // regime selective exists for — cost ∝ the fragmented slice.
    if (fragmented.size > fullRewriteAbove * counts.size) {
      compactIvfIndex(spark, dir)
      return fragmented.size
    }
    // read back ONLY the fragmented cell partitions (literal partition
    // filter — directory-level pruning, the prunedTouchedRead shape);
    // materialize via localCheckpoint so the dynamic overwrite never
    // reads and replaces the same directories in one job
    val slice = spark.read.parquet(assignPath)
      .filter(col("cell").isin(fragmented: _*))
      .localCheckpoint()
    assignmentTable.writer(slice).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(assignPath)
    org.apache.spark.sql.GraftShims.uncheckpoint(slice)
    fragmented.size
  }

  /** Count data files under a tree (skips _SUCCESS / hidden files) —
    * the compaction-cadence signal: appends add one file per touched
    * cell per batch, so the file count grows linearly in batch count
    * while cells stay fixed, and probe cost follows file count.
    */
  private[graft] def countDataFiles(spark: SparkSession, path: String): Int = {
    var n = 0
    forEachDataFile(spark, path)(_ => n += 1)
    n
  }

  /** The composed index-maintenance operator — the production "a new
    * batch arrived" decision in ONE call, for every codec:
    *  1. drift-check the batch against the stored index (cell PSI,
    *     [[ivfAppendDrift]]'s verdict, batch assigned with the FROZEN
    *     centroids; for PQ also the per-subspace code PSI,
    *     [[ivfPqCodeDrift]]'s, which catches subvector shift the
    *     coarse PSI can't see);
    *  2. if either crosses `threshold` → RETRAIN on stored ∪ batch.
    *     The new index is built into a sibling tree while the stored
    *     vectors stream out of the old one (never read-and-overwritten
    *     in one job), then swapped in with the checked-rename
    *     discipline — a crash mid-swap leaves either the old index
    *     recoverable or the new one live, never neither;
    *  3. else → APPEND against the frozen artifacts
    *     ([[appendToIvfIndex]]) and, once the accumulated append
    *     slivers reach `compactFilesPerCell` files per cell, fold the
    *     fragmented cells back to one file each
    *     ([[compactIvfIndexSelective]]).
    * Codec and geometry come from the index itself ([[storedGeometry]]
    * — the values it was WRITTEN with); a sized index re-derives its
    * cell count from the union on retrain.
    *
    * Returns a ONE-ROW decision log — branch taken, PSI, row/file
    * counts before and after — so maintenance runs are auditable with
    * a plain query over their collected logs. A PQ index logs
    * `psi_coarse` and `psi_code_max` where the others log `psi`.
    */
  def maintainIvfIndex(spark: SparkSession, batch: DataFrame, dir: String,
      threshold: Double = 0.25, iters: Int = 2,
      compactFilesPerCell: Int = 4): DataFrame = {
    import spark.implicits._
    openForMutation(spark, dir, ivfIndex, "maintainIvfIndex")
    val g = storedGeometry(spark, dir)
    val assignPath = s"$dir/assignment"
    // dedupe + cell + encode the batch ONCE per drop (checkpointed,
    // batch-sized): the drift counts, the tombstone audit and the
    // append/retrain writer all read it
    val rows = encodeBatch(spark, dir, g.codec, dedupBatch(batch)).localCheckpoint()
    val uniq = rows.select("vec_id", "embedding")
    // (incomingMap is BATCH-cells-sized — bounded by the micro-batch,
    // never the index — so it is collected on both branches below)
    val incomingMap = rows.groupBy("cell").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // DRIVER-SIDE drift verdict: the stored per-cell counts and the
    // centroid grid are generation-cached driver maps, so the whole
    // pre-flight costs ONE batch pass instead of the cells-sized
    // DataFrame chain. GEOMETRY GUARD: the maps hold one entry per
    // cell, so above maxDriverMapEntries the pre-flight takes the
    // distributed branch — one aggregate over the assignment per drop
    // (bit-identical verdict via the shared psiFromTermSum) and no
    // generation seeding (there is no map to seed).
    val (psi, coarseDue, tStoredPhys, storedMapOpt) =
      if (g.cells <= maxDriverMapEntries) {
        val gridCells = centroidCellIds(spark, dir, g.cells)
        val storedMap = storedCellCounts(spark, dir, g.cells)
        val (p, _, d) =
          driftVerdictDriverSide(gridCells, storedMap, incomingMap, threshold)
        (p, d, gridCells.iterator.map(storedMap.getOrElse(_, 0L)).sum,
          Some(storedMap))
      } else {
        val (p, d, tS) = driftVerdictDistributed(spark,
          loadIvfCentroids(spark, dir), assignPath, incomingMap, threshold)
        (p, d, tS, None)
      }
    val code = g.codec match {
      case pq: Pq => Some(pqCodeVerdict(spark, dir, rows, pq.m, threshold))
      case _ => None
    }
    // LIVE counts for the log: the drift counts are physical rows
    // (footer-only by design — they cannot see tombstones). Only while
    // deletes are pending, make the audit EXACT: subtract the MASKED
    // PHYSICAL rows (plain inner join against the tiny distinct
    // tombstone set — no distinct on the assignment side, because a
    // tombstoned id that was later re-appended has TWO masked physical
    // rows and both must come off the physical n_stored), and count the
    // batch's live ids with a batch-sized anti-join. Zero extra jobs
    // when no delete ever happened. Both branches then land on the same
    // n_after = live stored + live batch: the append masks at serve
    // time, the retrain purges.
    val nBatch = incomingMap.valuesIterator.sum // as delivered (per id)
    val tombs = tombstones(spark, dir, ivfIndex)
    val (nTombLive, nBatchLive) = tombs.ids match {
      case None => (0L, nBatch)
      case Some(t) =>
        val tl = spark.read.parquet(assignPath).select("vec_id")
          .join(broadcast(t), "vec_id").count()
        val bl = uniq
          .join(broadcast(t), Seq("vec_id"), "left_anti").count()
        (tl, bl)
    }
    val nStored = tStoredPhys - nTombLive
    val due = coarseDue || code.exists(_.due)
    val filesBefore = countDataFiles(spark, assignPath)
    var compacted = false
    val (action, filesAfter) = if (due) {
      // tombstones win over ANY pending content (the deleteFromIvfIndex
      // contract): mask the stored side AND the batch side, then the
      // rebuilt index starts clean and the tombstones die with it
      val union = tombs.mask(
        spark.read.parquet(assignPath).select("vec_id", "embedding")
          .unionByName(uniq))
      val tmp = dir + "__retrain"
      // the writer materializes the union INTO the sibling tree —
      // every read of the old assignment completes before the swap
      writeIvfIndex(union, tmp, g.codec,
        g.targetCellSize.fold[IvfCells](Cells(g.cells))(CellSize), iters)
      // the swap replaces the WHOLE index dir: the tombstones die with
      // the old tree. NOTE the single-writer contract: a delete landing
      // DURING the retrain window is lost with the old tree;
      // maintenance is a single-writer operation, unlike
      // compactIvfIndex whose cleanup is pinned to the file set it
      // consumed and therefore tolerates concurrent deletes.
      checkedSwap(spark, tmp, dir, "maintainIvfIndex")
      ("retrain", countDataFiles(spark, assignPath))
    } else {
      assignmentTable.save(rows, assignPath, SaveMode.Append)
      // one appended file per touched cell (the append layout
      // invariant) — DERIVE the post-append count instead of
      // re-listing the whole tree; only a compaction (which rewrites
      // an unknown file set) re-lists for the log
      val appended = filesBefore + incomingMap.size
      if (appended >= compactFilesPerCell * g.cells) {
        compactIvfIndexSelective(spark, dir, minFilesPerCell = 2)
        compacted = true
        ("append", countDataFiles(spark, assignPath))
      } else {
        // seed the post-append generation's count caches
        // arithmetically — both sides are already driver maps, so the
        // NEXT drop's pre-flight skips the whole-index scans. (A
        // compaction above rewrote physical rows — its generation is
        // left unseeded and the next pre-flight rescans once.)
        storedMapOpt.foreach(m =>
          cellCountCache.putIfAbsent(genKey(spark, assignPath),
            addCounts(m, incomingMap)))
        code.foreach(c =>
          codeCountCache.putIfAbsent(genKey(spark, assignPath),
            addCounts(c.stored, c.incoming)))
        ("append", appended)
      }
    }
    // the per-drop checkpoint is fully consumed (the append/retrain
    // write completed above) — release its blocks before returning
    org.apache.spark.sql.GraftShims.uncheckpoint(rows)
    // both branches add exactly the batch's LIVE rows (append is a
    // union masked at serve time; retrain trains on the masked
    // stored ∪ batch) — no post-action table count
    val log = Seq((action, psi, code.fold(0.0)(_.psiMax), due, nStored,
        nBatch, nStored + nBatchLive, filesBefore, filesAfter, compacted))
      .toDF("action", "psi", "psi_code_max", "retrain_due", "n_stored_before",
        "n_batch", "n_after", "files_before", "files_after", "compacted")
    if (code.isDefined) log.withColumnRenamed("psi", "psi_coarse")
    else log.drop("psi_code_max")
  }

  /** The PQ code tripwire over one maintained drop: max per-subspace
    * PSI, whether any subspace is due, and the two count maps the
    * post-append seed adds up.
    */
  private final case class CodeVerdict(psiMax: Double, due: Boolean,
      stored: Map[(Int, Long), Long], incoming: Map[(Int, Long), Long])

  /** DRIVER-SIDE code verdict (the coarse verdict's discipline): stored
    * per-(sub, code) counts and the codebook grid are generation-
    * cached maps; the batch's codes (already encoded in `rows`) cost
    * ONE collected job. The per-sub PSI is [[driftVerdictDriverSide]]
    * verbatim with the sub's code set as the grid (k_sub plays
    * n_cells) — bit-identical to [[ivfPqCodeDrift]]'s window form.
    */
  private def pqCodeVerdict(spark: SparkSession, dir: String, rows: DataFrame,
      m: Int, threshold: Double): CodeVerdict = {
    val codeGrid = pqCodeGrid(spark, dir)
    val stored = storedCodeCounts(spark, dir)
    val incoming = rows.select(posexplode(col("codes")).as(Seq("sub", "code")))
      .groupBy("sub", "code").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val subVerdicts = (0 until m).map { s0 =>
      driftVerdictDriverSide(codeGrid.getOrElse(s0, Seq.empty),
        stored.collect { case ((s, c), n) if s == s0 => c -> n },
        incoming.collect { case ((s, c), n) if s == s0 => c -> n },
        threshold)
    }
    // null-calibrated per sub
    CodeVerdict(subVerdicts.map(_._1).max, subVerdicts.exists(_._3),
      stored, incoming)
  }

  /** [[cellCountCache]]'s compressed-tier sibling: per-(subspace, code)
    * PHYSICAL populations of a stored IVF-PQ assignment, cached per
    * generation and seeded arithmetically after un-compacted appends —
    * the code-drift pre-flight otherwise re-explodes the whole codes
    * column per drop. m×k-sized driver map.
    */
  private val codeCountCache = genCache[Map[(Int, Long), Long]](maxEntries = 32)

  private[graft] def storedCodeCounts(spark: SparkSession,
      dir: String): Map[(Int, Long), Long] =
    cachedByGen(codeCountCache, spark, s"$dir/assignment") {
      spark.read.parquet(s"$dir/assignment")
        .select(posexplode(col("codes")).as(Seq("sub", "code")))
        .groupBy("sub", "code").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    }

  /** Per-subspace codebook grids (sub → its code ids), cached per
    * pq_centroids generation — [[centroidCellIds]]'s compressed-tier
    * sibling, m×k-sized.
    */
  private val pqGridCache = genCache[Map[Int, Seq[Long]]](maxEntries = 32)

  private[graft] def pqCodeGrid(spark: SparkSession,
      dir: String): Map[Int, Seq[Long]] =
    cachedByGen(pqGridCache, spark, s"$dir/pq_centroids") {
      loadPqCentroids(spark, dir).select("sub", "cell")
        .collect().map(r => r.getInt(0) -> r.getLong(1))
        .groupBy(_._1).map { case (s, cs) => s -> cs.map(_._2).toSeq.sorted }
    }

  /** Code-level drift pre-flight for a PQ [[appendToIvfIndex]] — the
    * compressed-tier sibling of [[ivfAppendDrift]]: per (subspace,
    * code), the stored population vs the incoming batch's would-be
    * population (encoded with the STORED codebooks, no retrain), a
    * smoothed PSI per subspace, and a per-subspace retrain_due flag.
    * Catches subvector-distribution shift that leaves the coarse
    * cells balanced (the coarse PSI would stay quiet) but degrades
    * ADC quality — the codebook no longer covers where the new
    * vectors live. Everything after the two grouped counts is
    * m×k-sized; the PSI carrier mirrors [[ivfAppendDrift]]. The
    * codebook geometry is read from the index, as in
    * [[searchIvfPqIndex]].
    */
  def ivfPqCodeDrift(spark: SparkSession, batch: DataFrame, dir: String,
      threshold: Double = 0.25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark2 = spark
    import spark2.implicits._
    val Pq(m, subDim, _) = storedPqCodec(spark, dir, "ivfPqCodeDrift")
    val pqc = loadPqCentroids(spark, dir)
    val stored = storedCodeCounts(spark, dir).toSeq
      .map { case ((s, c), n) => (s, c, n) }
      .toDF("sub", "code", "n_stored")
    val incoming = (0 until m).map { s0 =>
      val sub = batch.select(col("vec_id"),
        slice(col("embedding"), s0 * subDim + 1, subDim).as("embedding"))
      Similarity.assignWithCentroids(sub,
          pqc.filter(col("sub") === s0).select("cell", "c"))
        .select(lit(s0).as("sub"), col("cell").as("code"))
    }.reduce(_ unionByName _)
      .groupBy("sub", "code").agg(count(lit(1)).as("n_new"))
    val grid = pqc.select(col("sub"), col("cell").as("code"))
    val cells = grid
      .join(stored, Seq("sub", "code"), "left")
      .join(incoming, Seq("sub", "code"), "left")
      .withColumn("n_stored", coalesce(col("n_stored"), lit(0L)))
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
    val wSub = Window.partitionBy("sub") // m×k-sized frame only
    val pS = (col("n_stored") + lit(1)) / (col("t_stored") + col("k_sub"))
    val pN = (col("n_new") + lit(1)) / (col("t_new") + col("k_sub"))
    cells
      .withColumn("k_sub", count(lit(1)).over(wSub))
      .withColumn("t_stored", sum("n_stored").over(wSub))
      .withColumn("t_new", sum("n_new").over(wSub))
      .withColumn("term",
        round((pN - pS) * log(pN / pS), 8).cast("decimal(18,8)"))
      .withColumn("psi", round(sum("term").over(wSub).cast("double"), 6))
      .withColumn("psi_term", round(col("term").cast("double"), 6))
      // null-calibrated per subspace (the ivfAppendDrift rule): a
      // small batch against k codes reads (k−1)(1/t_new + 1/t_stored)
      // of smoothed PSI with no drift at all
      .withColumn("psi_null", round(
        (col("k_sub") - 1).cast("double") *
          (lit(1.0) / greatest(col("t_new"), lit(1L)) +
            lit(1.0) / greatest(col("t_stored"), lit(1L))), 6))
      .withColumn("retrain_due", col("psi") > lit(threshold) + col("psi_null"))
      .select("sub", "code", "n_stored", "n_new", "psi_term", "psi",
        "psi_null", "retrain_due")
      .orderBy("sub", "code")
  }

  /** The probe stage every stored search shares: the nQueries query
    * rows rank the STORED centroids (rounded L2, cell tiebreak — the
    * training metric), each keeps its `nprobe` nearest cells, and the
    * probe list is collected — ≤ nQueries×nprobe rows, bounded by the
    * query batch, never by data. The collected rows serve twice: as
    * the literal probed-cell list [[readProbedCells]] turns into a
    * per-subdirectory read (Spark's dynamic partition pruning
    * degenerates to `dynamicpruningexpression(true)` on this join
    * shape, which would silently scan EVERY cell), and as a local
    * (qid, cell, pn) relation the serving join broadcasts, instead of
    * recomputing the probe ranking inside the broadcast build. Returns
    * that relation and the tombstone-masked scan of the probed cells.
    */
  private def probeStoredCells(spark: SparkSession, emb: DataFrame, dir: String,
      nQueries: Int, nprobe: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val pw = Window.partitionBy("qid").orderBy(col("pd"), col("cell"))
    val probeRows = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"),
        Similarity.toDouble(col("embedding")).as("qv"))
      .crossJoin(broadcast(loadIvfCentroids(spark, dir)))
      .withColumn("pd", Similarity.l2sq(col("qv"), col("c")))
      .withColumn("pn", row_number().over(pw))
      .filter(col("pn") <= nprobe)
      .select("qid", "cell", "pn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    (probeRows.toDF("qid", "cell", "pn"),
      tombstones(spark, dir, ivfIndex).mask(readProbedCells(spark,
        s"$dir/assignment", probeRows.map(_._2).distinct)))
  }

  /** Read ONLY the probed cell partitions of an assignment layout, as
    * per-subdirectory reads under `basePath` (the partition column
    * stays in the schema). A plain `spark.read.parquet(assignment)`
    * LISTS THE WHOLE TREE before partition pruning ever applies — with
    * cells ∝ N (the fixed-cell-SIZE production layout) that listing
    * was the stored-serving term that grew across the data decade
    * (measured 1.6×/decade at ×10→×100) while the probed scan itself
    * stayed constant-sized. Here serving lists ≤ nQueries×nprobe
    * directories — constant in the corpus. Cells whose directory does
    * not exist (a trained centroid that won no vectors) are skipped
    * with bounded exists() probes; if none exist, fall back to the
    * full-tree read filtered empty (schema-correct, effectively never
    * taken).
    */
  private def readProbedCells(spark: SparkSession, assignPath: String,
      cells: Seq[Long]): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(assignPath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paths = cells.distinct
      .map(c => new org.apache.hadoop.fs.Path(base, s"cell=$c"))
      .filter(fs.exists).map(_.toString)
    if (paths.isEmpty)
      spark.read.parquet(assignPath).filter(lit(false))
    else
      spark.read.option("basePath", assignPath).parquet(paths: _*)
  }

  /** Search a stored IVF index by exact cosine over the probed cells'
    * co-located vectors ([[probeStoredCells]]) — a probe never joins
    * the corpus-sized embedding table; the only scan of `emb` is the
    * nQueries-bounded query side. `nprobe` is the serving-time recall
    * knob, the stored twin of [[Similarity.ivfMultiProbeTopK]]'s:
    * result-identical to the in-memory multiprobe at the same nprobe
    * (spec-proven), nprobe=1 reduces to [[Similarity.ivfTopK]].
    */
  def searchIvfIndex(spark: SparkSession, emb: DataFrame, dir: String,
      nQueries: Int = 10, k: Int = 3, nprobe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (probes, assignment) = probeStoredCells(spark, emb, dir, nQueries, nprobe)
    // ≤ nQueries×nprobe (qid, cell, qe) rows — THE broadcast side: the
    // cell-partitioned index scan streams against it (hash join), so
    // the big side never shuffles
    val cand = probes.select("qid", "cell")
      .join(emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")), "qid")
    val scored = assignment
      .join(broadcast(cand), "cell")
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("cos", Similarity.cosine(col("qe"), col("embedding")))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "cell", "rnk", "vec_id", "cos")
      .orderBy("qid", "rnk")
  }

  /** Two-stage search over a stored IVF-PQ index, its codebook
    * geometry read from the index: (1) probe ([[probeStoredCells]]);
    * (2) ADC — each query builds its m×k lookup table against the
    * stored codebooks (broadcast both ways), and every vector in the
    * probed cells is scored as the exact DECIMAL sum of its m table
    * entries, reading ONLY the codes column of the pruned partitions;
    * (3) rerank — the top `cand` per query re-score by exact cosine
    * against the embedding column of the same pruned partitions
    * (broadcast candidate list). The full-width embedding column is
    * only decoded for candidates' cells.
    */
  def searchIvfPqIndex(spark: SparkSession, emb: DataFrame, dir: String,
      nQueries: Int = 10, k: Int = 3, cand: Int = 10,
      nprobe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val Pq(m, subDim, _) = storedPqCodec(spark, dir, "searchIvfPqIndex")
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    // per-query ADC lookup tables: nQueries × m × k rows — tiny
    val pqc = loadPqCentroids(spark, dir)
    val qsub = (0 until m).map { s0 =>
      q.select(col("qid"),
        lit(s0).as("sub"),
        Similarity.toDouble(slice(col("qe"), s0 * subDim + 1, subDim)).as("qsv"))
    }.reduce(_ unionByName _)
    val lut = qsub.join(pqc, "sub")
      .select(col("qid"), col("sub"), col("cell").as("code"),
        Similarity.l2sq(col("qsv"), col("c")).as("dist"))
    val (probes, assignment) = probeStoredCells(spark, emb, dir, nQueries, nprobe)
    // stage 2: codes-only projection of the probed cells; the ADC sum
    // is exact DECIMAL so ranking never touches a folded double
    val adc = assignment.select("vec_id", "codes", "cell")
      .join(broadcast(probes.select("qid", "cell")), "cell")
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(lut), Seq("qid", "sub", "code"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("dist").cast("decimal(18,6)")).as("adist"))
    val cw = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    val candidates = adc.withColumn("crnk", row_number().over(cw))
      .filter(col("crnk") <= cand)
      .select("qid", "vec_id")
    // stage 3: exact rerank from the co-located vectors, broadcast on
    // the (nQueries × cand)-sized candidate list
    val rer = assignment.select("vec_id", "embedding")
      .join(broadcast(candidates.join(q, "qid")), "vec_id")
      .withColumn("cos", Similarity.cosine(col("qe"), col("embedding")))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), col("vec_id"))
    rer.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "vec_id", "cos")
      .orderBy("qid", "rnk")
  }

  /** Search a stored IVF-SQ8 index: the int8 codes of ONLY the probed
    * cell partitions ([[probeStoredCells]]) score against the
    * on-the-fly-quantized query codes — exact 64-bit integer sums
    * under one rounded IEEE tree, the [[Similarity.ivfSq8TopK]] math
    * verbatim, so stored serving is result-identical to the in-memory
    * tier at the same nprobe (spec-proven; the two share one oracle).
    * The scan projects (vec_id, q, n2) — the embedding column of the
    * index is never read.
    */
  def searchIvfSq8Index(spark: SparkSession, emb: DataFrame, dir: String,
      nQueries: Int = 10, k: Int = 3, nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireIndexKind(spark, dir, "searchIvfSq8Index", Sq8.kind)
    val qCodes = Similarity.sq8Codes(emb.filter(col("vec_id") < nQueries))
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("n2").as("qn2"))
    val (probes, assignment) = probeStoredCells(spark, emb, dir, nQueries, nprobe)
    val dotInt = aggregate(
      zip_with(col("qq"), col("q"), (a, b) => a.cast("long") * b.cast("long")),
      lit(0L), (acc, x) => acc + x)
    val scored = assignment.select("vec_id", "q", "n2", "cell")
      .join(broadcast(probes.join(qCodes, "qid")), "cell")
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("qcos",
        when(col("qn2") === 0L || col("n2") === 0L, lit(null).cast("double"))
          .otherwise(round(dotInt.cast("double") /
            (sqrt(col("qn2").cast("double")) * sqrt(col("n2").cast("double"))), 4) + lit(0.0)))
    val w = Window.partitionBy("qid").orderBy(desc("qcos"), col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "vec_id", "cell", "pn", "qcos")
      .orderBy("qid", "rnk")
  }

  // ==== stored incremental-dedup text index ==========================
  //
  // The on-disk form of the existing-corpus index Dedup.incrementalDedup
  // builds (exact fingerprints, distinct shingles, MinHash band rows) —
  // the durability the session cache can't give: a restarted driver
  // reloads the index from parquet instead of re-shingling and
  // re-hashing the full corpus before it can classify the next batch.
  // Same manifest/append/compact lifecycle as the IVF family.
  //
  // Layout (declared once as shinglesTable, fingerprintsTable and
  // bandsTable; all three partitioned so classify prunes):
  //  - fingerprints/fpb=XX/  (fp, doc_id)    — RAW rows, fpb = first two
  //    hex chars of the md5 (256 buckets). Raw instead of the cached
  //    path's pre-aggregated fp → min(doc_id) so appends stay
  //    append-only; the min folds at classify time, scoped to the
  //    batch's fingerprint space.
  //  - shingles/db=N/        (doc_id, s)     — distinct word n-grams,
  //    db = doc_id mod 256. Verification reads ONLY the buckets holding
  //    candidate partners (≤256 literal partition values, driver-safe).
  //  - bands/band=B/         (bv, doc_id)    — UNCAPPED band rows (a
  //    fixed `bands` per doc — linear storage); the lshBucketCap
  //    population cap applies at CLASSIFY time over the probed buckets.
  //    Capping on read instead of on write is what makes the stored
  //    index equal-by-construction to rebuilding on the full accepted
  //    corpus: the cap keeps the lowest doc_ids per bucket, and that
  //    set is the same whether computed over one build or over
  //    build + appends, in ANY append order. (The cached path caps at
  //    build because its corpus is fixed for the session.)
  //
  // Cost model per classify: batch-side shingling/hashing is
  // batch-proportional; index reads are one fingerprint-bucket-pruned
  // scan, one band scan semi-joined to the batch's buckets, and one
  // shingle scan pruned to candidate doc buckets — columnar slim-row
  // scans with rowgroup stats (tables are written sorted), never a
  // recompute of the corpus. Verification fan-in stays bounded by the
  // read-time cap exactly as in the cached path.
  //
  // Append contract: append each accepted doc EXACTLY once (classify
  // already says which docs are new — the caller appends that split).
  // A re-appended doc_id would double its stored shingle rows and
  // corrupt its Jaccard sizes; compactDedupIndex restores the distinct
  // invariants as defense in depth.

  // INTEGER buckets on both partition grids, deliberately: parquet
  // partition-value type inference reads "00".."ff" STRING buckets back
  // as integers whenever an index's bucket set happens to be all-
  // numeric (a small index can hit this), silently breaking the
  // leading-zero directory names and the isin pruning; crc32/pmod
  // buckets are type-stable under inference
  private def dedupFpBucket(fp: org.apache.spark.sql.Column) =
    pmod(crc32(fp.cast("string")), lit(256L))

  private def dedupDocBucket(docId: org.apache.spark.sql.Column) =
    pmod(docId, lit(256L))

  private def dedupIndexManifest(spark: SparkSession, dir: String): Unit =
    writeIndexManifest(spark, dir, Seq(
      "kind" -> "dedup_text",
      "shingle_n" -> "3",
      "bands" -> (Dedup.minhashSeeds / Dedup.minhashBandSize).toString,
      "band_cap" -> Dedup.lshBucketCap.toString))

  /** Build the stored dedup index at `dir` from the accepted corpus
    * ([[saveDedupTables]] in overwrite mode).
    */
  def writeDedupIndex(existing: DataFrame, dir: String): Unit =
    saveDedupTables(existing, dir, SaveMode.Overwrite)

  /** Append an accepted batch to the stored dedup index — three
    * batch-proportional appends, no stored row rewritten. After the
    * append the index is equal-by-construction to [[writeDedupIndex]]
    * on the union corpus (raw fingerprints min-fold at read; shingles
    * are per-doc and doc_ids are new; the band cap applies at read).
    */
  def appendToDedupIndex(batch: DataFrame, dir: String): Unit = {
    openForMutation(batch.sparkSession, dir, dedupIndex, "appendToDedupIndex")
    saveDedupTables(batch, dir, SaveMode.Append)
  }

  /** The one dedup-table writer behind [[writeDedupIndex]] and
    * [[appendToDedupIndex]]: one shingling pass feeds both the shingle
    * table and the band rows, and each table lands one file per
    * partition ([[TableLayout.save]]). A full overwrite is a new
    * generation, so it clears the tombstones: stale tombstones from
    * the previous index must not mask docs the new corpus legitimately
    * contains (the rule every IVF-family build follows) — without
    * this, a rebuilt-over index classifies exact copies of
    * previously-deleted doc_ids as 'new' forever. Either way the
    * manifest is rewritten, so any generation-keyed consumer of the
    * index misses its cache (fresh write_id).
    */
  private def saveDedupTables(docs: DataFrame, dir: String,
      mode: SaveMode): Unit = {
    val spark = docs.sparkSession
    val sh = Dedup.shingles(docs)
      .withColumn("db", dedupDocBucket(col("doc_id"))).localCheckpoint()
    def put(t: TableLayout, rows: DataFrame): Unit = t.save(rows, t.path(dir), mode)
    put(shinglesTable, sh)
    put(fingerprintsTable,
      Dedup.exactFpRows(docs).withColumn("fpb", dedupFpBucket(col("fp"))))
    put(bandsTable, Dedup.bandRowsOf(sh.drop("db")))
    if (mode == SaveMode.Overwrite) clearTombstones(spark, dir)
    dedupIndexManifest(spark, dir)
    org.apache.spark.sql.GraftShims.uncheckpoint(sh)
  }

  /** Takedown-delete from the stored dedup index: the doc ids land as
    * one tiny id-only parquet file beside the index
    * ([[writeTombstones]], shared with [[deleteFromIvfIndex]] —
    * licensing/PII removals are O(ids) writes, never a corpus-sized
    * rewrite). Classification masks tombstoned docs BEFORE the
    * read-time band cap and before the fingerprint min-fold, so a
    * masked index classifies identically to one REBUILT on the corpus
    * minus the deleted docs: a bucket whose capped slots held a
    * deleted doc promotes the next lowest doc_id exactly as the
    * rebuild would, and an exact-dup batch doc whose only stored twin
    * was deleted falls through to near/new. [[compactDedupIndex]]
    * purges the rows physically and consumes the tombstones. Re-adding
    * a deleted doc_id requires a compact between the delete and the
    * re-append (tombstone-wins, as in the IVF family — there is no
    * sequence ordering between them). A non-empty delete rewrites the
    * manifest (fresh write_id): the index's served content changed.
    */
  def deleteFromDedupIndex(spark: SparkSession, dir: String,
      docIds: DataFrame): Unit = {
    openForMutation(spark, dir, dedupIndex, "deleteFromDedupIndex")
    if (writeTombstones(spark, dir, dedupIndex, docIds))
      dedupIndexManifest(spark, dir)
  }

  /** Classify a new batch against the STORED index — the restart-safe
    * twin of [[Dedup.incrementalDedup]]: same verdict schema
    * (doc_id, verdict ∈ exact|near|new, dup_of, jaccard), same
    * verification core ([[Dedup.classifyCore]]), the index read from
    * parquet instead of a session cache. Identical output to the
    * cached path on the same corpus by construction. Tombstoned docs
    * ([[deleteFromDedupIndex]]) are masked out of both the exact and
    * the near path — before the band cap, so capped buckets promote
    * exactly as a rebuild on the filtered corpus would.
    */
  def classifyWithDedupIndex(spark: SparkSession, batch: DataFrame,
      dir: String, threshold: Double = 0.5): DataFrame = {
    requireIndex(spark, dir, dedupIndex, "classifyWithDedupIndex")
    // version-skew guard: the batch is shingled/banded with THIS
    // binary's constants — if they differ from the build-time geometry
    // the manifest records, batch band values never match stored ones
    // and every near-dup silently classifies 'new'. Fail loudly
    // instead (legacy manifests without the fields skip the check).
    readIndexManifest(spark, dir).foreach { m =>
      def chk(k: String, cur: Long): Unit = m.get(k).foreach(v =>
        require(v.toLong == cur,
          s"classifyWithDedupIndex: index at $dir was built with $k=$v " +
            s"but this binary uses $k=$cur — rebuild the index or run " +
            "the matching engine version"))
      chk("shingle_n", 3L)
      chk("bands", (Dedup.minhashSeeds / Dedup.minhashBandSize).toLong)
      chk("band_cap", Dedup.lshBucketCap.toLong)
    }
    val bFp = batch.select(col("doc_id"), md5(col("text")).as("fp"))
      .localCheckpoint()
    // takedown masking: identity when no delete ever happened; else a
    // broadcast anti-join on the tiny tombstone set, applied to the
    // stored side of BOTH match paths (below) before any fold or cap
    val tombs = tombstones(spark, dir, dedupIndex)
    // fingerprint store pruned to the batch's fp buckets (≤256 literal
    // values — bounded by the bucket grid, never by the batch), then
    // scoped to the batch's exact fingerprints before the min fold so
    // the aggregate is collision-sized, not bucket-sized (the mask
    // rides the collision-sized set too)
    val fpbs = bFp.select(dedupFpBucket(col("fp")).as("fpb")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val exFp = tombs.mask(spark.read.parquet(fingerprintsTable.path(dir))
        .filter(col("fpb").isin(fpbs: _*))
        .join(bFp.select("fp").distinct(), Seq("fp"), "left_semi"))
      .groupBy("fp").agg(min("doc_id").as("ex_exact"))
    val bSh = Dedup.shingles(batch).localCheckpoint()
    val bBands = Dedup.bandRowsOf(bSh).localCheckpoint()
    // stored band rows in batch-touched buckets only, MASKED before
    // the read-time population cap (== the build-time cap a rebuild
    // on the filtered corpus would apply to these rows: a deleted doc
    // that held a capped slot frees it for the next lowest doc_id)
    val exCapped = Dedup.capBandRows(
      tombs.mask(spark.read.parquet(bandsTable.path(dir))
        .join(bBands.select("band", "bv").distinct(), Seq("band", "bv"),
          "left_semi")))
    val cands = bBands.as("q").join(exCapped.as("e"),
        col("q.band") === col("e.band") && col("q.bv") === col("e.bv"))
      .select(col("q.doc_id").as("doc_a"), col("e.doc_id").as("doc_b"))
      .distinct()
      .localCheckpoint() // two consumers: bucket collect + verification
    // shingle store pruned to candidate partners' doc buckets (≤256
    // literal partition values), then to the candidate docs themselves;
    // each kept doc keeps its FULL shingle set (classifyCore contract).
    // No tombstone mask needed here: candidates come from the MASKED
    // band rows above, so a deleted doc can never appear as a doc_b
    val dbs = cands.select(dedupDocBucket(col("doc_b")).as("db")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val shStore = spark.read.parquet(shinglesTable.path(dir))
    val exSh = (if (dbs.isEmpty) shStore.filter(lit(false))
                else shStore.filter(col("db").isin(dbs: _*)))
      .select("doc_id", "s")
      .join(cands.select(col("doc_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
    val result = Dedup.classifyCore(bFp, exFp, bSh, exSh, cands, threshold)
    Seq(bFp, bSh, bBands, cands)
      .foreach(org.apache.spark.sql.GraftShims.uncheckpoint)
    result
  }

  /** The production ingest loop as ONE operator: classify the batch
    * against the stored index, append the ACCEPTED split (verdict
    * 'new' — exact and near dups are dropped, the whole point of
    * ingest-time dedup), return the per-doc verdicts. Sequencing is
    * safe because [[Dedup.classifyCore]] materializes the verdict
    * frame eagerly (localCheckpoint) — the append below cannot leak
    * into the classification that decided it. Called per micro-batch
    * this GROWS the index between triggers, so a later batch's copy
    * of an earlier batch's accepted doc classifies exact/near — the
    * sequential semantics the ingest-loop oracle unrolls batch by
    * batch. Cost per call: classify (batch-proportional probes of the
    * pruned index) + an accepted-sized append; never a corpus scan.
    */
  def maintainDedupIndex(spark: SparkSession, batch: DataFrame,
      dir: String, threshold: Double = 0.5): DataFrame = {
    openForMutation(spark, dir, dedupIndex, "maintainDedupIndex")
    val verdicts = classifyWithDedupIndex(spark, batch, dir, threshold)
    // materialized once: the semi-join otherwise re-runs for the
    // emptiness check AND each of the append's table derivations,
    // tripling the batch scan the per-trigger cost model bills once
    val accepted = batch
      .join(verdicts.filter(col("verdict") === "new").select("doc_id"),
        Seq("doc_id"), "left_semi")
      .localCheckpoint()
    // an all-dup batch appends nothing — and must not touch the
    // manifest either (the index content did not change)
    if (!accepted.isEmpty)
      appendToDedupIndex(accepted.select("doc_id", "text"), dir)
    org.apache.spark.sql.GraftShims.uncheckpoint(accepted)
    verdicts
  }

  /** Compact the stored dedup index with the shared routine
    * ([[compactTables]]): each table back to the one-file-per-partition
    * layout (appends add a file per call), the distinct invariants
    * restored (defense in depth against a violated append contract),
    * and tombstoned docs ([[deleteFromDedupIndex]]) physically PURGED,
    * under the same pinned-tombstone and rename-aside swap discipline
    * as [[compactIvfIndex]]. The manifest is rewritten last.
    *
    * The three tables swap one at a time, so a crash BETWEEN two swaps
    * leaves a mixed generation: the tables already swapped are
    * compacted and purged, the others still hold their appended files
    * and the tombstoned rows, the tombstones are all still present and
    * the manifest is the pre-compaction one. That state serves what
    * the index served before the compaction: classify masks the
    * tombstoned docs on the fingerprint and band reads, and a purged
    * doc's missing shingles are never read, because verification
    * candidates come from the masked bands. The next compaction
    * finishes the job (rewriting an already-compacted table is
    * idempotent). SinkSpec's takedown-delete test pins this state.
    */
  def compactDedupIndex(spark: SparkSession, dir: String): Unit = {
    compactTables(spark, dir, dedupIndex, "compactDedupIndex")
    dedupIndexManifest(spark, dir)
  }

  // ───────────────────────── stored BPE tokenizer ─────────────────────

  private def bpeManifest(spark: SparkSession, dir: String,
      rounds: Int, batchSize: Int, nMerges: Long): Unit =
    writeIndexManifest(spark, dir, Seq(
      "kind" -> "bpe_tokenizer",
      "rounds" -> rounds.toString,
      "batch_size" -> batchSize.toString,
      "n_merges" -> nMerges.toString))

  /** Persist a trained tokenizer as a versioned artifact: the batched
    * trainer's merge table ([[graft.operators.TextOps.bpeTrainMergesBatched]],
    * (iter, round, rk, pair_left, pair_right, merged, n)) as one
    * parquet file under `dir/merges` plus the manifest. A tokenizer is
    * trained ONCE and then applied to the full corpus (and every future
    * batch) — without the stored artifact each encode query retrains,
    * which at 100 TB is a full extra training pass per consumer. The
    * table is merges-sized (≤ rounds × batchSize rows; 32k for a
    * production vocabulary), so one file is the correct layout.
    */
  def writeBpeTokenizer(docs: DataFrame, dir: String,
      rounds: Int = 3, batchSize: Int = 3): Unit = {
    val spark = docs.sparkSession
    val merges = TextOps.bpeTrainMergesBatched(docs, rounds, batchSize)
      .localCheckpoint()
    val n = merges.count()
    // fail at WRITE time, not at some later consumer's load: a trainer
    // that learned nothing (no adjacent symbol pairs anywhere in the
    // vocabulary) would store an empty artifact, which the artifact
    // cache rejects as corrupt on every load
    require(n > 0, "writeBpeTokenizer: trainer learned no merges — " +
      "the corpus vocabulary has no adjacent symbol pairs")
    merges.orderBy("iter").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/merges")
    bpeManifest(spark, dir, rounds, batchSize, n)
    org.apache.spark.sql.GraftShims.uncheckpoint(merges)
  }

  /** Load the stored merge table, cached per artifact generation
    * ([[cachedArtifactLoad]]) — repeated encodes against an unchanged
    * tokenizer skip the read. Feeds
    * [[graft.operators.TextOps.bpeEncodeBatched]] directly.
    */
  def loadBpeMerges(spark: SparkSession, dir: String): DataFrame = {
    requireIndexKind(spark, dir, "loadBpeMerges", "bpe_tokenizer")
    require(pathExists(spark, s"$dir/merges"),
      s"loadBpeMerges: no tokenizer artifact at $dir (missing merges table)")
    cachedArtifactLoad(spark, s"$dir/merges") {
      spark.read.parquet(s"$dir/merges")
    }
  }

  /** Encode a corpus with the STORED tokenizer — the production
    * train-once/apply-everywhere path: one merges-sized artifact read
    * (cached per generation), then the batched encode's single
    * vocab-sized pass over `docs`. Never retrains.
    */
  def encodeWithBpeTokenizer(spark: SparkSession, docs: DataFrame,
      dir: String): DataFrame =
    TextOps.bpeEncodeBatched(docs, loadBpeMerges(spark, dir))

  /** CONTINUE training the stored tokenizer on a new corpus — the
    * domain-shift leg of the artifact lifecycle (a code-heavy or
    * multilingual batch arrives; the vocabulary must grow without
    * recounting the original corpus). The stored merges are applied to
    * the new corpus's vocabulary first ([[graft.operators.TextOps.bpeTrainBatchedFrom]]),
    * then `rounds` more batched rounds run THERE; the new merge rows
    * append to `dir/merges` with iter continuing from `n_merges` and
    * round from the manifest's `rounds` (manifest fields, not stored
    * maxima — a phase that exhausted early still hands the next phase
    * its full round budget, keeping the numbering restart-derivable).
    * Extending on the SAME corpus is bit-identical to one longer
    * single-shot train (DriftBpeSpec). The driver-side collect is
    * merges-sized (the training output bound), never corpus-sized.
    */
  def extendBpeTokenizer(newDocs: DataFrame, dir: String,
      rounds: Int = 3, batchSize: Int = 3): Unit = {
    val spark = newDocs.sparkSession
    val stored = loadBpeMerges(spark, dir).orderBy("iter").collect()
    val init = stored.toSeq.map(r =>
      (r.getAs[String]("pair_left"), r.getAs[String]("pair_right")))
    val m = readIndexManifest(spark, dir).getOrElse(Map.empty)
    val iterOffset = m.get("n_merges").map(_.toInt).getOrElse(stored.length)
    val roundOffset = m.get("rounds").map(_.toInt).getOrElse(0)
    val newMerges = TextOps.bpeTrainBatchedFrom(newDocs, init, rounds,
      batchSize, iterOffset, roundOffset).localCheckpoint()
    val n = newMerges.count()
    if (n > 0)
      newMerges.orderBy("iter").coalesce(1)
        .write.mode("append").parquet(s"$dir/merges")
    // manifest rewrite (fresh write_id) even when the batch learned
    // nothing: the recorded round budget advanced, and the next
    // extension must number its rounds after THIS one's
    bpeManifest(spark, dir, roundOffset + rounds, batchSize, iterOffset + n)
    org.apache.spark.sql.GraftShims.uncheckpoint(newMerges)
  }
}
