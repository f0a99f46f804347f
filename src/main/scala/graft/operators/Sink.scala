package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType,
  IntegerType, LongType, StringType, StructField, StructType}

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
      * narrow per-row expressions; `subs` (the stored or freshly
      * trained PQ codebooks, packed by [[Similarity.pqSubsArray]]) is only
      * evaluated by [[Pq]].
      */
    private[Sink] def encode(rows: DataFrame, subs: => DataFrame): DataFrame = rows
  }

  /** Float vectors only — exact-cosine serving. */
  case object Flat extends IvfCodec {
    val kind = "ivf"
    private[Sink] val columns = Seq("vec_id", "embedding", "cell")
  }

  /** The int8 tier: per-vector max-abs codes from the ONE quantization
    * scheme ([[Similarity.sq8Codes]], shared with the in-memory tier),
    * and stored serving ([[searchIvfIndex]]) scores them with the
    * in-memory tier's scorer, so it cannot diverge from
    * [[Similarity.ivfSq8TopK]]. No trained artifact, so nothing to
    * drift beyond the coarse cells.
    */
  case object Sq8 extends IvfCodec {
    val kind = "ivfsq8"
    private[Sink] val columns = Seq("vec_id", "q", "n2", "ma", "embedding", "cell")
    override private[Sink] def encode(rows: DataFrame,
        subs: => DataFrame): DataFrame = Similarity.withSq8Codes(rows)
  }

  /** The FAISS-style compressed tier: m subspaces of `subDim` dims, `k`
    * codewords each. The codes and the raw vectors share the cell
    * files, so the ADC candidate stage and the exact rerank of
    * [[searchIvfIndex]] are two column projections of the same
    * probed partitions. The codebook geometry is subspace-shaped, not
    * corpus-shaped: a sized build resizes only the coarse cells.
    */
  final case class Pq(m: Int = 4, subDim: Int = 16, k: Int = 8) extends IvfCodec {
    val kind = "ivfpq"
    private[Sink] val columns = Seq("vec_id", "codes", "embedding", "cell")
    override private[Sink] val fields =
      Seq("m" -> m.toString, "subDim" -> subDim.toString, "k" -> k.toString)
    override private[Sink] def encode(rows: DataFrame,
        subs: => DataFrame): DataFrame =
      rows.crossJoin(broadcast(subs)).withColumn("codes", Similarity.pqCodesColumn(subDim))
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
    * recording the geometry and the assignment's data schema every
    * later operation reads back. Serving never retrains. Returns the
    * resolved cell count. The overwrite is static
    * ([[TableLayout.save]]): a retrain replaces every cell. The stored
    * artifacts seed the artifact cache ([[seedArtifact]]) as the new
    * generation of `dir`.
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
    // centroids (and the PQ codebooks) come from the session caches —
    // shared with ivfMultiProbeTopK / the pq_* queries — and a rebuild
    // pays only the writes. Only the trained tables are built, both
    // held on the driver: the write derives every cell and code in its
    // own scan, so nothing corpus-sized is materialized and nothing is
    // left to release. The PQ codebooks and the coarse quantizer train
    // on DISJOINT inputs (subvector slices vs full vectors) — run them
    // concurrently; results are bit-identical to serial
    val pqF = Future {
      codec match {
        case Pq(m, subDim, k) => Some(Similarity.pqTrained(emb, m, subDim, k, iters, corpusKey))
        case _ => None
      }
    }
    // the artifacts as the index stores them: they encode this write's
    // rows and then seed the artifact cache
    val centArt = new Artifact(Similarity.kmeansCentroidsCached(emb, n, iters, corpusKey))
    val pqArt = Await.result(pqF, Duration.Inf).map(new Artifact(_))
    // the model-sized artifacts are independent of the corpus-sized
    // assignment write — overlap them (guide §2.6: the small job
    // back-fills the big one's tail); the manifest still lands only
    // after everything exists, so a reader never sees a manifest ahead
    // of its content
    val artF = Future {
      writeCentroidArtifact(centArt.rows, s"$dir/centroids")
      pqArt.foreach(a => writeCentroidArtifact(a.rows, s"$dir/pq_centroids"))
    }
    // cell and payload are NARROW per-row expressions against the
    // broadcast trained artifacts (bit-identical to the trained
    // assignment — the same rounded-L2 argmin with cell tiebreak), so
    // the write pays ONE exchange: the cell repartition (guide §2.4)
    val rows = codec.encode(
        withNearestCell(emb.select("vec_id", "embedding"), centArt.centroidArray),
        pqArt.get.pqSubs)
      .select(codec.columns.map(col): _*)
    try assignmentTable.save(rows, assignmentTable.path(dir), SaveMode.Overwrite)
    finally Await.ready(artF, Duration.Inf)
    artF.value.get.get // surface an artifact-write failure
    // `schema`: the assignment files' data columns, so a search reads
    // the probed cells without a schema-inference job
    writeIndexManifest(spark, dir,
      Seq("kind" -> codec.kind, "cells" -> n.toString) ++ codec.fields ++ sizeField :+
        ("schema" -> Similarity.nullable(StructType(
          rows.schema.filterNot(_.name == assignmentTable.part))).toDDL))
    // a full (re)write is a new generation — tombstones against the
    // REPLACED rows must not mask the new content, and nothing cached
    // for the replaced tables may outlive them; the artifacts this write
    // stored seed the new generation, so the next load is a cache hit
    clearTombstones(spark, dir)
    dropGenerations(dir)
    seedArtifact(spark, s"$dir/centroids", centArt)
    pqArt.foreach(seedArtifact(spark, s"$dir/pq_centroids", _))
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
  private val shinglesTable = TableLayout("shingles", "db", "db", "doc_id")
  private val fingerprintsTable = TableLayout("fingerprints", "fpb", "fpb", "fp", "doc_id")
  private val bandsTable = TableLayout("bands", "band", "band", "bv", "doc_id")

  /** A stored-index family as the shared lifecycle core sees it: the
    * manifest kinds it owns, the id column its tombstones carry, and
    * the tables compaction rewrites (in swap order; the last one is
    * written last, so its presence marks a complete index). `swapsDir`:
    * a maintenance retrain swaps the whole index dir as well.
    * `distinctRows`: every column is a key, so compaction restores the
    * distinct invariant (defense in depth against a violated append
    * contract). `geometry`: build-time constants the manifest records
    * and every open of the index checks ([[requireIndex]]).
    */
  private final case class IndexFamily(kinds: Seq[String], idCol: String,
      tables: Seq[TableLayout], swapsDir: Boolean, distinctRows: Boolean,
      geometry: Seq[(String, Long)] = Nil) {
    /** Every path a [[checkedSwap]] of this family replaces. */
    def trees(dir: String): Seq[String] =
      (if (swapsDir) Seq(dir) else Nil) ++ tables.map(_.path(dir))
  }

  private val ivfIndex = IndexFamily(Seq(Flat.kind, Sq8.kind, Pq().kind),
    "vec_id", Seq(assignmentTable), swapsDir = true, distinctRows = false)

  private val dedupIndex = IndexFamily(Seq("dedup_text"), "doc_id",
    Seq(shinglesTable, fingerprintsTable, bandsTable),
    swapsDir = false, distinctRows = true,
    geometry = Seq("shingle_n" -> 3L,
      "bands" -> (Dedup.minhashSeeds / Dedup.minhashBandSize).toLong,
      "band_cap" -> Dedup.lshBucketCap.toLong, "layout" -> 2L))

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
    * dir): (path, [[artifactGeneration]], the index manifest's
    * `write_id` — "" for a legacy index, which falls back to the stamp
    * alone); the session is the [[graft.SessionCache]]'s own key part.
    * Every per-index driver cache below keys on it, so each misses when
    * its source table changes.
    */
  private type GenKey = (String, Long, String)

  private def genKey(spark: SparkSession, path: String): GenKey = {
    val indexDir = new org.apache.hadoop.fs.Path(path).getParent.toString
    val writeId = readIndexManifest(spark, indexDir)
      .flatMap(_.get("write_id")).getOrElse("")
    (path, artifactGeneration(spark, path), writeId)
  }

  /** A [[GenKey]]-keyed driver cache. Values are driver-side (maps,
    * local relations), so nothing is released.
    */
  private def genCache[V]: graft.SessionCache[GenKey, V] =
    new graft.SessionCache[GenKey, V](maxEntries = 32)

  /** Every [[genCache]], for [[dropGenerations]]. */
  private lazy val genCaches: Seq[graft.SessionCache[GenKey, _]] =
    Seq(artifactLoadCache, cellCountCache, centroidCellCache, codeCountCache, pqGridCache)

  /** Drop every generation any [[genCache]] holds for a table under
    * `dir`, in every session: a full index write (or a retrain swapped
    * into place) supersedes them all, so each cache keeps at most the
    * one generation the writer seeds.
    */
  private def dropGenerations(dir: String): Unit = {
    val under = dir + "/"
    genCaches.foreach(_.removeIf((_, k) => k._1.startsWith(under)))
  }

  /** Test hook: the manifest `write_id` of every generation any
    * [[genCache]] holds for a table under `dir` ("" for a legacy index).
    */
  private[graft] def cachedWriteIds(dir: String): Set[String] =
    genCaches.flatMap(_.keys).filter(_._1.startsWith(dir + "/")).map(_._3).toSet

  /** A stored model-sized artifact (IVF centroids, PQ codebooks, BPE
    * merges) held on the driver: `rows` is a local relation — what the
    * load functions return, the same bytes every consumer broadcasts —
    * and the one-row packed forms the narrow per-row encoders broadcast
    * are built from it once, on first use. Holds no Spark block.
    */
  private final class Artifact(val rows: DataFrame) {
    lazy val centroidArray: DataFrame = Similarity.centroidArray(rows)
    lazy val pqSubs: DataFrame = Similarity.pqSubsArray(rows)
  }

  /** Loaded stored-artifact cache: serving and maintenance call
    * [[loadIvfCentroids]]/[[loadPqCentroids]] on EVERY operation (a
    * drop-cadence maintenance replay reloads the same frozen artifacts
    * a dozen times), and each load is a read over an unchanged file
    * set. A miss collects the artifact once into an [[Artifact]]; an
    * index write seeds the generation it creates ([[seedArtifact]]),
    * so the append and search that follow it miss nothing.
    */
  private val artifactLoadCache = genCache[Artifact]

  private def cachedArtifactLoad(spark: SparkSession, path: String)(
      read: => DataFrame): Artifact =
    artifactLoadCache.getOrBuild(spark, genKey(spark, path)) {
      val df = read
      val rows = df.collect()
      // once per artifact generation (cache misses only): an index
      // artifact table is never legitimately empty, and an empty
      // broadcast codebook/centroid frame makes every downstream join
      // silently drop all rows instead of failing
      if (rows.isEmpty)
        throw new IllegalArgumentException(
          s"stored index artifact at $path is empty — zero-row table " +
            "or missing data files (partial restore / failed rewrite?)")
      new Artifact(Similarity.localRelation(spark, rows, df.schema))
    }

  /** Cache `art` as the current generation of the artifact at `path` —
    * called by the writer right after its manifest write, with the
    * rows it just stored.
    */
  private def seedArtifact(spark: SparkSession, path: String, art: Artifact): Unit =
    artifactLoadCache.put(spark, genKey(spark, path), art): Unit

  /** Append the nearest-cell column as a NARROW per-row argmin over the
    * broadcast centroid table ([[Similarity.nearestCell]], the kernel
    * training uses), without [[Similarity.assignWithCentroids]]'
    * aggregate + vec_id-join shape: writes and appends derive the cell
    * inside the scan projection instead of shuffling an assignment
    * frame back onto the vectors (guide §2.4).
    */
  private def withNearestCell(batch: DataFrame, cs: DataFrame): DataFrame =
    batch.crossJoin(broadcast(cs))
      .withColumn("cell",
        Similarity.nearestCell(Similarity.toDouble(col("embedding")), col("cs")).getField("cell"))

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
    ivfCentroids(spark, dir).rows

  private def ivfCentroids(spark: SparkSession, dir: String): Artifact =
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
    codec.encode(withNearestCell(uniq, ivfCentroids(spark, dir).centroidArray),
        pqCodebooks(spark, dir).pqSubs)
      .select(codec.columns.map(col): _*)

  /** Hard bound on driver-side state, read in three places. (1) The
    * k-means training sample, read as rows × dims doubles: at or below
    * it, training collects the sample and runs Lloyd's on the driver
    * ([[DriverLloyds]]); above it, the Spark loop trains
    * ([[Similarity.kmeansAssign]]). At 2²⁴ doubles that is 128 MiB of
    * vector payload. (2) The index maps ([[storedCellCounts]],
    * [[centroidCellIds]]): "geometry-bounded, not data-bounded" is only
    * a guarantee while the geometry itself fits the driver — in the
    * sized layout cells = ⌈N/size⌉, so a 10¹⁰-vector / size-64 index
    * is ~1.5×10⁸ cells, past what a driver map should hold. Above this
    * bound the collects REFUSE (loud, actionable). (3) The coarse
    * drift path, which needs those maps: at or below the bound the
    * verdict is the driver-side [[drift]]; above it [[ivfAppendDrift]]
    * returns, and [[maintainIvfIndex]] reads its verdict off, ONE
    * distributed frame ([[distributedDrift]] — bit-identical verdict,
    * index-proportional cost). Production IVF serves ≲10⁶-10⁷ cells,
    * so the default (2²⁴ ≈ 1.7×10⁷ entries) never bites on a sane
    * geometry; override via the `graft.maxDriverMapEntries` system
    * property (specs lower it to pin the fallbacks).
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
  private val cellCountCache = genCache[Map[Long, Long]]

  private[graft] def storedCellCounts(spark: SparkSession, dir: String,
      cells: Long): Map[Long, Long] = {
    requireDriverMapFits(dir, cells, "storedCellCounts")
    cellCountCache.getOrBuild(spark, genKey(spark, s"$dir/assignment")) {
      // partition-column inference reads `cell=` path values as INT —
      // countsBy normalizes them to the centroid table's LONG
      countsBy(spark.read.parquet(s"$dir/assignment"), col("cell"))
    }
  }

  /** Centroid cell-id list, cached per centroids-artifact generation —
    * the drift verdict's grid, collected once per index generation
    * instead of once per micro-batch. Cells-sized.
    */
  private val centroidCellCache = genCache[Seq[Long]]

  private[graft] def centroidCellIds(spark: SparkSession, dir: String,
      cells: Long): Seq[Long] = {
    requireDriverMapFits(dir, cells, "centroidCellIds")
    centroidCellCache.getOrBuild(spark, genKey(spark, s"$dir/centroids")) {
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

  /** Per-key row counts of `df` grouped by `key` (cast to long) — one
    * collected job. Batch- or index-cells-sized.
    */
  private def countsBy(df: DataFrame, key: Column): Map[Long, Long] =
    df.groupBy(key.cast("long")).agg(count(lit(1)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** One drift key's smoothed PSI term, unrounded: the key's stored and
    * incoming shares, each add-one smoothed over the grid's `nKeys`
    * keys, divided as Spark divides two longs (both cast to double).
    * `StrictMath.log` is the function Catalyst's `Log` evaluates, so
    * the term is bit-identical to the distributed frame's before any
    * rounding (spec-pinned over random counts).
    */
  private[graft] def psiTerm(nS: Long, nN: Long, tS: Long, tN: Long,
      nKeys: Long): Double = {
    val pS = (nS + 1L).toDouble / (tS + nKeys).toDouble
    val pN = (nN + 1L).toDouble / (tN + nKeys).toDouble
    (pN - pS) * StrictMath.log(pN / pS)
  }

  /** A drift verdict over one grid: per key (key, n_stored, n_new,
    * psi_term) in grid order, the smoothed PSI, its null floor and the
    * retrain flag.
    */
  private[graft] final case class Drift(keys: Seq[(Long, Long, Long, Double)],
      psi: Double, psiNull: Double, due: Boolean) {
    def tStored: Long = keys.iterator.map(_._2).sum
  }

  /** THE drift verdict, on the driver: the stored and incoming
    * populations of every grid key (a cell, or one subspace's PQ codes)
    * compared by a smoothed PSI. Keys off the grid are ignored.
    *
    * The verdict is NULL-CALIBRATED: a finite batch drawn from the
    * exact stored distribution still reads a nonzero smoothed PSI —
    * its expectation is ≈ (keys − 1)·(1/t_new + 1/t_stored) (the
    * chi-square-style null floor), which DOMINATES when keys ≫ batch
    * (measured: a same-distribution 2020-vector batch against an
    * 800-cell ×100 index reads PSI ≈ 0.4 with NO drift — the raw
    * `psi > threshold` rule tripped a spurious 19-minute full retrain;
    * at ×10 the floor predicts 0.043 and the batch read 0.034). The
    * flag therefore fires on `psi > threshold + psi_null`.
    *
    * PSI carrier mirrors [[Corpus.sourceDrift]]: each [[psiTerm]] rounded
    * HALF_UP to an 8dp decimal (what Catalyst's `round` does to a
    * double), an exact decimal sum (fold-order free), `psi` and
    * `psi_null` rounded to 6dp — the arithmetic of [[distributedDrift]]
    * operation for operation, so the two agree bit for bit.
    */
  private[graft] def drift(grid: Seq[Long], stored: Map[Long, Long],
      incoming: Map[Long, Long], threshold: Double): Drift = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def round6(x: Double) = JBD.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue
    val counts = grid.map(k => (k, stored.getOrElse(k, 0L), incoming.getOrElse(k, 0L)))
    val nKeys = grid.size.toLong
    val tS = counts.iterator.map(_._2).sum
    val tN = counts.iterator.map(_._3).sum
    val terms = counts.map { case (_, nS, nN) =>
      JBD.valueOf(psiTerm(nS, nN, tS, tN, nKeys)).setScale(8, RoundingMode.HALF_UP)
    }
    val psi = round6(terms.foldLeft(JBD.ZERO)(_ add _).doubleValue)
    val psiNull = round6((nKeys - 1L).toDouble *
      (1.0 / math.max(tN, 1L).toDouble + 1.0 / math.max(tS, 1L).toDouble))
    Drift(counts.zip(terms).map { case ((k, nS, nN), t) => (k, nS, nN, round6(t.doubleValue)) },
      psi, psiNull, psi > threshold + psiNull)
  }

  /** Verdicts as the drift pre-flights' local relation: `keyFields`
    * (the last one names the grid key), then n_stored, n_new,
    * psi_term, psi, psi_null, retrain_due — one row per grid key, each
    * verdict's rows prefixed with its key values.
    */
  private def driftRelation(spark: SparkSession, keyFields: Seq[StructField],
      verdicts: Seq[(Seq[Any], Drift)]): DataFrame =
    Similarity.localRelation(spark,
      verdicts.flatMap { case (prefix, d) =>
        d.keys.map { case (k, nS, nN, t) =>
          Row.fromSeq(prefix ++ Seq(k, nS, nN, t, d.psi, d.psiNull, d.due))
        }
      }.toArray,
      StructType(keyFields ++ Seq(StructField("n_stored", LongType, nullable = false),
        StructField("n_new", LongType, nullable = false)) ++
        Seq("psi_term", "psi", "psi_null").map(StructField(_, DoubleType)) :+
        StructField("retrain_due", BooleanType)))

  /** The coarse drift verdict as ONE distributed frame, for an index
    * whose cells exceed [[maxDriverMapEntries]]: the centroid grid
    * left-joins the stored assignment's per-cell counts and the
    * batch's, and the totals and the term sum join back as one-row
    * broadcasts. The arithmetic of [[drift]], in Catalyst; cost is
    * index-proportional, exactly the trade the bound exists to make.
    * Columns: [[ivfAppendDrift]]'s, plus t_stored.
    */
  private def distributedDrift(spark: SparkSession, dir: String,
      incoming: Map[Long, Long], threshold: Double): DataFrame = {
    import spark.implicits._
    val stored = spark.read.parquet(s"$dir/assignment")
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_stored"))
    val cells = loadIvfCentroids(spark, dir).select("cell")
      .join(stored, Seq("cell"), "left")
      .join(broadcast(incoming.toSeq.toDF("cell", "n_new")), Seq("cell"), "left")
      .withColumn("n_stored", coalesce(col("n_stored"), lit(0L)))
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
    val totals = cells.agg(
      count(lit(1)).as("n_cells"),
      sum("n_stored").as("t_stored"), sum("n_new").as("t_new"))
    val pS = (col("n_stored") + lit(1)) / (col("t_stored") + col("n_cells"))
    val pN = (col("n_new") + lit(1)) / (col("t_new") + col("n_cells"))
    val terms = cells.crossJoin(broadcast(totals))
      .withColumn("term", round((pN - pS) * log(pN / pS), 8).cast("decimal(18,8)"))
    terms.crossJoin(broadcast(terms.agg(sum("term").as("term_sum"))))
      .select(col("cell"), col("n_stored"), col("n_new"),
        round(col("term").cast("double"), 6).as("psi_term"),
        round(col("term_sum").cast("double"), 6).as("psi"),
        round((col("n_cells") - 1).cast("double") *
          (lit(1.0) / greatest(col("t_new"), lit(1L)) +
            lit(1.0) / greatest(col("t_stored"), lit(1L))), 6).as("psi_null"),
        col("t_stored"))
      .withColumn("retrain_due", col("psi") > lit(threshold) + col("psi_null"))
  }

  /** Pre-flight drift check for [[appendToIvfIndex]]: per cell, the
    * stored population vs the incoming batch's would-be population
    * (deduped as an append dedupes it, assigned with the STORED
    * centroids, no retrain), the smoothed PSI between the two
    * cell-share distributions ([[drift]]) and the retrain_due flag,
    * with `psi_null` emitted so the calibration is auditable. Ordered
    * by cell; computed when called.
    *
    * The batch's counts cost one collected job; the stored counts and
    * the grid are generation-cached driver maps, and the result is a
    * local relation. Above [[maxDriverMapEntries]] cells the result is
    * [[distributedDrift]]'s frame instead — so this works at ANY cell
    * count.
    */
  def ivfAppendDrift(spark: SparkSession, batch: DataFrame, dir: String,
      threshold: Double = 0.25): DataFrame = {
    val cells = storedGeometry(spark, dir).cells
    val incoming = countsBy(
      withNearestCell(dedupBatch(batch), ivfCentroids(spark, dir).centroidArray), col("cell"))
    if (cells > maxDriverMapEntries)
      distributedDrift(spark, dir, incoming, threshold).drop("t_stored").orderBy("cell")
    else driftRelation(spark, Seq(StructField("cell", LongType)), Seq(Nil ->
      drift(centroidCellIds(spark, dir, cells), storedCellCounts(spark, dir, cells),
        incoming, threshold)))
  }

  /** Reassemble the stored PQ codebooks: (sub, cell, c: array<double>)
    * — an m×k-sized frame, always broadcast by its consumers. Cached
    * per artifact generation like [[loadIvfCentroids]].
    */
  def loadPqCentroids(spark: SparkSession, dir: String): DataFrame =
    pqCodebooks(spark, dir).rows

  private def pqCodebooks(spark: SparkSession, dir: String): Artifact =
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
      // the reader's flat grammar has no escapes
      require(!v.contains("\""), s"writeIndexManifest: field $k holds a quote: $v")
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
    // each write's temp name is fresh, so a temp a crash left before
    // its rename would otherwise outlive every later write (writers
    // are single-writer per index, so no live temp is deleted here)
    fs.listStatus(p.getParent).map(_.getPath)
      .filter(t => t.getName.startsWith("_graft_manifest.json.") && t.getName.endsWith(".tmp"))
      .foreach(fs.delete(_, false): Unit)
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
    val codec = storedCodec(spark, dir, mf)
    val cells = mf.get("cells").map(_.toInt).getOrElse(
      spark.read.parquet(s"$dir/centroids")
        .agg(countDistinct(col("cell"))).head().getLong(0).toInt)
    StoredGeometry(codec, cells, mf.get("target_cell_size").map(_.toInt))
  }

  /** The codec of [[storedGeometry]], from the already-read manifest
    * `mf` (empty for a legacy index): the manifest kind, or for a
    * legacy index the artifacts and payload columns that exist. A
    * non-IVF kind fails loudly, naming its operator family.
    */
  private def storedCodec(spark: SparkSession, dir: String,
      mf: Map[String, String]): IvfCodec =
    mf.get("kind") match {
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
    * drift pre-flights' counts and the decision log's n_batch/n_after
    * all consistent when a batch carries a re-delivered vec_id.
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
    * family owns, the family's last-written table present (a typo'd
    * dir fails loudly instead of silently no-opping beside the real
    * index), and every geometry field recorded with this binary's
    * value: under a skew a batch's band values never match stored ones
    * (every near-dup silently 'new') and an append mixes schemas.
    */
  private def requireIndex(spark: SparkSession, dir: String,
      fam: IndexFamily, label: String): Unit = {
    requireIndexKind(spark, dir, label, fam.kinds: _*)
    val last = fam.tables.last
    require(pathExists(spark, last.path(dir)),
      s"$label: no index at $dir (missing ${last.name} table)")
    lazy val m = readIndexManifest(spark, dir).getOrElse(Map.empty)
    fam.geometry.foreach { case (k, cur) =>
      val v = m.getOrElse(k, "(unrecorded)")
      require(v == cur.toString, s"$label: index at $dir was built with $k=$v " +
        s"but this binary uses $k=$cur — rebuild the index or run the matching engine version")
    }
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
    val incomingMap = countsBy(rows, col("cell"))
    // the coarse verdict is the driver-side `drift` over the
    // generation-cached grid and stored counts: ONE batch pass per
    // drop. GEOMETRY GUARD: above maxDriverMapEntries cells there are
    // no maps, so the verdict is read off `distributedDrift`'s frame
    // — one aggregate over the assignment per drop — and nothing is
    // seeded
    val (psi, coarseDue, tStoredPhys, storedMapOpt) =
      if (g.cells <= maxDriverMapEntries) {
        val storedMap = storedCellCounts(spark, dir, g.cells)
        val d = drift(centroidCellIds(spark, dir, g.cells), storedMap, incomingMap, threshold)
        (d.psi, d.due, d.tStored, Some(storedMap))
      } else {
        val r = distributedDrift(spark, dir, incomingMap, threshold)
          .select("psi", "retrain_due", "t_stored").head()
        (r.getDouble(0), r.getBoolean(1), r.getLong(2), None)
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
      // the retrain's generations were cached under the temp dir, the
      // replaced index's under `dir`: neither is current any more
      dropGenerations(dir)
      dropGenerations(tmp)
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
          cellCountCache.put(spark, genKey(spark, assignPath), addCounts(m, incomingMap)))
        code.foreach(c =>
          codeCountCache.put(spark, genKey(spark, assignPath), addCounts(c.stored, c.incoming)))
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

  /** The PQ code tripwire over one drop: one [[drift]] verdict per
    * subspace, and the two count maps the post-append seed adds up.
    */
  private final case class CodeVerdict(subs: Seq[Drift],
      stored: Map[(Int, Long), Long], incoming: Map[(Int, Long), Long]) {
    def psiMax: Double = subs.map(_.psi).max
    def due: Boolean = subs.exists(_.due)
  }

  /** Per-(subspace, code) row counts of a `codes` column — one
    * collected job, m×k-sized.
    */
  private def codeCounts(coded: DataFrame): Map[(Int, Long), Long] =
    coded.select(posexplode(col("codes")).as(Seq("sub", "code")))
      .groupBy("sub", "code").agg(count(lit(1)))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

  /** The code verdict of a batch already encoded against the STORED
    * codebooks (`coded` carries `codes`): the batch's code counts cost
    * ONE collected job, the stored counts and the codebook grid are
    * generation-cached maps, and each subspace is one [[drift]] call
    * with the sub's code set as the grid (k_sub plays n_cells), so the
    * null floor is calibrated per sub.
    */
  private def pqCodeVerdict(spark: SparkSession, dir: String, coded: DataFrame,
      m: Int, threshold: Double): CodeVerdict = {
    val codeGrid = pqCodeGrid(spark, dir)
    val stored = storedCodeCounts(spark, dir)
    val incoming = codeCounts(coded)
    def ofSub(counts: Map[(Int, Long), Long], s0: Int) =
      counts.collect { case ((s, c), n) if s == s0 => c -> n }
    CodeVerdict((0 until m).map { s0 =>
      drift(codeGrid.getOrElse(s0, Seq.empty), ofSub(stored, s0), ofSub(incoming, s0),
        threshold)
    }, stored, incoming)
  }

  /** [[cellCountCache]]'s compressed-tier sibling: per-(subspace, code)
    * PHYSICAL populations of a stored IVF-PQ assignment, cached per
    * generation and seeded arithmetically after un-compacted appends —
    * the code-drift pre-flight otherwise re-explodes the whole codes
    * column per drop. m×k-sized driver map.
    */
  private val codeCountCache = genCache[Map[(Int, Long), Long]]

  private[graft] def storedCodeCounts(spark: SparkSession,
      dir: String): Map[(Int, Long), Long] =
    codeCountCache.getOrBuild(spark, genKey(spark, s"$dir/assignment")) {
      codeCounts(spark.read.parquet(s"$dir/assignment"))
    }

  /** Per-subspace codebook grids (sub → its code ids), cached per
    * pq_centroids generation — [[centroidCellIds]]'s compressed-tier
    * sibling, m×k-sized.
    */
  private val pqGridCache = genCache[Map[Int, Seq[Long]]]

  private[graft] def pqCodeGrid(spark: SparkSession,
      dir: String): Map[Int, Seq[Long]] =
    pqGridCache.getOrBuild(spark, genKey(spark, s"$dir/pq_centroids")) {
      loadPqCentroids(spark, dir).select("sub", "cell")
        .collect().map(r => r.getInt(0) -> r.getLong(1))
        .groupBy(_._1).map { case (s, cs) => s -> cs.map(_._2).toSeq.sorted }
    }

  /** Code-level drift pre-flight for a PQ [[appendToIvfIndex]] — the
    * compressed-tier sibling of [[ivfAppendDrift]]: per (subspace,
    * code), the stored population vs the incoming batch's would-be
    * population (deduped as an append dedupes it, encoded with the
    * STORED codebooks, no retrain), a smoothed PSI per subspace, and a
    * per-subspace retrain_due flag — [[pqCodeVerdict]], the maintain
    * path's verdict, as a local relation ordered by (sub, code).
    * Catches subvector-distribution shift that leaves the coarse
    * cells balanced (the coarse PSI would stay quiet) but degrades
    * ADC quality — the codebook no longer covers where the new
    * vectors live. The codebook geometry is read from the index, as in
    * [[searchIvfIndex]].
    */
  def ivfPqCodeDrift(spark: SparkSession, batch: DataFrame, dir: String,
      threshold: Double = 0.25): DataFrame = {
    val pq = storedPqCodec(spark, dir, "ivfPqCodeDrift")
    val v = pqCodeVerdict(spark, dir,
      pq.encode(dedupBatch(batch), pqCodebooks(spark, dir).pqSubs), pq.m, threshold)
    driftRelation(spark, Seq(StructField("sub", IntegerType), StructField("code", LongType)),
      v.subs.zipWithIndex.map { case (d, s) => Seq(s) -> d })
  }

  /** The probe stage of the stored search, for every codec: the
    * nQueries query rows rank the STORED centroids
    * ([[Similarity.rankProbes]], the ranking the in-memory multi-probe
    * searches use) and each keeps its `nprobe` nearest cells — ≤ nQueries×nprobe rows, bounded by the
    * query batch, never by data, held on the driver. They serve twice:
    * as the literal probed-cell list [[readProbedCells]] turns into a
    * per-subdirectory read (Spark's dynamic partition pruning
    * degenerates to `dynamicpruningexpression(true)` on this join
    * shape, which would silently scan EVERY cell), and as the local
    * (qid, cell, pn) relation the serving join broadcasts. Returns that
    * relation and the tombstone-masked scan of the probed cells, read
    * with the data schema the index manifest `mf` records.
    */
  private def probeStoredCells(spark: SparkSession, emb: DataFrame, dir: String,
      mf: Option[Map[String, String]], nQueries: Int, nprobe: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val probes = Similarity.rankProbes(emb, nQueries, ivfCentroids(spark, dir).centroidArray, nprobe)
      .collect().map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue, r.getInt(2)))
      .toSeq
    (probes.toDF("qid", "cell", "pn"),
      tombstones(spark, dir, ivfIndex).mask(
        readProbedCells(spark, dir, mf.flatMap(_.get("schema")), probes.map(_._2))))
  }

  /** Read ONLY the probed cell partitions of an index's assignment, as
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
    *
    * The read takes the data schema the manifest records (`schema`,
    * see [[writeIvfIndex]]) instead of inferring it from a footer,
    * which costs a Spark job per search; `cell` keeps the type
    * partition inference gives the read directories, because searches
    * output it. A legacy manifest without the field infers.
    */
  private def readProbedCells(spark: SparkSession, dir: String,
      schema: Option[String], cells: Seq[Long]): DataFrame = {
    val assignPath = s"$dir/assignment"
    val base = new org.apache.hadoop.fs.Path(assignPath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present = cells.distinct
      .filter(c => fs.exists(new org.apache.hadoop.fs.Path(base, s"cell=$c")))
    if (present.isEmpty)
      spark.read.parquet(assignPath).filter(lit(false))
    else {
      val reader = spark.read.option("basePath", assignPath)
      schema.fold(reader)(ddl => reader.schema(
        StructType.fromDDL(ddl).add("cell", inferredCellType(spark, present))))
        .parquet(present.map(c => new org.apache.hadoop.fs.Path(base, s"cell=$c").toString): _*)
    }
  }

  /** The type partition inference gives a set of `cell=<id>`
    * directories: INT when every id fits, else BIGINT (STRING with
    * inference switched off).
    */
  private def inferredCellType(spark: SparkSession, cells: Seq[Long]): DataType =
    if (!spark.conf.get("spark.sql.sources.partitionColumnTypeInference.enabled",
        "true").toBoolean) StringType
    else if (cells.forall(_.isValidInt)) IntegerType
    else LongType

  /** ADC candidates per query that the stored IVF-PQ search reranks by
    * exact cosine.
    */
  private val PqRerankDepth = 10

  /** Search a stored IVF index of any codec, read from the index
    * itself: the manifest the probed-cell read needs for its data
    * schema also names the codec ([[storedCodec]]), so only the write
    * names it. Every codec runs the one probe stage
    * ([[probeStoredCells]]), so a probe never joins the corpus-sized
    * embedding table (the only scan of `emb` is the nQueries-bounded
    * query side), then scores the probed cells' co-located payload with
    * the in-memory tier's scorer and ranker:
    *  - [[Flat]]: exact cosine, (qid, cell, rnk, vec_id, cos) —
    *    result-identical to [[Similarity.ivfMultiProbeTopK]] at the
    *    same nprobe, nprobe=1 reducing to [[Similarity.ivfTopK]].
    *  - [[Sq8]]: the int8 codes (vec_id, q, n2 — the embedding column is
    *    never read) against the on-the-fly-quantized query codes,
    *    (qid, rnk, vec_id, cell, pn, qcos) — result-identical to
    *    [[Similarity.ivfSq8TopK]].
    *  - [[Pq]]: ADC over the codes column against each query's lookup
    *    table on the stored codebooks, then the top [[PqRerankDepth]]
    *    per query rerank by exact cosine against the embedding column of
    *    the same probed cells, (qid, rnk, vec_id, cos) — with every cell
    *    probed, [[Similarity.pqRerankTopK]].
    * `nprobe` is the serving-time recall knob.
    */
  def searchIvfIndex(spark: SparkSession, emb: DataFrame, dir: String,
      nQueries: Int = 10, k: Int = 3, nprobe: Int = 1): DataFrame = {
    val mf = readIndexManifest(spark, dir)
    val codec = storedCodec(spark, dir, mf.getOrElse(Map.empty))
    val (probes, assignment) = probeStoredCells(spark, emb, dir, mf, nQueries, nprobe)
    val q = Similarity.queryRows(emb, nQueries, col("embedding").as("qe"))
    codec match {
      case Flat =>
        // ≤ nQueries×nprobe (qid, cell, qe) rows — THE broadcast side:
        // the cell-partitioned index scan streams against it (hash
        // join), so the big side never shuffles
        Similarity.rankByCosine(assignment
          .join(broadcast(probes.select("qid", "cell").join(q, "qid")), "cell")
          .filter(col("qid") =!= col("vec_id")), k, Seq("qid", "cell", "rnk", "vec_id", "cos"))
      case Sq8 =>
        Similarity.rankBySq8(assignment.select("vec_id", "q", "n2", "cell")
          .join(broadcast(probes.join(Similarity.sq8Queries(emb, nQueries), "qid")), "cell")
          .filter(col("qid") =!= col("vec_id")), k, Seq("qid", "rnk", "vec_id", "cell", "pn", "qcos"))
      case Pq(m, subDim, _) =>
        val codes = assignment.select("vec_id", "codes", "cell")
          .join(broadcast(probes.select("qid", "cell")), "cell")
          .select(col("qid"), col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
        val adc = Similarity.adcDistances(codes,
          Similarity.pqLookup(q, loadPqCentroids(spark, dir), m, subDim), Seq("qid", "sub", "code"))
        Similarity.rerankTopK(
          Similarity.topK(adc, col("adist"), PqRerankDepth, Seq("qid", "rnk", "vec_id")), q, assignment, k)
    }
  }

  // ==== stored incremental-dedup text index ==========================
  //
  // The on-disk form of the existing-corpus index Dedup.incrementalDedup
  // builds (exact fingerprints, shingle sets, MinHash band rows) — the
  // durability the session cache can't give: a restarted driver
  // reloads the index from parquet instead of re-shingling and
  // re-hashing the full corpus before it can classify the next batch.
  // Same manifest/append/compact lifecycle as the IVF family.
  //
  // Layout (declared once as shinglesTable, fingerprintsTable and
  // bandsTable; all three partitioned so classify prunes):
  //  - fingerprints/fpb=N/   (fp, doc_id)    — RAW rows, fpb =
  //    pmod(crc32(fp), 256) (256 buckets). Raw instead of the cached
  //    path's pre-aggregated fp → min(doc_id) so appends stay
  //    append-only; the min folds at classify time, scoped to the
  //    batch's fingerprint space.
  //  - shingles/db=N/        (doc_id, ss)    — ONE row per doc, its
  //    distinct word 3-grams (Dedup.shingleSets), db = doc_id mod 256.
  //    Verification reads ONLY the buckets holding candidate partners
  //    (≤256 literal partition values, driver-safe).
  //  - bands/band=B/         (bv, doc_id)    — UNCAPPED band rows (a
  //    fixed `bands` per doc — linear storage); the lshBucketCap
  //    population cap applies at CLASSIFY time over the probed buckets.
  //    Capping on read instead of on write is what makes the stored
  //    index equal-by-construction to rebuilding on the full accepted
  //    corpus: the cap keeps the lowest doc_ids per bucket, and that
  //    set is the same whether computed over one build or over
  //    build + appends, in ANY append order. (The cached path caps at
  //    build because its corpus is fixed for the session.)
  // The manifest records the geometry and `layout` 2; every entry point
  // refuses other values or none (a pre-`layout` index stored one row
  // per shingle and must be rebuilt).
  //
  // Cost model per classify: the batch's rows derive once
  // (Dedup.docIndex; a maintain appends them); index reads are one
  // fingerprint-bucket-pruned scan, one band scan semi-joined to the
  // batch's buckets, and one shingle-set scan pruned to candidate doc
  // buckets — columnar scans with rowgroup stats (tables are written
  // sorted), never a recompute of the corpus. Verification fan-in
  // stays bounded by the read-time cap as in the cached path.
  //
  // Append contract: append each accepted doc EXACTLY once (classify
  // already says which docs are new — the caller appends that split).
  // A re-appended doc_id duplicates its rows; a duplicated band row
  // takes a capped bucket slot. compactDedupIndex restores the
  // distinct invariants as defense in depth.

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
    writeIndexManifest(spark, dir,
      ("kind" -> "dedup_text") +: dedupIndex.geometry.map { case (k, v) => k -> v.toString })

  /** Build the stored dedup index at `dir` from the accepted corpus
    * ([[saveDedupTables]] in overwrite mode).
    */
  def writeDedupIndex(existing: DataFrame, dir: String): Unit =
    Dedup.withDocIndex(existing)(saveDedupTables(_, dir, SaveMode.Overwrite))

  /** Append an accepted batch to the stored dedup index — three
    * batch-proportional appends, no stored row rewritten. After the
    * append the index is equal-by-construction to [[writeDedupIndex]]
    * on the union corpus (raw fingerprints min-fold at read; shingles
    * are per-doc and doc_ids are new; the band cap applies at read).
    */
  def appendToDedupIndex(batch: DataFrame, dir: String): Unit = {
    openForMutation(batch.sparkSession, dir, dedupIndex, "appendToDedupIndex")
    Dedup.withDocIndex(batch)(saveDedupTables(_, dir, SaveMode.Append))
  }

  /** The one dedup-table writer behind [[writeDedupIndex]],
    * [[appendToDedupIndex]] and [[maintainDedupIndex]]: it writes rows
    * [[Dedup.docIndex]] derived, each table one file per partition
    * ([[TableLayout.save]]). A full overwrite is a new generation, so
    * it clears the tombstones: stale tombstones from
    * the previous index must not mask docs the new corpus legitimately
    * contains (the rule every IVF-family build follows) — without
    * this, a rebuilt-over index classifies exact copies of
    * previously-deleted doc_ids as 'new' forever. Either way the
    * manifest is rewritten, so any generation-keyed consumer of the
    * index misses its cache (fresh write_id).
    */
  private def saveDedupTables(rows: Dedup.DocIndex, dir: String,
      mode: SaveMode): Unit = {
    val spark = rows.ss.sparkSession
    def put(t: TableLayout, r: DataFrame): Unit = t.save(r, t.path(dir), mode)
    put(shinglesTable, rows.ss.withColumn("db", dedupDocBucket(col("doc_id"))))
    put(fingerprintsTable, rows.fp.select(col("fp"), col("doc_id"),
      dedupFpBucket(col("fp")).as("fpb")))
    put(bandsTable, rows.bands)
    if (mode == SaveMode.Overwrite) clearTombstones(spark, dir)
    dedupIndexManifest(spark, dir)
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
      dir: String, threshold: Double = 0.5): DataFrame =
    classifyStored(spark, batch, dir, threshold)((v, _) => v)

  /** Classify `batch`, then hand the verdicts and the batch's rows to
    * `use` before those rows are released. */
  private def classifyStored[T](spark: SparkSession, batch: DataFrame,
      dir: String, threshold: Double)(use: (DataFrame, Dedup.DocIndex) => T): T = {
    requireIndex(spark, dir, dedupIndex, "classifyWithDedupIndex")
    val b = Dedup.docIndex(batch)
    // takedown masking: identity when no delete ever happened; else a
    // broadcast anti-join on the tiny tombstone set, applied to the
    // stored side of BOTH match paths (below) before any fold or cap
    val tombs = tombstones(spark, dir, dedupIndex)
    // fingerprint store pruned to the batch's fp buckets (≤256 literal
    // values — bounded by the bucket grid, never by the batch), then
    // scoped to the batch's exact fingerprints before the min fold so
    // the aggregate is collision-sized, not bucket-sized (the mask
    // rides the collision-sized set too)
    val fpbs = b.fp.select(dedupFpBucket(col("fp")).as("fpb")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val exFp = tombs.mask(spark.read.parquet(fingerprintsTable.path(dir))
        .filter(col("fpb").isin(fpbs: _*))
        .join(b.fp.select("fp").distinct(), Seq("fp"), "left_semi"))
      .groupBy("fp").agg(min("doc_id").as("ex_exact"))
    // stored band rows in batch-touched buckets only, MASKED before
    // the read-time population cap (== the build-time cap a rebuild
    // on the filtered corpus would apply to these rows: a deleted doc
    // that held a capped slot frees it for the next lowest doc_id)
    val exCapped = Dedup.capBandRows(
      tombs.mask(spark.read.parquet(bandsTable.path(dir))
        .join(b.bands.select("band", "bv").distinct(), Seq("band", "bv"),
          "left_semi")))
    // consumers: the doc-bucket collect below and classifyCore's
    // verification, two queries that would each re-run the band join
    val cands = Dedup.bandCandidates(b.bands, exCapped).localCheckpoint()
    // shingle-set store pruned to candidate partners' doc buckets (≤256
    // literal partition values); the verification join keeps only the
    // candidate docs' rows. No tombstone mask needed here: candidates
    // come from the MASKED band rows above, so a deleted doc can never
    // appear as a doc_b
    val dbs = cands.select(dedupDocBucket(col("doc_b")).as("db")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val exSs = spark.read.parquet(shinglesTable.path(dir))
      .filter(col("db").isin(dbs: _*)).select("doc_id", "ss")
    val verdicts = Dedup.classifyCore(b.fp, exFp, b.ss, exSs, cands, threshold)
    org.apache.spark.sql.GraftShims.uncheckpoint(cands)
    try use(verdicts, b) finally org.apache.spark.sql.GraftShims.uncheckpoint(b.ss)
  }

  /** The production ingest loop as ONE operator: classify the batch
    * against the stored index, append the ACCEPTED split (verdict
    * 'new' — exact and near dups are dropped, the whole point of
    * ingest-time dedup), return the per-doc verdicts. The append writes
    * classify's own batch rows, filtered to the accepted doc_ids (equal
    * to re-deriving those docs: every row is per doc). Sequencing is
    * safe because [[Dedup.classifyCore]] materializes the verdict
    * frame eagerly — the append cannot leak into the classification
    * that decided it. Called per micro-batch this GROWS the index
    * between triggers, so a later batch's copy of an earlier batch's
    * accepted doc classifies exact/near — the sequential semantics the
    * ingest-loop oracle unrolls batch by batch. Cost per call:
    * classify plus an accepted-sized append; never a corpus scan.
    */
  def maintainDedupIndex(spark: SparkSession, batch: DataFrame,
      dir: String, threshold: Double = 0.5): DataFrame = {
    openForMutation(spark, dir, dedupIndex, "maintainDedupIndex")
    classifyStored(spark, batch, dir, threshold) { (verdicts, b) =>
      val accepted = verdicts.filter(col("verdict") === "new").select("doc_id")
      // an all-dup batch appends nothing — and must not touch the
      // manifest either (the index content did not change)
      if (!accepted.isEmpty) saveDedupTables(b.only(accepted), dir, SaveMode.Append)
      verdicts
    }
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
    }.rows
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
