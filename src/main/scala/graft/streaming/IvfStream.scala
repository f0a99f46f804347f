package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.operators.Sink

/** Streaming maintenance of a stored IVF index: vector batches arrive
  * as file drops and each micro-batch folds into the index THROUGH the
  * batch append path ([[Sink.appendToIvfIndex]] inside foreachBatch —
  * assign against the STORED centroids, append cell-partitioned, no
  * retrain). The index is immediately servable between batches; the
  * replay's final search result is identical to appending the whole
  * batch at once, because appends are a set union of assignment rows
  * and the assignment of each vector depends only on the frozen
  * centroids — order-invariant by construction.
  *
  * State at scale: NONE in the streaming engine (foreachBatch is
  * stateless); the index on disk is the state, growing by exactly the
  * arrived vectors. This is the production ingestion shape for a
  * continuously-fed ANN index, with [[Sink.ivfAppendDrift]] as the
  * per-batch retrain tripwire.
  */
object IvfStream {

  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Recursive delete for the per-run checkpoint: the replay must
    * re-process every drop on each evaluation (a stale checkpoint
    * would silently skip them after the index reset). Shared with the
    * other replay families ([[Replay.deleteRecursively]]).
    */
  private[graft] def deleteRecursively(path: String): Unit =
    Replay.deleteRecursively(path)

  /** Bounded replay: process every vector drop (one file per trigger),
    * appending each micro-batch into the stored index at `indexDir`
    * through [[Sink.appendToIvfIndex]] — any codec: cells and payload
    * (PQ codes included) depend only on the frozen stored artifacts,
    * so the order-invariance argument holds for every layout.
    */
  def runAppendReplay(spark: SparkSession, dropGlob: String,
      indexDir: String, checkpointDir: String): Unit =
    replayWith(spark, dropGlob, checkpointDir)(
      (batch, _) => Sink.appendToIvfIndex(batch, indexDir))

  /** Drift-AWARE streaming maintenance — the full production control
    * loop on the drop cadence, for any codec: each micro-batch takes
    * the composed [[Sink.maintainIvfIndex]] decision (PSI pre-flight —
    * plus the code PSI on a PQ index → append against the frozen
    * artifacts, OR retrain on stored ∪ batch when the batch has
    * drifted; compaction when the file-count cadence hits) and its
    * one-row decision log lands in an append-only parquet log at
    * `logDir`, stamped with the micro-batch ordinal — maintenance
    * becomes a QUERYABLE audit table, not a side effect. When no batch
    * drifts, the served index is bit-identical to a one-shot append of
    * all drops (the [[runAppendReplay]] order-invariance argument,
    * compaction-safe by the compact spec); a drifted drop flips its
    * batch to a retrain and subsequent drops fold into the NEW
    * generation (IvfAppendSpec drives that path).
    */
  def runMaintainReplay(spark: SparkSession, dropGlob: String,
      indexDir: String, checkpointDir: String, logDir: String,
      threshold: Double = 0.25, compactFilesPerCell: Int = 4): Unit =
    replayWith(spark, dropGlob, checkpointDir) { (batch, id) =>
      Sink.maintainIvfIndex(spark, batch, indexDir,
          threshold = threshold, compactFilesPerCell = compactFilesPerCell)
        .withColumn(
          "batch_id", org.apache.spark.sql.functions.lit(id))
        .write.mode("append").parquet(logDir)
    }

  /** CDC-shaped streaming ingestion — drops carry ADDS and DELETES
    * through one stream: each micro-batch appends its "add" rows
    * against the frozen centroids and tombstones its "delete" ids
    * ([[Sink.deleteFromIvfIndex]]). Replay order is irrelevant AS LONG
    * AS no id is re-added after its delete: appends are a set union,
    * and a tombstone masks its id whether it was written before or
    * after the row arrived (tombstone-wins — the deleteFromIvfIndex
    * contract; there is no sequence ordering between a delete and a
    * later re-insert of the SAME id, so a CDC feed that resurrects ids
    * must compact between the delete and the re-add).
    */
  def runCdcReplay(spark: SparkSession, dropGlob: String,
      indexDir: String, checkpointDir: String): Unit =
    Replay.cdcReplayWith(spark, dropGlob, checkpointDir, schema)(
      add = b => Sink.appendToIvfIndex(b.select("vec_id", "embedding"), indexDir),
      delete = b => Sink.deleteFromIvfIndex(spark, indexDir, b.select("vec_id")))

  private def replayWith(spark: SparkSession, dropGlob: String,
      checkpointDir: String)(append: (DataFrame, Long) => Unit): Unit =
    Replay.replayWith(spark, dropGlob, checkpointDir, schema)(append)
}
