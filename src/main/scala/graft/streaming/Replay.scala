package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Shared scaffolding for the bounded index-mutating replays
  * ([[DedupStream]], [[BpeStream]], [[IvfStream]]): file-drop
  * readStream at one drop per trigger → foreachBatch → AvailableNow,
  * plus an IDEMPOTENCY guard. `foreachBatch` is at-least-once — a
  * trigger that fails after its side effect but before the checkpoint
  * commit is re-delivered with the SAME batch id — so each applied
  * batch leaves a marker under the checkpoint dir and a re-delivered
  * id skips its body. The markers share the checkpoint's lifecycle
  * exactly: a production restart that retains the checkpoint retains
  * the applied set; a bounded replay that clears its checkpoint (this
  * entry point) clears the markers with it. The remaining window — a
  * crash BETWEEN the side effect and the marker write — re-applies
  * once; every caller's mutation tolerates that by construction
  * (append-only rows folded at read / compact-recoverable duplication
  * / tombstone-wins deletes), which is why the side effects are
  * index-layer appends rather than row rewrites.
  */
private[graft] object Replay {

  /** The (doc_id, text) drop schema shared by the document replays. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private[graft] def deleteRecursively(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().foreach(c => deleteRecursively(c.getPath))
    f.delete(): Unit
  }

  // underscore-prefixed so a checkpoint-dir listing (and any Spark
  // path discovery) treats it as hidden metadata
  private def marker(checkpointDir: String, id: Long) =
    new java.io.File(s"$checkpointDir/_graft_applied/b$id")

  def replayWith(spark: SparkSession, dropGlob: String,
      checkpointDir: String, dropSchema: StructType,
      clearDirs: Seq[String] = Nil)(
      apply: (DataFrame, Long) => Unit): Unit = {
    deleteRecursively(checkpointDir)
    clearDirs.foreach(deleteRecursively)
    val stream = spark.readStream
      .schema(dropSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dropGlob)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val m = marker(checkpointDir, id)
        if (!m.exists() && !batch.isEmpty) {
          apply(batch, id)
          m.getParentFile.mkdirs()
          m.createNewFile(): Unit
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The CDC replay shared by the index families: each drop row is a
    * `rowSchema` row plus `op` — "add", or "delete" (only the id
    * matters). One pass counts the ops, and an op this replay doesn't
    * know FAILS the stream instead of silently vanishing from the
    * index; then the add rows go to `add` and the delete rows to
    * `delete`, in that order.
    */
  def cdcReplayWith(spark: SparkSession, dropGlob: String,
      checkpointDir: String, rowSchema: StructType)(
      add: DataFrame => Unit, delete: DataFrame => Unit): Unit =
    replayWith(spark, dropGlob, checkpointDir,
      rowSchema.add(StructField("op", StringType))) { (batch, _) =>
      val ops = batch.groupBy("op").count().collect()
        .map(r => Option(r.getString(0)).getOrElse("<null>") -> r.getLong(1))
        .toMap
      val unknown = ops.keySet -- Set("add", "delete")
      require(unknown.isEmpty,
        s"runCdcReplay: unknown op(s) ${unknown.mkString(", ")} in drop — " +
          "these rows would be silently dropped; ops are 'add' | 'delete'")
      if (ops.getOrElse("add", 0L) > 0) add(batch.filter(col("op") === "add"))
      if (ops.getOrElse("delete", 0L) > 0)
        delete(batch.filter(col("op") === "delete"))
    }
}
