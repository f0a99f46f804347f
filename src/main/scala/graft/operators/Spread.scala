package graft.operators

import org.apache.spark.sql.DataFrame

/** Shared guard for spreading a SMALL file-backed table across the
  * cluster before CPU-heavy narrow projections (shingling, regex
  * batteries, decode stages): a one-file parquet scan otherwise
  * serializes the whole chain onto a single task. Round-robin is safe
  * for every caller — they all re-group or re-order by doc_id.
  *
  * Guards, in order:
  * - `inputFiles` (a plan inspection — runs NO job, and unlike
  *   `df.rdd.getNumPartitions` does NOT materialize AQE shuffle stages
  *   on plans that contain an exchange) decides whether the source is
  *   narrower than the cluster. A corpus at scale arrives in thousands
  *   of files and skips the shuffle — round-robin-moving the full text
  *   payload of a wide input is the biggest exchange in the pipeline
  *   for zero parallelism gain.
  * - Non-file plans (in-memory test frames, pre-shuffled inputs) and
  *   streaming frames (each micro-batch is planned by the stream) are
  *   returned untouched: they already carry their parallelism.
  *
  * Deliberately NO byte-size guard: every caller runs a CPU-heavy
  * chain (md5 polynomials, regex batteries) where even a few MB of
  * one-file input deserves full-width tasks — bytes are the wrong
  * proxy for that work. If you reuse this for a CHEAP projection over
  * a small dimension table, don't: the exchange would cost more than
  * the single task it replaces.
  */
private[graft] object Spread {
  def spread(docs: DataFrame): DataFrame = {
    val np = docs.sparkSession.sparkContext.defaultParallelism
    val nFiles = if (docs.isStreaming) 0 else docs.inputFiles.length
    if (nFiles == 0 || nFiles >= np) docs else docs.repartition(np)
  }
}
