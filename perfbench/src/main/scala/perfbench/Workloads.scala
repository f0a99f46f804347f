package perfbench

/** A benchmark workload: the registry queries one pass runs, and the
  * input tables whose handles set-up resolves.
  *
  * @param stocks whether passes build the derived `stocks` relation
  *               (`Tables.stocks`) before the queries
  * @param cold   number of cache-cold passes
  * @param warm   number of warm passes
  */
final case class Workload(name: String, tables: Seq[String], stocks: Boolean,
    queries: Seq[String], cold: Int, warm: Int, why: String)

object Workloads {
  /** Query lists are subsets of the registry families named in each
    * `why`, and pass counts are set per workload, so one run (set-up,
    * passes, digests) stays near one minute on four cores; the short,
    * noisier passes get more repetitions.
    */
  val all: Seq[Workload] = Seq(
    Workload("ohlcv_daily", Seq("lineitem"), stocks = true,
      Seq("ingest_adaptive", "merge_upsert", "sma", "ema_macd", "compare_pivot"),
      cold = 3, warm = 8,
      "the reference pipeline: ingest, upsert, indicators and a dashboard pivot " +
        "over derived OHLCV bars; small jobs, so planning and scheduling dominate"),
    Workload("index_lifecycle", Seq("embeddings"), stocks = false,
      Seq("embed_ivf_append_search"),
      cold = 2, warm = 6,
      "stored IVF index write and append inside the query call, then a lazy " +
        "search over the stored files; the index build trains its centroids " +
        "through the Similarity session caches (checkpointed), so cold passes retrain"))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
