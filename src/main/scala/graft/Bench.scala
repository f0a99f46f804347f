package graft

/** Driver-run benchmark: one JSON line with per-query seconds on
  * SPARK_GRAFT_SF_DIR. Queries are materialized through the noop sink —
  * count() would let Catalyst prune every computed column (a window
  * query would degenerate to a row count), noop forces full evaluation
  * of the projected output while writing nothing.
  */
object Bench {
  /** Headline queries: one per operator family, heaviest variants —
    * the stocks battery PLUS the heaviest LLM-pipeline extension ops
    * (simhash/minhash dedup, IVF search, contamination, cluster
    * resolution), so a perf regression in the north-star families moves
    * the gated number.
    */
  val headline: Seq[String] = Seq(
    "stocks_derive", "sma", "ma_gated", "bollinger", "rsi", "volatility",
    "ema_macd", "quality_flags", "merge_upsert", "perf_summary",
    "compare_pivot",
    "dedup_simhash_pairs", "dedup_minhash_lsh", "embed_ivf_topk",
    "contamination_check", "dedup_clusters",
    // round-8 families (the r≤7 16-query prefix is unchanged, so
    // round-over-round per-query comparison stays apples-to-apples;
    // the total now covers 20 queries)
    "text_nb_langid", "text_phrase_search", "embed_pca_power",
    "sketch_hist_quantiles",
    // round-9 families appended (r≤8 20-query prefix unchanged):
    // suffix-array dedup and the incremental-index append+serve path
    "dedup_suffix_repeats", "embed_ivf_append_search",
    // round-10 family appended (r≤9 22-query prefix unchanged): the
    // stored two-stage IVF-PQ serving path
    "embed_ivfpq_stored_search")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus)
    val qs = SparkEntry.queries
    val names = headline.filter(qs.contains) ++
      (if (sys.env.contains("SPARK_GRAFT_BENCH_ALL")) qs.keys.toSeq.sorted.diff(headline) else Nil)
    // Warm the exact query shapes once on the tiny SF so Catalyst
    // analysis, whole-stage codegen compilation, and AQE planning are
    // billed to warmup, not to the first timed run of each query (cold
    // JVM forensics: ~6 of compare_pivot's 12.5s cold was driver-side
    // compilation, warm it runs in 1.7s). The timed sfDir numbers then
    // measure execution.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    names.foreach { n =>
      try qs(n)(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] warm $n failed: $e") }
    }
    // min of timed reps per query: this box's wall clock swings
    // several-fold under external load bursts (PLANS.md measured a
    // 21-28 s headline spiking to 171 s under load-avg ~3), and min is
    // the standard noise-robust estimator for a deterministic workload.
    // Rep 1 at the timed SF also absorbs legitimate one-time costs
    // (the IVF quantizer trains once per corpus by design), so min
    // reflects the steady state a real deployment runs in.
    // Reps are INTERLEAVED round-robin (every query once, then the
    // whole list again) rather than back-to-back: a single multi-minute
    // burst can then land on at most one rep of each query, never on
    // both reps of the same query (BENCH_r04 recorded 29.9 s for a
    // 3.7 s query because a burst swallowed both adjacent reps). If the
    // two reps of a query still disagree by >3x, a third rep breaks the
    // tie — two bursts minutes apart hitting the same query both times
    // is the only way a contaminated min survives.
    // 1-minute load average read at the START of each rep: a rep timed
    // while an external burst holds the box is then self-certifying
    // from the artifact (a slow rep with load ≫ 1 is noise, not a
    // regression) instead of needing after-the-fact forensics
    def loadAvg(): Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.split(" ")(0).toDouble finally src.close()
      } catch { case _: Throwable => -1.0 }
    def timeOne(name: String): (Boolean, Double, Double) = {
      val la = loadAvg()
      val t0 = System.nanoTime()
      val ok =
        try { qs(name)(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); false }
      (ok, (System.nanoTime() - t0) / 1e9, la)
    }
    val round1 = names.map(timeOne)
    val round2 = names.map(timeOne)
    val round3 = names.indices.flatMap { i =>
      val (ok1, t1, _) = round1(i); val (ok2, t2, _) = round2(i)
      val spread = math.max(t1, t2) / math.max(math.min(t1, t2), 1e-9)
      if (!ok1 || !ok2 || spread > 3.0) Some(i -> timeOne(names(i))) else None
    }.toMap
    // a failed rep must never enter the min — a fast analysis error
    // would otherwise mask a real measurement with a near-zero time;
    // if every rep fails, report the max elapsed so the failure is
    // visible in the number too (stderr carries the exception)
    val results = names.zipWithIndex.map { case (name, i) =>
      val reps = Seq(round1(i), round2(i)) ++ round3.get(i)
      val good = reps.collect { case (true, t, _) => t }
      // min = the headline steady-state metric (noise-robust, absorbs
      // legitimate once-per-corpus costs like quantizer training into
      // rep 1); max carries the cold/first-rep cost so cache-hit
      // accounting is auditable from the artifact itself, not only
      // from PLANS.md. All-failed keeps reporting the max elapsed in
      // both slots so the failure stays visible in the number.
      val loads = reps.map(_._3)
      name -> (if (good.nonEmpty) (good.min, good.max, loads)
               else { val m = reps.map(_._2).max; (m, m, loads) })
    }
    def jmap(f: ((Double, Double, Seq[Double])) => Double): String =
      results.map { case (k, v) => "\"" + k + "\":" + f(v) }
        .mkString("{", ",", "}")
    // 4-decimal seconds for the stdout line: 0.1 ms resolution is far
    // below this box's run-to-run noise, and the driver's BENCH_r{N}
    // artifact keeps only a 2000-char TAIL of stdout — r17's
    // full-precision line grew to 2150 chars and the driver recorded
    // "parsed": null for the whole round. The full-precision min/max/
    // load maps still land in the SPARK_GRAFT_BENCH_OUT file below.
    def jmap4(f: ((Double, Double, Seq[Double])) => Double): String =
      results.map { case (k, v) => "\"" + k + "\":" + f"${f(v)}%.4f" }
        .mkString("{", ",", "}")
    val jload = results.map { case (k, (_, _, ls)) =>
      "\"" + k + "\":" + ls.map(l => f"$l%.2f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    // self-describing artifact: the full-line file is overwritten by
    // every run whether headline-only or full-surface, so the line itself
    // must carry the run mode, the query count, and a sweep id —
    // round-over-round tooling can then detect a surface change instead
    // of silently comparing a 23-query headline against a 313-query
    // sweep (and the committed sweep's identity no longer lives only in
    // PLANS.md prose)
    val mode = if (sys.env.contains("SPARK_GRAFT_BENCH_ALL")) "all" else "headline"
    val sweepId = java.time.Instant.now().toString
    val line = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""mode":"$mode","n_queries":${names.size},"sweep_id":"$sweepId",""" +
      s""""queries":${jmap(_._1)},"queries_max":${jmap(_._2)},""" +
      s""""load":$jload,"sf":"$sfDir"}"""
    // stdout carries the compact contract line (same keys minus the
    // max/load diagnostics, seconds at 4dp) so the driver's 2000-char
    // stdout tail always contains one parseable JSON line for the
    // headline surface; the full-fidelity line goes to the
    // SPARK_GRAFT_BENCH_OUT file
    val stdoutLine = s"""{"metric":"total","value":${f"$total%.4f"},""" +
      s""""unit":"sec","mode":"$mode","n_queries":${names.size},""" +
      s""""sweep_id":"$sweepId","queries":${jmap4(_._1)},"sf":"$sfDir"}"""
    println(stdoutLine)
    // the driver's BENCH_r{N}.json keeps only a 2000-char tail of
    // stdout, which truncates the headline JSON into an unparseable
    // fragment once the surface is large; SPARK_GRAFT_BENCH_OUT names a
    // file for the FULL line — only on request, so a run never
    // overwrites a committed artifact as a side effect
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { out =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $out: $e") }
    }
    spark.stop()
  }
}
