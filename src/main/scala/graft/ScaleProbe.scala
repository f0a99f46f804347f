package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Classify, Dedup, Similarity, TextOps}

/** Scale probe for the heavy dedup/similarity operators: replicate the
  * sf0.1 documents/embeddings corpus ×N (default 10 → an sf1-equivalent
  * row count) and time the five heaviest pipeline operators on it, so
  * the 100 TB plan-shape arguments (capped LSH buckets, count-gated
  * clustering, bloom-prefiltered contamination, cell-bucketed semdedup)
  * carry at least one measured scaling point instead of being argument-
  * only.
  *
  * Replicas are made DISTINCT on purpose: every token gets a per-replica
  * prefix (so every shingle/minhash/simhash signature differs across
  * replicas) and every embedding component gets a deterministic
  * per-replica perturbation (so replicas don't collapse into cos=1
  * twins). A naive byte-copy replication would instead multiply the
  * near-dup cluster sizes — measuring a pathological corpus, not a
  * bigger one. Inputs are localCheckpoint'd so generation cost is not
  * billed to the operators.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.ScaleProbe [factor]
  * Prints one JSON line {"factor":N,"queries":{name:sec,...}}.
  */
object ScaleProbe {

  def replicateDocs(docs: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { r =>
      docs.select(
        (col("doc_id") + lit(r * 10000000L)).as("doc_id"),
        // prefix EVERY token so no shingle survives across replicas
        concat(lit(s"r${r}_"), regexp_replace(col("text"), " ", s" r${r}_"))
          .as("text"))
    }.reduce(_ unionByName _)

  /** Events replicas: distinct user spaces per replica (so per-key
    * distributions replicate instead of hot keys inflating ×N) with
    * event ids offset; timestamps unchanged — the hourly grid stays
    * calendar-bounded, each hour just carries ×N the rows, which is
    * exactly how a bigger deployment looks.
    */
  def replicateEvents(ev: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { r =>
      ev.select(
        (col("event_id") + lit(r * 100000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(r * 10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)

  /** Every doc prefixed with one shared 19-word boilerplate — the
    * pathological corpus for the suffix-cap probe: positions 1..15
    * all bucket inside the boilerplate, so FIFTEEN corpus-sized
    * buckets form, each sorting keys whose first ~15-19 words are
    * identical (maximum-cost comparisons — the true straggler shape;
    * a short boilerplate only makes cheap-compare buckets and the
    * corpus-wide mining cost hides the sort).
    */
  def boilerDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(lit("terms of service apply to all visitors of this site " +
        "and govern your access to every feature provided here "),
        col("text")).as("text"))

  def replicateEmb(emb: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { r =>
      emb.select(
        (col("vec_id") + lit(r * 10000000L)).as("vec_id"),
        // deterministic per-(replica, dim) perturbation decorrelates
        // replicas (cosine is scale-invariant, so a plain scalar
        // multiple would leave every replica a cos=1 twin)
        expr(s"transform(embedding, (x, i) -> cast(x + sin((i + 1) * ${r + 1}) * 0.3d as float))")
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    // optional trailing args restrict to the named operators — a ×100
    // point of one op must not require re-running the whole battery
    val only = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)

    val docs = replicateDocs(
      Tables.documents(spark, sfDir).select("doc_id", "text"), factor)
      .repartition(cpus.toInt).localCheckpoint()
    val emb = replicateEmb(
      Tables.embeddings(spark, sfDir), factor)
      .repartition(cpus.toInt).localCheckpoint()
    lazy val events = replicateEvents(Tables.events(spark, sfDir), factor)
      .repartition(cpus.toInt).localCheckpoint()
    System.err.println(s"[probe] docs=${docs.count()} emb=${emb.count()} factor=$factor")

    def time(name: String)(f: => DataFrame): Option[(String, Double)] = {
      if (only.nonEmpty && !only(name)) return None
      val t0 = System.nanoTime()
      val n =
        try { f.write.format("noop").mode("overwrite").save(); "ok" }
        catch { case e: Throwable => System.err.println(s"[probe] $name FAILED: $e"); "fail" }
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[probe] $name%-24s $dt%8.2f s ($n)")
      Some(name -> dt)
    }

    val results = Seq(
      time("dedup_simhash_pairs") { Dedup.simhashNearDups(docs, 3) },
      time("dedup_minhash_lsh") { Dedup.minhashLshPairs(docs, 0.5) },
      time("dedup_clusters") {
        val pairs = Dedup.simhashNearDups(docs, 3).select("doc_a", "doc_b")
        Dedup.dedupVerdicts(docs, pairs)
      },
      time("contamination_bloom") {
        // first half of the replicas as train, second half as eval:
        // both sides scale with the factor
        val replica = expr("doc_id div 10000000")
        val train = docs.filter(replica < lit(factor / 2))
        val eval = docs.filter(replica >= lit(factor / 2))
        Dedup.contaminationBloom(train, eval, 8)
      },
      // cells scale WITH the corpus (fixed ~250-vector cell size, the
      // IVF rule): intra-cell candidate volume is (N/cells)²·cells, so a
      // fixed cell count is quadratic in N — measured 177 s at ×10 with
      // the test-scale cells=8 vs near-linear once cells ∝ N
      time("embed_semdedup") {
        Similarity.semDedup(emb, 0.95, cells = 8 * factor, iters = 2) },
      // the two-level split: same total cell count (coarse·fine =
      // 8·factor) so the pairing term matches the flat run above, but
      // assignment costs N·(coarse+fine) ≈ N·2√cells instead of N·cells
      time("embed_semdedup_2level") {
        val side = math.max(2, math.ceil(math.sqrt(8.0 * factor)).toInt)
        Similarity.semDedupTwoLevel(emb, 0.95,
          coarseCells = side, fineCells = side, iters = 2) },
      // the production default: semDedupAuto sizes cells = ceil(sqrt(N))
      // and picks the rung itself (two-level at every probe factor) —
      // the N·(coarse+fine) assignment law is measured on THIS path
      time("embed_semdedup_auto") {
        Similarity.semDedupAuto(emb, 0.95, 2) },
      // round-15: the FIXED-CELL-SIZE rung (cells = ceil(N/64), the
      // funnelEmbed stage): per-cell population constant ⇒ the pair
      // term is N·size (linear — the auto rung's ∝√N cells made it
      // N^1.5), sampled training on both levels, hiRankCap skew bound.
      // maxFlatCells forced past the grid so this row keeps measuring
      // the FLAT sized stage (comparable to the r15 recordings) now
      // that the production default would route two-level here
      time("embed_semdedup_sized") {
        Similarity.semDedupSized(emb, 0.95, targetCellSize = 64, iters = 2,
          maxFlatCells = Int.MaxValue) },
      // round-18: the PRODUCTION default (maxFlatCells = 64): at every
      // probe factor cells = ceil(N/64) > 64, so this times the
      // TWO-LEVEL sized rung exactly where it engages naturally —
      // side = ceil(sqrt(cells)) coarse cells, per-parent fine
      // training, same constant cell population ⇒ expect ~linear in
      // the factor; a super-linear term here means the per-parent fine
      // training is growing with the corpus, not the geometry
      time("embed_semdedup_sized_twolevel") {
        Similarity.semDedupSized(emb, 0.95, targetCellSize = 64, iters = 2) },
      // round-8 additions: NB classifier (corpus-linear explode + vocab
      // joins), positional phrase search (pruned postings), PCA scatter
      // (4096× per-row compute amplification, map-side combined)
      time("text_nb_langid") {
        Classify.nbLangScores(docs.withColumn("lang",
          concat(lit("l"), pmod(col("doc_id"), lit(5))))) },
      time("text_phrase_search") { TextOps.phraseSearch(docs, 5) },
      time("embed_pca_power") { Similarity.pcaPowerTop(emb) },
      // events family: linear aggregation shapes over replicated users
      time("skew_key_stats") { graft.operators.Skew.keySkewStats(events) },
      time("sketch_cms_join_size") {
        graft.operators.Sketch.cmsSelfJoinSize(events) },
      time("events_cusum") {
        graft.operators.EventsOps.cusumBursts(events) },
      // round-9: suffix-array dedup — per-replica token prefixes keep
      // every bucket replica-local, so bucket populations stay fixture-
      // sized while bucket COUNT scales ×N: the parallel-across-buckets
      // claim is exactly what this measures
      time("dedup_suffix_repeats") {
        Dedup.suffixRepeats(docs, 5, 20) },
      // the removal step on top of the mining: flagged-position
      // explode + anti-join + per-doc reassembly, all doc_id-keyed
      time("dedup_suffix_scrub") {
        Dedup.suffixScrub(docs, 5, 20) },
      // incremental-index append: train on the UNREPLICATED corpus
      // (fixed cost), assign the ×N batch against the frozen centroids
      // — the append path's only data-sized stage; cost must be
      // proportional to the BATCH, one broadcast-join pass
      time("embed_ivf_append_assign") {
        val base = Tables.embeddings(spark, sfDir)
        Similarity.assignWithCentroids(emb, Similarity.kmeansCentroids(base, 8, 2))
      },
      // round-13: the SQ8 tier vs the float32 brute scan at the same
      // factor — same plan shape (broadcast queries, per-qid window),
      // 4× less data under the dot products; and the diversity sampler
      // whose window runs per cell (cells ∝ factor, partitions stay
      // fixture-sized)
      time("embed_sq8_topk") { Similarity.sq8TopK(emb, 10, 3) },
      time("embed_brute_topk") { Similarity.bruteForceTopK(emb, 10, 3) },
      // the composed tier, training and serving timed SEPARATELY:
      // flat Lloyd's with cells ∝ factor is the once-per-corpus
      // training cost (N·cells — 272 s at ×100, same class as every
      // index build; production trains on a sample); SERVING with the
      // cached quantizer is one linear codes pass + a constant-sized
      // probed candidate set, and must stay near-flat across factors
      time("embed_ivf_sq8_train") {
        // populates BOTH session caches (assignment + centroids) via
        // the multiprobe entry point — the serving rep must not retrain
        Similarity.ivfMultiProbeTopK(emb, 1, 1, 8 * factor, 2, 1,
          corpusKey = Some("probe-ivfsq8"))
      },
      time("embed_ivf_sq8_topk") {
        Similarity.ivfSq8TopK(emb, 10, 3, cells = 8 * factor, iters = 2,
          nprobe = 2, corpusKey = Some("probe-ivfsq8"))
      },
      time("sample_cluster_balanced") {
        Similarity.clusterBalancedSample(emb, cells = 8 * factor, iters = 2,
          cap = 10)
      },
      // round-14: the SAMPLED trainer at scale — the fix for the one
      // measured super-linear cost left (flat Lloyd's training with
      // cells ∝ N: 167 s at ×100, r13 probe table). Sampled = the
      // 65536-row default cap (bites above ×32); full = the uncapped
      // twin; both timers include the one full-corpus assignment pass.
      // The recall probe quantifies what the cap costs: each
      // quantizer's IVF search vs the same brute-force ground truth.
      time("ivf_train_sampled") {
        Similarity.kmeansAssignCached(emb, 8 * factor, 2, "probe-tr-sampled")
      },
      time("ivf_train_full") {
        Similarity.kmeansAssignCached(emb, 8 * factor, 2, "probe-tr-full",
          sampleRows = Int.MaxValue)
      },
      // the regime the sampled trainer exists for: each EXTRA Lloyd's
      // round costs a corpus×cells pass when training on the corpus but
      // only a sample×cells pass on the cap — at iters=2 both converge
      // to the shared final full-assignment pass, at iters=4 the gap is
      // (iters−1)·(N−S)·cells pair evaluations
      time("ivf_train_sampled_i4") {
        Similarity.kmeansAssignCached(emb, 8 * factor, 4, "probe-tr-sampled4")
      },
      time("ivf_train_full_i4") {
        Similarity.kmeansAssignCached(emb, 8 * factor, 4, "probe-tr-full4",
          sampleRows = Int.MaxValue)
      },
      time("ivf_sampled_search") {
        Similarity.ivfTopK(emb, 10, 3, 8 * factor, 2,
          corpusKey = Some("probe-tr-sampled"))
      },
      {
        if (only.isEmpty || only("ivf_sampled_recall")) {
          val bf = Similarity.bruteForceTopK(emb, 10, 3)
            .select("qid", "vec_id")
          def recall(tag: String, sr: Int): Double = {
            val iv = Similarity.ivfTopK(emb, 10, 3, 8 * factor, 2,
                corpusKey = Some(tag), sampleRows = sr)
              .select("qid", "vec_id").withColumn("__h", lit(1))
            bf.join(iv, Seq("qid", "vec_id"), "left")
              .agg(sum(coalesce(col("__h"), lit(0))))
              .head().getLong(0) / 30.0
          }
          // r15: three regimes — the r14 flat cap (the measured recall
          // cliff at large cell counts), the AUTO default
          // (max(65536, 256·cells) — recall parity is the default now),
          // and the full trainer as ground truth
          val rFlat = recall("probe-tr-flat65536", Similarity.defaultTrainSample)
          val rAuto = recall("probe-tr-sampled", Similarity.AutoTrainSample)
          val rf = recall("probe-tr-full", Int.MaxValue)
          System.err.println(
            f"[probe] ivf_sampled_recall      flat65536=$rFlat%.4f auto=$rAuto%.4f full=$rf%.4f")
        }
        None
      },
      // round-13: the composed curation funnel — manifest chain
      // (simhash pairs + clean signals) + ONE pooled scoring pass +
      // histogram calibration; every stage doc_id/lang-keyed, the
      // funnel window is 5 rows
      time("corpus_funnel") {
        val pairs = Dedup.simhashNearDups(docs, 3).select("doc_a", "doc_b")
        graft.operators.Corpus.funnel(
          docs.withColumn("lang", concat(lit("l"), pmod(col("doc_id"), lit(5)))),
          pairs)
      },
      // round-14/15: the funnel with the embedding stage — one semdedup
      // over the TEXT SURVIVORS added to the funnel chain. Round 15
      // moved the stage to FIXED cell size 64 (cells = ceil(N/64)):
      // per-cell population is constant, so the intra-cell pair term
      // is N·size (linear — the ∝√N auto rung made it N^1.5, the
      // round-14 weak rating: ~6× time on 10× data), training is
      // sampled on both assignment levels, and hiRankCap bounds skew
      time("corpus_funnel_embed") {
        val pairs = Dedup.simhashNearDups(docs, 3).select("doc_a", "doc_b")
        graft.operators.Corpus.funnelEmbed(
          docs.withColumn("lang", concat(lit("l"), pmod(col("doc_id"), lit(5)))),
          pairs, emb, tau = 0.4)
      },
      // round-16: the mix pipeline end-to-end WITH token-level pack
      // splitting — budget scales with the corpus so the instance
      // stream does too; the split explode adds one row per straddle
      // (linear), the prefix sum is the 256-bucket two-pass, sharding
      // is one hash exchange, packing a per-shard running sum. Shards
      // scale with the corpus (production sets them ≥ write
      // parallelism), so the per-shard window never becomes the bound.
      time("mix_pack_split") {
        graft.operators.Corpus.mixPackShard(
          docs.withColumn("source",
            concat(lit("src"), pmod(col("doc_id"), lit(8)))),
          budget = 1000000L * factor, capacity = 2048L,
          shards = 8 * factor, splitAtBoundary = true)
      },
      // round-10: the suffix-bucket population cap under a PLANTED
      // pathological corpus — every document opens with the same
      // 19-word boilerplate, so the suffixes at positions 1..15 land
      // in fifteen corpus-sized buckets (each shares a ≥5-word prefix
      // inside the boilerplate). The capped path must stay flat (over-cap
      // buckets emit rep_len = minLen as a projection, no sort); the
      // exact twin measures what the cap saves (one straggler task
      // sorting N-member buckets with long-common-prefix compares).
      time("suffix_boiler_capped") {
        Dedup.suffixRepeats(boilerDocs(docs), 5, 20, bucketCap = 1000)
      },
      time("suffix_boiler_exact") {
        Dedup.suffixRepeats(boilerDocs(docs), 5, 20)
      },
      // round-10: SERVING cost of the co-located stored index. Cells
      // scale with the corpus (fixed ~600-vector cell size, the IVF
      // rule), so the probed-partition scan is CONSTANT-sized across
      // factors — search time should stay flat while the corpus grows
      // ×N, which is exactly the join-free-serving claim. The index
      // build runs outside the timer (train+write is the once-per-
      // corpus cost; ivf_append_assign above measures its scaling).
      {
        if (only.isEmpty || only("ivf_stored_search")) {
          val dir = java.nio.file.Files
            .createTempDirectory("probe_ivfidx").toString
          graft.operators.Sink.writeIvfIndex(emb, dir, graft.operators.Sink.Flat,
            graft.operators.Sink.Cells(8 * factor), iters = 2)
          time("ivf_stored_search") {
            graft.operators.Sink.searchIvfIndex(spark, emb, dir, 10, 3)
          }
        } else None
      },
      // round-14: the persisted SQ8 tier — serving reads the (vec_id,
      // q, n2) projection of the probed cells only; like
      // ivf_stored_search the probed scan is constant-sized across
      // factors (cells ∝ factor), so stored int8 serving must stay flat
      {
        if (only.isEmpty || only("ivfsq8_stored_search")) {
          val dir = java.nio.file.Files
            .createTempDirectory("probe_ivfsq8idx").toString
          graft.operators.Sink.writeIvfIndex(emb, dir,
            graft.operators.Sink.Sq8, graft.operators.Sink.Cells(8 * factor), iters = 2)
          time("ivfsq8_stored_search") {
            graft.operators.Sink.searchIvfIndex(spark, emb, dir, 10, 3,
              nprobe = 2)
          }
        } else None
      },
      // round-15: the same serving through the SIZED build API (cells =
      // ceil(N/size), fixed per-cell population) + the probed-subdir
      // read — serving now LISTS only the probed cells instead of the
      // whole cells-∝-N tree, which was the 1.6×/decade growth term of
      // the r14 row above. This row must stay ~flat across the decade.
      {
        if (only.isEmpty || only("ivfsq8_sized_search")) {
          val dir = java.nio.file.Files
            .createTempDirectory("probe_ivfsq8sized").toString
          val nc = graft.operators.Sink.writeIvfIndex(emb, dir,
            graft.operators.Sink.Sq8, graft.operators.Sink.CellSize(250), iters = 2)
          System.err.println(s"[probe] ivfsq8_sized cells=$nc")
          time("ivfsq8_sized_search") {
            graft.operators.Sink.searchIvfIndex(spark, emb, dir, 10, 3,
              nprobe = 2)
          }
        } else None
      }).flatten ++ {
      // round-12: stored-search AGING — the compaction scaladoc's
      // file-count→latency claim put on a measured footing. Build the
      // index incrementally (half the corpus as base, the rest in 8
      // full-width append batches → 9 files/cell), then serve the same
      // probe (a) fresh 1-file-per-cell, (b) aged 9-files-per-cell,
      // (c) post-compaction — (b)−(a) is the pure file-count tax (the
      // data under the probe is half vs full corpus, so compare (b)
      // against (c), same rows, different layout), and the compaction
      // cost itself is timed as the price of removing it.
      if (only.isEmpty || only("ivf_aging")) {
        import graft.operators.Sink
        def timeRaw(name: String)(f: => Unit): (String, Double) = {
          val t0 = System.nanoTime()
          val n = try { f; "ok" }
            catch { case e: Throwable =>
              System.err.println(s"[probe] $name FAILED: $e"); "fail" }
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[probe] $name%-24s $dt%8.2f s ($n)")
          name -> dt
        }
        val dir = java.nio.file.Files
          .createTempDirectory("probe_ivfage").toString
        val repl = expr("vec_id div 10000000")
        val half = math.max(1, factor / 2)
        Sink.writeIvfIndex(emb.filter(repl < half), dir,
          Sink.Flat, Sink.Cells(8 * factor), iters = 2)
        val fresh = timeRaw("ivf_aging_fresh_search") {
          Sink.searchIvfIndex(spark, emb, dir, 10, 3)
            .write.format("noop").mode("overwrite").save()
        }
        val rest = emb.filter(repl >= half)
        (0 until 8).foreach { b =>
          Sink.appendToIvfIndex(
            rest.filter(pmod(col("vec_id"), lit(8)) === b), dir)
        }
        val filesAged = Sink.countDataFiles(spark, s"$dir/assignment")
        val aged = timeRaw("ivf_aging_aged_search") {
          Sink.searchIvfIndex(spark, emb, dir, 10, 3)
            .write.format("noop").mode("overwrite").save()
        }
        val compact = timeRaw("ivf_aging_compact") {
          Sink.compactIvfIndex(spark, dir)
        }
        val filesCompacted = Sink.countDataFiles(spark, s"$dir/assignment")
        val post = timeRaw("ivf_aging_compacted_search") {
          Sink.searchIvfIndex(spark, emb, dir, 10, 3)
            .write.format("noop").mode("overwrite").save()
        }
        // re-fragment NARROWLY — three skewed batches landing only in
        // the first 5% of cells (the regime selective compaction
        // exists for; full-width fragmentation routes to the full
        // rewrite via the adaptive guard) — then selective compaction:
        // cost ∝ the fragmented slice, untouched cells never read
        val centAged = Sink.loadIvfCentroids(spark, dir)
        val extra = rest.select(
          (col("vec_id") + 1000000000L).as("vec_id"), col("embedding"))
        val narrow = Similarity.assignWithCentroids(extra, centAged)
          .filter(col("cell") < math.max(1, (8 * factor) / 20))
          .select("vec_id")
          .join(extra, "vec_id").select("vec_id", "embedding")
          .localCheckpoint()
        (0 until 3).foreach { b =>
          Sink.appendToIvfIndex(
            narrow.filter(pmod(col("vec_id"), lit(3)) === b), dir)
        }
        val filesRefrag = Sink.countDataFiles(spark, s"$dir/assignment")
        var cellsCompacted = 0
        val sel = timeRaw("ivf_aging_compact_selective") {
          cellsCompacted = Sink.compactIvfIndexSelective(spark, dir, 2)
        }
        val filesSel = Sink.countDataFiles(spark, s"$dir/assignment")
        System.err.println(
          s"[probe] aging files: aged=$filesAged compacted=$filesCompacted " +
            s"refrag=$filesRefrag selective=$filesSel " +
            s"cellsCompacted=$cellsCompacted (cells=${8 * factor})")
        Seq(fresh, aged, compact, post, sel,
          "ivf_aging_files_aged" -> filesAged.toDouble,
          "ivf_aging_files_compacted" -> filesCompacted.toDouble,
          "ivf_aging_files_refrag" -> filesRefrag.toDouble,
          "ivf_aging_files_selective" -> filesSel.toDouble,
          "ivf_aging_cells_selective" -> cellsCompacted.toDouble)
      } else Seq.empty
    } ++ {
      // round-12: the composed maintain decision must be
      // BATCH-proportional — the drift pre-flight counts the stored
      // index from parquet footers only (plan-pinned ReadSchema
      // struct<>) and the append is a broadcast pass over the batch.
      // Isolate the corpus term by holding BOTH the batch (the
      // unreplicated sf corpus, re-keyed — same distribution, 25
      // vectors/cell) and the cell count (80) fixed while the stored
      // corpus grows ×factor: a batch-proportional decision loop reads
      // ~flat across factors; anything corpus-shaped shows up as
      // ×10-vs-×100 growth. (An earlier probe shape scaled batch AND
      // cells with the factor, which confounded the two terms and —
      // at 2.5 batch vectors/cell — sat in the low-density regime
      // where even the null-calibrated PSI is noise; IvfAppendSpec
      // pins that calibration instead.)
      if (only.isEmpty || only("ivf_maintain")) {
        import graft.operators.Sink
        val dir = java.nio.file.Files
          .createTempDirectory("probe_ivfmaint").toString
        Sink.writeIvfIndex(emb, dir, Sink.Flat, Sink.Cells(80), iters = 2)
        // fixed-size SAME-DISTRIBUTION batch: every factor-th vec_id
        // picks ~2000/factor vectors from EVERY perturbed replica
        // (replica offsets are multiples of 1e7, ≡ 0 mod factor for
        // factor 10/100) — 2000 vectors total at any factor, 25 per
        // cell. Replica 0 alone would NOT do: replicas are
        // deliberately decorrelated, so a single-replica batch is
        // out-of-distribution against the mixed index and the probe
        // would time a retrain instead of the decision loop (measured:
        // PSI 11.7 at x10).
        val batch = emb
          .filter(pmod(col("vec_id"), lit(factor.toLong)) === 0)
          .select((col("vec_id") + 2000000000L).as("vec_id"), col("embedding"))
          .localCheckpoint()
        val t0 = System.nanoTime()
        val log = Sink.maintainIvfIndex(spark, batch, dir).head()
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(
          f"[probe] ivf_maintain_fixed_batch $dt%8.2f s " +
            f"(action=${log.getString(0)} psi=${log.getDouble(1)}%.3f)")
        Seq("ivf_maintain_fixed_batch" -> dt,
          "ivf_maintain_batch_psi" -> log.getDouble(1))
      } else Seq.empty
    } ++ {
      // the PQ tier of the same claim: its decision adds the
      // per-subspace code PSI (m broadcast codebook passes over the
      // BATCH only) and the append branch two-tier-encodes the batch
      // (coarse cell + m PQ codes, all broadcast) — so the fixed-batch
      // maintain must stay ~flat in the corpus factor here too
      if (only.isEmpty || only("ivfpq_maintain")) {
        import graft.operators.Sink
        val dir = java.nio.file.Files
          .createTempDirectory("probe_ivfpqmaint").toString
        Sink.writeIvfIndex(emb, dir, Sink.Pq(), Sink.Cells(80), iters = 2)
        val batch = emb
          .filter(pmod(col("vec_id"), lit(factor.toLong)) === 0)
          .select((col("vec_id") + 2100000000L).as("vec_id"), col("embedding"))
          .localCheckpoint()
        val t0 = System.nanoTime()
        val log = Sink.maintainIvfIndex(spark, batch, dir).head()
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(
          f"[probe] ivfpq_maintain_fixed_batch $dt%8.2f s " +
            f"(action=${log.getString(0)} psi_coarse=${log.getDouble(1)}%.3f " +
            f"psi_code_max=${log.getDouble(2)}%.3f)")
        Seq("ivfpq_maintain_fixed_batch" -> dt,
          "ivfpq_maintain_code_psi_max" -> log.getDouble(2))
      } else Seq.empty
    } ++ {
      // tombstone-delete serving tax: the masked search pays one
      // broadcast anti-join against an id-only table — the cost must
      // track the TOMBSTONE count (tiny), not the corpus, and the
      // full-compaction purge must return serving to the unmasked
      // latency with the tombstones gone
      if (only.isEmpty || only("ivf_delete")) {
        import graft.operators.Sink
        val dir = java.nio.file.Files
          .createTempDirectory("probe_ivfdel").toString
        Sink.writeIvfIndex(emb, dir, Sink.Flat, Sink.Cells(80), iters = 2)
        def timeSearch(tag: String): Double = {
          val t0 = System.nanoTime()
          Sink.searchIvfIndex(spark, emb, dir, nQueries = 10, k = 3,
            nprobe = 2).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[probe] ivf_delete_search_$tag%-9s $dt%8.2f s")
          dt
        }
        val base = timeSearch("clean")
        // delete 1% of the corpus — ids spread across every replica
        Sink.deleteFromIvfIndex(spark, dir,
          emb.filter(pmod(col("vec_id"), lit(100L)) === 7).select("vec_id"))
        val masked = timeSearch("masked")
        Sink.compactIvfIndex(spark, dir)
        val purged = timeSearch("purged")
        Seq("ivf_delete_search_clean" -> base,
          "ivf_delete_search_masked" -> masked,
          "ivf_delete_search_purged" -> purged)
      } else Seq.empty
    } ++ {
      // round-17: the maintain pre-flight's DISTRIBUTED fallback — the
      // branch that fires when the index geometry exceeds
      // graft.maxDriverMapEntries (cells-sized driver maps refuse; PSI
      // comes from ONE distributed aggregate over the stored
      // assignment). Spec-pinned bit-identical; this times it. Same
      // fixed-batch shape as ivf_maintain above so the two rows are
      // directly comparable: the driver-map path is ~flat in the
      // corpus factor (generation-cached counts), the fallback re-scans
      // the assignment per drop — INDEX-proportional by design (the
      // trade the bound exists to make), so expect ~linear growth in
      // the factor here and no super-linear term.
      if (only.isEmpty || only("ivf_maintain_fallback")) {
        import graft.operators.Sink
        val dir = java.nio.file.Files
          .createTempDirectory("probe_ivfmaintfb").toString
        Sink.writeIvfIndex(emb, dir, Sink.Flat, Sink.Cells(80), iters = 2)
        val batch = emb
          .filter(pmod(col("vec_id"), lit(factor.toLong)) === 0)
          .select((col("vec_id") + 2200000000L).as("vec_id"), col("embedding"))
          .localCheckpoint()
        val prev = sys.props.get("graft.maxDriverMapEntries")
        try {
          sys.props("graft.maxDriverMapEntries") = "1"
          val t0 = System.nanoTime()
          val log = Sink.maintainIvfIndex(spark, batch, dir).head()
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(
            f"[probe] ivf_maintain_fallback $dt%8.2f s " +
              f"(action=${log.getString(0)} psi=${log.getDouble(1)}%.3f)")
          Seq("ivf_maintain_fallback" -> dt,
            "ivf_maintain_fallback_psi" -> log.getDouble(1))
        } finally {
          prev match {
            case Some(v) => sys.props("graft.maxDriverMapEntries") = v
            case None => sys.props.remove("graft.maxDriverMapEntries")
          }
        }
      } else Seq.empty
    } ++ {
      // round-17: distributed cluster resolution PAST the 2²²-edge
      // driver gate — a planted graph resolveClustersAdaptive must
      // route to the large-star/small-star path: 9 cliques of 1024
      // nodes (9 · 1024·1023/2 ≈ 4.71M distinct edges > 2²² ≈ 4.19M)
      // plus one 4096-node chain, so the probe demonstrates both the
      // dense contraction (cliques collapse in ~2 rounds) and the
      // O(log d) diameter bound on one run. Convergence is VERIFIED,
      // not assumed: component count must be cliques + 1 and every
      // label the component min.
      if (only.isEmpty || only("dedup_clusters_star")) {
        val cliques = 9L
        val m = 1024L
        val cliqueIds = spark.range(cliques * m)
          .selectExpr(s"id div $m AS blk", "id")
        val cliqueEdges = cliqueIds.as("x").join(cliqueIds.as("y"), "blk")
          .filter(col("x.id") < col("y.id"))
          .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
        val chainBase = 10000000L
        val chainEdges = spark.range(4096L)
          .select((col("id") + chainBase).as("doc_a"),
            (col("id") + chainBase + 1).as("doc_b"))
        val pairs = cliqueEdges.unionByName(chainEdges)
          .repartition(cpus.toInt).localCheckpoint()
        val nEdges = pairs.count()
        val t0 = System.nanoTime()
        val labels = Dedup.resolveClustersAdaptive(pairs)
        val comps = labels.agg(countDistinct("cluster")).head().getLong(0)
        val dt = (System.nanoTime() - t0) / 1e9
        // fixpoint check: every clique labels to blk·m, the chain to
        // its base — any other label means a non-converged component
        val wrong = labels
          .withColumn("expect",
            when(col("id") >= chainBase, lit(chainBase))
              .otherwise(expr(s"(id div $m) * $m")))
          .filter(col("cluster") =!= col("expect")).count()
        System.err.println(
          f"[probe] dedup_clusters_star $dt%8.2f s (edges=$nEdges " +
            f"comps=$comps wrong=$wrong expected=${cliques + 1})")
        Seq("dedup_clusters_star" -> dt,
          "dedup_clusters_star_edges" -> nEdges.toDouble,
          "dedup_clusters_star_comps" -> comps.toDouble,
          "dedup_clusters_star_wrong" -> wrong.toDouble)
      } else Seq.empty
    } ++ {
      // round-17: the batched BPE trainer's round-count claim measured.
      // The serial loop pays one synchronous count→argmax job per merge
      // (16 here); the batched trainer pays one count round per WINDOW
      // (8 rounds × 8 candidates). On this prefix-heavy replicated
      // vocabulary the rank-window rule drops most of each window
      // (top pairs chain-share symbols), so the actual merge counts are
      // RECORDED below and the comparison reads jobs-per-merge from the
      // artifact, not from the upper bound. The per-round aggregate is
      // vocabulary-sized in both (scales with the factor identically).
      if (only.isEmpty || only("bpe_batched")) {
        def timeBpe(name: String)(f: => DataFrame): (String, Double) = {
          val t0 = System.nanoTime()
          val n = try { f.write.format("noop").mode("overwrite").save(); "ok" }
            catch { case e: Throwable =>
              System.err.println(s"[probe] $name FAILED: $e"); "fail" }
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[probe] $name%-24s $dt%8.2f s ($n)")
          name -> dt
        }
        // the merge budgets are claims, not guarantees (serial stops on
        // exhaustion; the batched rank-window DROPS symbol-conflicting
        // candidates) — record the ACTUAL counts alongside the timings
        // so the comparison is honest about work done, not just rounds
        // paid. Both results are driver-side frames; counting is free.
        var serialDf: DataFrame = null
        var batchedDf: DataFrame = null
        val tS = timeBpe("bpe_train_serial16") {
          serialDf = TextOps.bpeTrainMerges(docs, 16); serialDf }
        val tB = timeBpe("bpe_train_batched16") {
          batchedDf = TextOps.bpeTrainMergesBatched(docs, rounds = 8,
            batchSize = 8); batchedDf }
        // a trainer that FAILED leaves its frame null — record -1 for
        // its merge count instead of NPE-ing the whole probe run out
        // from under the catch that just kept it alive
        val nS = Option(serialDf).map(_.count().toDouble).getOrElse(-1.0)
        val nB = Option(batchedDf).map(_.count().toDouble).getOrElse(-1.0)
        System.err.println(
          s"[probe] bpe merges: serial=$nS batched=$nB")
        Seq(tS, tB,
          "bpe_train_serial16_merges" -> nS,
          "bpe_train_batched16_merges" -> nB)
      } else Seq.empty
    } ++ {
      // round-18: batched-BPE SELECTION FRACTION at production window
      // sizes. The r17 probe's batch-8 window on an adversarial
      // prefix-heavy vocabulary selected few merges per round; the open
      // question was whether real-corpus windows at batch 64/256
      // under-select toward serial cadence. Measured on the
      // UNREPLICATED corpus: replication prefixes every token per
      // replica, which would rewrite the vocabulary this probe exists
      // to measure. Records merges/round (the jobs-per-merge inverse);
      // a persistently low fraction argues for sequential-greedy
      // in-window selection, a high one validates the rank-window rule.
      if (only.isEmpty || only("bpe_selection_fraction")) {
        val rawDocs = Tables.documents(spark, sfDir)
          .select("doc_id", "text").localCheckpoint()
        Seq(64, 256).flatMap { b =>
          val rounds = 4
          val t0 = System.nanoTime()
          val got =
            try TextOps.bpeTrainMergesBatched(rawDocs, rounds = rounds,
              batchSize = b).count().toDouble
            catch { case e: Throwable =>
              System.err.println(s"[probe] bpe_sel_b$b FAILED: $e"); -1.0 }
          val dt = (System.nanoTime() - t0) / 1e9
          val perRound = if (got >= 0) got / rounds else -1.0
          System.err.println(
            f"[probe] bpe_sel_b$b $dt%8.2f s (merges=$got%.0f, " +
              f"per-round=$perRound%.1f of $b)")
          Seq(s"bpe_sel_b${b}_merges_per_round" -> perRound,
            s"bpe_sel_b${b}_secs" -> dt)
        }
      } else Seq.empty
    } ++ {
      // round-18: the STORED dedup-index lifecycle at corpus scale.
      // Build writes the index over the ×N corpus — corpus-linear by
      // design (one shingling pass, three partitioned writes). Classify
      // then runs a FIXTURE-SIZED batch (500 docs: 100 planted exact
      // copies, 100 near copies, 300 fresh) against it: the claim under
      // test is that classify scales with the BATCH plus pruned
      // slim-index scans — never a re-shingling of the corpus — so its
      // growth across a corpus decade should be far below 10×.
      if (only.isEmpty || only("dedup_index_stored")) {
        import graft.operators.Sink
        val dir = java.nio.file.Files
          .createTempDirectory("probe_dedupidx").toString + "/idx"
        val t0 = System.nanoTime()
        Sink.writeDedupIndex(docs, dir)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val batch = docs.filter(col("doc_id") < 100)
            .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
            .select((col("doc_id") + 910000000L).as("doc_id"),
              concat(col("text"), lit(" zq1 zq2 zq3")).as("text")))
          // every token re-prefixed: brand-new shingle space → 'new'
          .unionByName(docs.filter(col("doc_id") >= 200 && col("doc_id") < 500)
            .select((col("doc_id") + 920000000L).as("doc_id"),
              regexp_replace(col("text"), "r0_", "zz_").as("text")))
          .localCheckpoint()
        val t1 = System.nanoTime()
        val verdicts = Sink.classifyWithDedupIndex(spark, batch, dir)
        val tClassify = (System.nanoTime() - t1) / 1e9
        val byVerdict = verdicts.groupBy("verdict").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        System.err.println(
          f"[probe] dedup_index_build $tBuild%8.2f s; classify " +
            f"$tClassify%8.2f s (exact=${byVerdict.getOrElse("exact", 0L)} " +
            f"near=${byVerdict.getOrElse("near", 0L)} " +
            f"new=${byVerdict.getOrElse("new", 0L)})")
        Seq("dedup_index_build" -> tBuild,
          "dedup_index_classify" -> tClassify,
          "dedup_index_exact" -> byVerdict.getOrElse("exact", 0L).toDouble,
          "dedup_index_near" -> byVerdict.getOrElse("near", 0L).toDouble,
          "dedup_index_new" -> byVerdict.getOrElse("new", 0L).toDouble)
      } else Seq.empty
    } ++ {
      // round-18: the STORED BPE tokenizer lifecycle at corpus scale.
      // Build trains rounds×batch on the ×N corpus — per-round cost is
      // corpus-VOCABULARY-sized, so it grows with the factor (the
      // replicas' per-token prefixes multiply the vocabulary). Extend
      // then continues training on a FIXTURE-SIZED new-domain batch
      // (500 docs, tokens rewritten so their vocabulary is genuinely
      // new): the claim under test is that extend pays a merges-sized
      // artifact read + BATCH-vocabulary work (the chunked init fold +
      // its own count rounds) — never a re-count of the training
      // corpus — so extend should stay ~flat across a corpus decade
      // while build grows.
      if (only.isEmpty || only("bpe_tokenizer_stored")) {
        import graft.operators.Sink
        val dir = java.nio.file.Files
          .createTempDirectory("probe_bpetok").toString + "/tok"
        val t0 = System.nanoTime()
        Sink.writeBpeTokenizer(docs, dir, rounds = 4, batchSize = 64)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val nStored = Sink.loadBpeMerges(spark, dir).count()
        val batch = docs.filter(col("doc_id") < 500)
          .select((col("doc_id") + 930000000L).as("doc_id"),
            regexp_replace(col("text"), "r0_", "qq_").as("text"))
          .localCheckpoint()
        val t1 = System.nanoTime()
        Sink.extendBpeTokenizer(batch, dir, rounds = 2, batchSize = 64)
        val tExtend = (System.nanoTime() - t1) / 1e9
        val nAfter = Sink.loadBpeMerges(spark, dir).count()
        System.err.println(
          f"[probe] bpe_tok_build $tBuild%8.2f s (merges=$nStored); " +
            f"extend $tExtend%8.2f s (+${nAfter - nStored})")
        Seq("bpe_tok_build" -> tBuild,
          "bpe_tok_extend" -> tExtend,
          "bpe_tok_merges" -> nStored.toDouble,
          "bpe_tok_extend_merges" -> (nAfter - nStored).toDouble)
      } else Seq.empty
    }

    val qj = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","factor":$factor,"sf":"$sfDir","queries":$qj}""")
    spark.stop()
  }
}
