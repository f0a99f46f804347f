package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic cardinality sketches for corpus statistics. At corpus
  * scale, "how many distinct n-grams / tokens / urls per source" is a
  * sketch question — the exact answer needs a full distinct shuffle of
  * the gram stream, while a bottom-k (KMV) sketch ships k 64-bit values
  * per group. Everything here is hash-deterministic (md5 polynomial —
  * the [[Dedup]]/[[Sampling]] construction): the same corpus gives the
  * same sketch on any engine, any partitioning, any retry — which is
  * what makes the estimate ORACLE-CHECKABLE, unlike RNG-seeded or
  * engine-native sketches (HLL implementations differ per engine).
  */
object Sketch {

  /** 56-bit uniform hash of a string: the first 14 hex digits of its
    * md5, decoded to nibbles and assembled base-16 — EXACTLY the
    * leading 56 bits of the digest, so the value is uniform on
    * [0, 2⁵⁶). (The [[Dedup]] ascii polynomial is NOT usable here: hex
    * chars occupy only 16 ascii codes in [48, 102], so its raw value is
    * lumpy — fine under a modulus, fatal for an order statistic whose
    * estimator assumes uniformity.) All arithmetic is exact BIGINT,
    * mirrored verbatim in the DuckDB oracle.
    */
  private[graft] def rawHash56(s: Column): Column = {
    val m = md5(s)
    def nib(i: Int): Column = {
      val a = ascii(m.substr(i, 1))
      (a - when(a >= 97, 87).otherwise(48)).cast("long")
    }
    (1 to 14).map(i => nib(i) * lit(1L << (4 * (14 - i)))).reduce(_ + _)
  }

  /** Bottom-k (KMV) distinct-count estimate of word n-grams per source,
    * with the exact count alongside as the verification twin.
    *
    * Estimator: with k distinct uniform hashes in [0, 2⁵⁶), the k-th
    * smallest value h_k estimates the density — n̂ = (k−1)·2⁵⁶ / h_k
    * (the classic KMV/bottom-k estimator; ±1/√k relative error). When a
    * source has fewer than k distinct hashes the sketch IS the exact
    * set and n̂ = k_eff.
    *
    * Scale shape: the row_number ≤ k filter is recognized by Spark's
    * WindowGroupLimit rule — each input partition keeps only its local
    * bottom-k per source BEFORE the exchange, so the shuffle carries
    * ≤ k·sources·partitions rows, not the gram stream. The `exact`
    * branch (a full distinct) exists for verification; a 100 TB caller
    * uses [[kmvSketchOnly]].
    */
  def kmvDistinctNgrams(docs: DataFrame, n: Int = 3, k: Int = 128): DataFrame = {
    val sk = kmvSketchOnly(docs, n, k)
    val exact = grams(docs, n).distinct()
      .groupBy("source").agg(count(lit(1)).as("exact_distinct"))
    val twoFiftySix = lit(math.pow(2.0, 56)) // 128⁸, exact as a double
    sk.join(exact, "source")
      .withColumn("est_distinct",
        round(when(col("k_eff") < k, col("k_eff").cast("double"))
          .otherwise(lit((k - 1).toDouble) * twoFiftySix / col("h_k").cast("double")), 2))
      .withColumn("rel_err",
        round((col("est_distinct") - col("exact_distinct").cast("double")) /
          col("exact_distinct").cast("double"), 4))
      .select("source", "exact_distinct", "k_eff", "h_k", "est_distinct", "rel_err")
      .orderBy("source")
  }

  /** The sketch half of [[kmvDistinctNgrams]]: (source, h_k, k_eff) —
    * the only piece a petabyte corpus computes.
    */
  def kmvSketchOnly(docs: DataFrame, n: Int = 3, k: Int = 128): DataFrame =
    bottomK(docs, n, k)
      .groupBy("source").agg(max("h").as("h_k"), count(lit(1)).as("k_eff"))

  /** Estimated union size, Jaccard, and intersection size for every
    * source pair, from merged bottom-k sketches — the theta-sketch-
    * style set algebra that answers "how much does source A overlap
    * source B" without ever joining the gram streams.
    *
    * KMV merge property: bottom-k(A ∪ B) ⊆ bottom-k(A) ∪ bottom-k(B),
    * and membership of a merged-sketch hash in A is decidable from
    * sketch_A alone (h ≤ kth-min(A∪B) ≤ kth-min(A)). So the pair pass
    * touches only sketch rows — sources × k of them, corpus size gone.
    * Estimators: n̂_∪ = (k−1)·2⁵⁶/h_k on the merged sketch, Ĵ =
    * |both-flagged ∩ bottom-k| / k, n̂_∩ = Ĵ·n̂_∪ (computed from the
    * two ROUNDED factors so the product is reproducible).
    *
    * Shape: the pair fan-out is two equi-joins of the sketch table
    * against the source-pair list (dimension-bounded: sources², each
    * pair carrying ≤ 2k rows), then one window + one aggregate per
    * pair. Nothing here scales with the corpus.
    */
  def kmvSourceOverlap(docs: DataFrame, n: Int = 3, k: Int = 128,
      scale: Int = 6): DataFrame = {
    val sk = bottomK(docs, n, k).select("source", "h")
    val srcs = sk.select("source").distinct()
    val pairs = srcs.select(col("source").as("sa"))
      .crossJoin(srcs.select(col("source").as("sb")))
      .filter(col("sa") < col("sb"))
    val sideA = sk.join(broadcast(pairs), col("source") === col("sa"))
      .select(col("sa"), col("sb"), col("h"), lit(1).as("ia"), lit(0).as("ib"))
    val sideB = sk.join(broadcast(pairs), col("source") === col("sb"))
      .select(col("sa"), col("sb"), col("h"), lit(0).as("ia"), lit(1).as("ib"))
    val merged = sideA.unionByName(sideB)
      .groupBy("sa", "sb", "h")
      .agg(max("ia").as("in_a"), max("ib").as("in_b"))
    val w = Window.partitionBy("sa", "sb").orderBy("h")
    val agg = merged.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy("sa", "sb")
      .agg(max("h").as("kth"), count(lit(1)).as("m_k"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1).otherwise(0))
          .as("c_both"))
    val unionEst = round(
      when(col("m_k") < k, col("m_k").cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(math.pow(2.0, 56)) /
          col("kth").cast("double")), 2)
    agg
      .withColumn("union_est", unionEst)
      .withColumn("jaccard_est",
        round(col("c_both").cast("double") / col("m_k").cast("double"), scale))
      .withColumn("inter_est", round(col("jaccard_est") * col("union_est"), 2))
      .select(col("sa").as("src_a"), col("sb").as("src_b"),
        col("union_est"), col("jaccard_est"), col("inter_est"))
      .orderBy("src_a", "src_b")
  }

  /** Per-source HyperLogLog distinct-n-gram estimate (Flajolet et al.
    * 2007), with the exact count alongside as the verification twin.
    *
    * The sketch is m = 2^p registers per source; each distinct gram
    * hash routes to register b = ⌊h / 2^(56-p)⌋ (top p bits) and
    * contributes rank r = (position of the first 1-bit in the
    * remaining K = 56-p bits, 1-indexed; K+1 if they are all zero).
    * The register keeps max(r). The raw estimate is
    * α_m·m²/Σ 2^(−M_b); below 2.5·m with empty registers present, the
    * standard linear-counting correction m·ln(m/V) applies — at the
    * test corpus' ~1300 grams/source with m=512, BOTH branches fire
    * across sources, so the oracle checks each.
    *
    * Engine-reproducibility: the register sum is carried as the EXACT
    * integer S = Σ 2^(K+1−M_b) (≤ m·2^(K+1) = 2^57 at p=9 — fits a
    * long), so the double arithmetic on both engines starts from
    * identical operands; `s_int` itself is in the output as the
    * hash-check anchor for the whole register file. rank uses the
    * [[TextOps]] log2 trick: floor(log2(w)) = length(bin(w)) − 1 on
    * both engines.
    *
    * Scale shape: one partial-aggregated groupBy(source, b) over the
    * distinct-gram stream (map-side max combine), then a sources×m
    * frame — the corpus never moves. Registers merge by element-wise
    * max, which is what [[hllUnion]] exercises.
    */
  def hllDistinctNgrams(docs: DataFrame, n: Int = 3, p: Int = 9): DataFrame = {
    val m = 1 << p
    val reg = registers(grams(docs, n), n, p, Seq(col("source")))
    val exact = grams(docs, n).distinct()
      .groupBy("source").agg(count(lit(1)).as("exact_distinct"))
    estimate(reg.groupBy("source"), p)
      .join(exact, "source")
      .withColumn("rel_err",
        round((col("est_distinct") - col("exact_distinct").cast("double")) /
          col("exact_distinct").cast("double"), 4))
      .select("source", "exact_distinct", "v_zero", "s_int", "corrected",
        "est_distinct", "rel_err")
      .orderBy("source")
  }

  /** Corpus-wide distinct estimate from the MERGED per-source HLL
    * sketches — registers combine by element-wise max, the property
    * that lets a 1000-executor job sketch each partition independently
    * and union the results without reshuffling data. This deliberately
    * computes per-(source, b) registers FIRST and max-merges them; the
    * oracle computes the global sketch directly from the corpus, so a
    * hash match proves merge associativity end-to-end, not just the
    * formula.
    */
  def hllUnion(docs: DataFrame, n: Int = 3, p: Int = 9): DataFrame = {
    val perSource = registers(grams(docs, n), n, p, Seq(col("source")))
    val merged = perSource.groupBy("b").agg(max("m_b").as("m_b"))
    val exact = grams(docs, n).select("s").distinct()
      .agg(count(lit(1)).as("exact_distinct"))
    estimate(merged.groupBy(), p)
      .crossJoin(broadcast(exact))
      .withColumn("rel_err",
        round((col("est_distinct") - col("exact_distinct").cast("double")) /
          col("exact_distinct").cast("double"), 4))
      .select("exact_distinct", "v_zero", "s_int", "corrected",
        "est_distinct", "rel_err")
  }

  /** (group…, b, m_b) register file over the DISTINCT gram stream. */
  private def registers(g: DataFrame, n: Int, p: Int,
      group: Seq[Column]): DataFrame = {
    val kBits = 56 - p
    val shift = 1L << kBits
    val h = g.select((group :+ col("s")): _*).distinct()
      .select((group :+ rawHash56(col("s")).as("h")): _*)
    val br = h
      .withColumn("b", expr(s"h div ${shift}L"))
      .withColumn("w56", col("h") % shift)
    val rk = br.withColumn("r",
      when(col("w56") === 0, kBits + 1)
        .otherwise(lit(kBits + 1) - length(expr("bin(w56)"))))
    rk.groupBy((group :+ col("b")): _*).agg(max("r").as("m_b"))
  }

  /** HLL estimator over a grouped register frame: exact-integer
    * register sum, raw α_m·m²·2^(K+1)/S, linear-counting branch.
    */
  private def estimate(grouped: org.apache.spark.sql.RelationalGroupedDataset,
      p: Int): DataFrame = {
    val m = 1 << p
    val kBits = 56 - p
    val full = 1L << (kBits + 1)
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    grouped
      .agg(sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${kBits + 1} - m_b)"))
        .as("s_present"), count(lit(1)).as("n_present"))
      .withColumn("s_int",
        col("s_present") + (lit(m.toLong) - col("n_present")) * lit(full))
      .withColumn("v_zero", lit(m.toLong) - col("n_present"))
      .withColumn("e_raw",
        lit(alpha) * lit(m.toDouble) * lit(m.toDouble) * lit(full.toDouble) /
          col("s_int").cast("double"))
      .withColumn("corrected",
        when(col("e_raw") <= lit(2.5 * m) && col("v_zero") > 0, 1).otherwise(0))
      .withColumn("est_distinct",
        round(when(col("corrected") === 1,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v_zero").cast("double")))
          .otherwise(col("e_raw")), 2))
  }

  /** Count-Min point-query check for the corpus' exact top-k n-grams
    * (Cormode & Muthukrishnan 2005): depth×width integer cell grid,
    * cell (d, hash_d(gram) mod width) accumulates the gram's count;
    * a point query reads min over the depth cells. The output carries
    * exact vs estimated count per heavy hitter plus the overcount —
    * est ≥ exact ALWAYS (one-sided error), and E[over] ≤ e·N/width.
    *
    * Scale shape: the gram stream collapses to (gram, cnt) with one
    * partial-aggregated groupBy before any sketch work, the grid build
    * fans that vocabulary-sized frame out ×depth and re-aggregates to
    * depth·width cells, and the top-k comes from orderBy+limit
    * (TakeOrderedAndProject — no global sort). Point lookups join an
    * 80-row broadcast side against the grid. All arithmetic is exact
    * BIGINT — bit-reproducible on any engine or partitioning.
    */
  /** The depth CMS rows share ONE md5 per key: row d's bucket is
    * h_d(x) = ((a_d·x + b_d) mod P) mod width over the md5-derived
    * base x — the textbook pairwise-independent family (Cormode &
    * Muthukrishnan 2005), reusing the minhash (a, b) constants. One
    * hash per key instead of one per (depth, key): 4× less hashing on
    * the hot explode (Profile r9 measured the md5 stage dominating
    * cms_heavy), and the sketch guarantees are the ones the CMS
    * analysis actually assumes.
    */
  private def depthBuckets(x: Column, depth: Int, width: Int): Column = {
    require(depth <= Dedup.minhashParams.size,
      s"CMS depth $depth exceeds the ${Dedup.minhashParams.size} available " +
        "pairwise-independent (a, b) hash rows (Dedup.minhashParams)")
    explode(array((0 until depth).map { i =>
      val (a, b) = Dedup.minhashParams(i)
      struct(lit(i.toString).as("d"),
        pmod(pmod(lit(a) * x + lit(b), lit(Dedup.minhashP)),
          lit(width.toLong)).as("b"))
    }: _*))
  }

  def cmsHeavyHitters(docs: DataFrame, n: Int = 3, depth: Int = 4,
      width: Int = 4096, k: Int = 20): DataFrame = {
    val wc = grams(docs, n).groupBy("s").agg(count(lit(1)).as("cnt"))
    def explodeBuckets(df: DataFrame): DataFrame = df
      .withColumn("x", Dedup.shingleBase(col("s")))
      .select(col("s"), col("cnt"), depthBuckets(col("x"), depth, width).as("db"))
      .select(col("s"), col("cnt"), col("db.d").as("d"), col("db.b").as("b"))
    val hb = explodeBuckets(wc)
    val sketch = hb.groupBy("d", "b").agg(sum("cnt").as("c"))
    val top = wc.orderBy(col("cnt").desc, col("s")).limit(k)
    val topHashes = explodeBuckets(top)
    val pt = sketch.join(broadcast(topHashes), Seq("d", "b"))
      .groupBy("s", "cnt").agg(min("c").as("est"))
    pt.select(col("s").as("gram"), col("cnt").as("exact_cnt"),
        col("est").as("est_cnt"), (col("est") - col("cnt")).as("overcount"))
      .orderBy(col("exact_cnt").desc, col("gram"))
  }

  /** Self-join cardinality estimate from Count-Min inner products
    * (Cormode & Muthukrishnan 2005, §4.2): |R ⋈_k R| = Σ_k c_k² is
    * estimated per depth row as Σ_b cms[d,b]², taking min over
    * depths — a one-sided OVERestimate (colliding keys only add
    * cross terms), with E[err] ≤ N²/width. Here R = events keyed by
    * user_id: the estimator prices the sessionization self-join /
    * pair-explosion BEFORE running it, from a sketch of
    * depth×width cells instead of the per-key count frame.
    *
    * Everything is exact BIGINT (Σ cms² ≤ N² ≪ 2⁶³); the exact twin
    * Σ c_k² rides along to exhibit the one-sided bound. Shape: one
    * partial-aggregated groupBy(user_id) collapses events to key
    * counts; the sketch build and both sums are register-file-sized
    * aggregations after that. A 100 TB caller keeps only the sketch
    * half (and can merge sketches across shards cell-wise, the
    * [[hllUnion]] property — CMS cells add).
    */
  def cmsSelfJoinSize(events: DataFrame, depth: Int = 4,
      width: Int = 4096): DataFrame = {
    val kc = events.groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val cells = kc
      .withColumn("x", Dedup.shingleBase(col("user_id").cast("string")))
      .select(col("cnt"), depthBuckets(col("x"), depth, width).as("db"))
      .select(col("cnt"), col("db.d").as("d"), col("db.b").as("b"))
      .groupBy("d", "b").agg(sum("cnt").as("c"))
    val perDepth = cells.groupBy("d").agg(sum(col("c") * col("c")).as("est_d"))
    val est = perDepth.agg(min("est_d").as("est_size"))
    val exact = kc.agg(sum(col("cnt") * col("cnt")).as("exact_size"),
      count(lit(1)).as("n_keys"))
    est.crossJoin(broadcast(exact))
      .withColumn("overcount", col("est_size") - col("exact_size"))
      .withColumn("rel_err",
        round(col("overcount").cast("double") / col("exact_size").cast("double"), 6))
      .select("n_keys", "exact_size", "est_size", "overcount", "rel_err")
  }

  /** Mergeable log-bucketed quantile histogram (the HDR-histogram
    * construction): each value keeps only its top `subBits`+1
    * significant bits — bucket lower bound lo = (v >> sh) << sh with
    * sh = max(bitlen(v)−1−subBits, 0) — giving a fixed ≤ 64·2^subBits
    * cell register file with guaranteed relative bucket width
    * ≤ 2^−subBits. Quantiles read from the cumulative register walk:
    * target rank r_p = ⌈p·n⌉ (computed as EXACT integer (num·n+den−1)
    * div den — never p·n in floating point), estimate = lower bound of
    * the bucket containing r_p, so est ≤ the rank-r value with error
    * under one bucket width.
    *
    * This is the 100 TB quantile path: exact percentiles need a global
    * sort (or an exact-percentile aggregate whose state is the value
    * multiset); this state is a few hundred BIGINT cells that merge by
    * plain sum (map-side partial aggregation IS that merge — each task
    * builds a local register file and the exchange carries registers,
    * never values). The grouped/streaming variants
    * ([[logHistQuantilesByGroup]], the histogram replay) keep explicit
    * per-group register files, proving merge associativity against the
    * direct-histogram oracle (the [[hllUnion]] pattern). The
    * `quantile_cont` twin (the
    * events_percentiles-precedent exact aggregate) rides along for the
    * rel_err diagnostic; a petabyte caller drops it.
    *
    * Exactness: cents = CAST(price AS DECIMAL(18,2))·100 is the TPC-H
    * Q1 cast precedent (2-decimal doubles → exact integers); every
    * bucket/rank step after that is integer arithmetic, identical in
    * Spark and DuckDB. The cumulative window runs over the register
    * file (≤ ~10³ rows, bounded by 64·2^subBits) — never over data.
    */
  def logHistQuantiles(li: DataFrame, subBits: Int = 4): DataFrame = {
    val base = centsBase(li)
    // one aggregate pass: summing per-group partial registers cell-wise
    // equals counting into the global register file directly (integer
    // sums are associative), so the per-g partial stage and its second
    // Exchange are dropped (guide §2.3). The merge-associativity
    // demonstration lives in the grouped/streaming variants
    // ([[logHistQuantilesByGroup]], the stream replay), which keep
    // per-group register files by construction. Dropping `g` here also
    // lets column pruning remove l_returnflag from the scan entirely.
    val merged = bucketize(base, subBits)
      .groupBy("lo", "sh").agg(count(lit(1)).as("cnt"))
    quantilesFromRegisters(merged)
  }

  /** Diagnostic twin of [[logHistQuantiles]]: the same register walk
    * PLUS the `quantile_cont` exact answer and its relative error —
    * validation only. The exact `percentile` pass scans the full base
    * data, which at 100× would dominate the register walk, so it lives
    * in its own query and NEVER rides the benched production path.
    */
  def logHistQuantilesRelErr(li: DataFrame, subBits: Int = 4): DataFrame = {
    val base = centsBase(li)
    // same single-pass register build as [[logHistQuantiles]]
    val merged = bucketize(base, subBits)
      .groupBy("lo", "sh").agg(count(lit(1)).as("cnt"))
    quantilesWithRelErr(merged, base)
  }

  /** (g, cents) projection of lineitem — the exact-integer carrier both
    * the batch and streaming register builds share.
    */
  private[graft] def centsBase(li: DataFrame): DataFrame =
    li.select(col("l_returnflag").as("g"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .filter(col("cents") > 0)

  /** Adds (sh, lo) — the log-bucket key — to a cents frame. A pure
    * narrow projection, so it runs identically inside a streaming
    * micro-batch.
    */
  private[graft] def bucketize(base: DataFrame, subBits: Int = 4): DataFrame =
    base
      .withColumn("sh",
        greatest(length(expr("bin(cents)")).cast("int") - 1 - subBits, lit(0)))
      .withColumn("lo", expr("shiftleft(shiftright(cents, sh), sh)"))

  /** The quantile walk over an already-built register file (lo, sh,
    * cnt) — shared by the batch merge and the streaming replay, which
    * accumulates the same registers across micro-batches. Registers
    * only: the production path never touches the base data.
    */
  private[graft] def quantilesFromRegisters(merged: DataFrame): DataFrame =
    quantileWalk(merged)
      .select(col("p_num"), col("p_den"), col("target_rank"),
        col("lo").as("bucket_lo_cents"),
        expr("shiftleft(CAST(1 AS BIGINT), sh)").as("bucket_width_cents"),
        col("est_price"))
      .orderBy("target_rank")

  /** [[quantilesFromRegisters]] plus the `quantile_cont` exact twin
    * from `base` and the relative error — the validation shape only
    * (the exact `percentile` scans the base data, so at scale this is
    * a diagnostic, never the serving path).
    */
  private[graft] def quantilesWithRelErr(merged: DataFrame,
      base: DataFrame): DataFrame = {
    val exact = base.agg(
        expr("percentile(cents, array(0.5, 0.9, 0.99, 0.999))").as("qs"))
      .select(posexplode(col("qs")).as(Seq("pos", "pc")))
      .withColumn("idx", col("pos") + 1)
    quantileWalk(merged)
      .join(broadcast(exact), "idx")
      .withColumn("exact_price", round(col("pc") / lit(100), 6))
      .withColumn("rel_err",
        round((col("exact_price") - col("est_price")) / col("exact_price"), 4))
      .select(col("p_num"), col("p_den"), col("target_rank"),
        col("lo").as("bucket_lo_cents"),
        expr("shiftleft(CAST(1 AS BIGINT), sh)").as("bucket_width_cents"),
        col("est_price"), col("exact_price"), col("rel_err"))
      .orderBy("target_rank")
  }

  /** Rank targets + cumulative-register bucket lookup shared by the
    * sketch-only walk and its rel_err diagnostic twin. Carries idx for
    * the twin's exact-quantile join.
    */
  private def quantileWalk(merged: DataFrame): DataFrame = {
    val spark = merged.sparkSession
    import spark.implicits._
    val tot = merged.agg(sum("cnt").as("n"))
    val pcts = Seq((1, 1L, 2L), (2, 9L, 10L), (3, 99L, 100L), (4, 999L, 1000L))
      .toDF("idx", "p_num", "p_den")
    val ranks = pcts.crossJoin(broadcast(tot))
      .withColumn("target_rank",
        expr("(p_num * n + p_den - 1) div p_den"))
    val wcum = Window.orderBy("lo") // register-file-sized frame only
    val cum = merged.withColumn("cum", sum("cnt").over(wcum))
    cum
      .join(broadcast(ranks), col("cum") >= col("target_rank") &&
        col("cum") - col("cnt") < col("target_rank"))
      .withColumn("est_price", round(col("lo") / lit(100.0), 2))
  }

  /** Grouped log-bucket quantile estimates — [[logHistQuantiles]]
    * partitioned by event_type: one register file PER GROUP (the
    * cumulative window partitions by group, so every frame stays
    * register-sized), with the quantile_cont twin per group for the
    * rel_err diagnostic. This is the per-tenant / per-metric latency
    * dashboard shape: groups × ≤ 64·2^subBits cells of state total.
    */
  def logHistQuantilesByGroup(events: DataFrame, subBits: Int = 4): DataFrame =
    groupQuantilesFromRegisters(
      groupRegisters(events, subBits), groupCentsBase(events))

  /** (event_type, cents) projection of events — the exact-integer
    * carrier the batch and streaming per-group register builds share.
    */
  private[graft] def groupCentsBase(events: DataFrame): DataFrame =
    events.select(col("event_type"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .filter(col("cents") > 0)

  /** Per-group register build: one (lo, sh) histogram PER event_type —
    * a narrow projection + grouped count, so it runs identically
    * inside a streaming micro-batch (registers sum-merge per group).
    */
  private[graft] def groupRegisters(events: DataFrame, subBits: Int = 4): DataFrame =
    groupCentsBase(events)
      .withColumn("sh",
        greatest(length(expr("bin(cents)")).cast("int") - 1 - subBits, lit(0)))
      .withColumn("lo", expr("shiftleft(shiftright(cents, sh), sh)"))
      .groupBy("event_type", "lo", "sh").agg(count(lit(1)).as("cnt"))

  /** The per-group quantile walk over an already-built register file
    * (event_type, lo, sh, cnt) — shared by the batch build and the
    * streaming replay, which accumulates the same registers across
    * micro-batches. `base` supplies the per-group quantile_cont twin.
    */
  private[graft] def groupQuantilesFromRegisters(hist: DataFrame,
      base: DataFrame): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    val tot = hist.groupBy("event_type").agg(sum("cnt").as("n"))
    val pcts = Seq((1, 1L, 2L), (2, 9L, 10L), (3, 99L, 100L))
      .toDF("idx", "p_num", "p_den")
    val ranks = tot.crossJoin(broadcast(pcts))
      .withColumn("target_rank", expr("(p_num * n + p_den - 1) div p_den"))
    val wcum = Window.partitionBy("event_type").orderBy("lo")
    val cum = hist.withColumn("cum", sum("cnt").over(wcum))
    val exact = base.groupBy("event_type").agg(
        expr("percentile(cents, array(0.5, 0.9, 0.99))").as("qs"))
      .select(col("event_type"), posexplode(col("qs")).as(Seq("pos", "pc")))
      .withColumn("idx", col("pos") + 1)
    cum
      .join(broadcast(ranks), Seq("event_type"))
      .filter(col("cum") >= col("target_rank") &&
        col("cum") - col("cnt") < col("target_rank"))
      .join(broadcast(exact), Seq("event_type", "idx"))
      .withColumn("est_value", round(col("lo") / lit(100.0), 2))
      .withColumn("exact_value", round(col("pc") / lit(100), 6))
      .withColumn("rel_err",
        round((col("exact_value") - col("est_value")) / col("exact_value"), 4))
      .select(col("event_type"), col("p_num"), col("p_den"),
        col("target_rank"), col("lo").as("bucket_lo_cents"),
        col("est_value"), col("exact_value"), col("rel_err"))
      .orderBy("event_type", "target_rank")
  }

  /** Per-source bottom-k distinct gram hashes: (source, h) with ≤ k
    * rows per source, via the WindowGroupLimit-optimized row_number
    * filter.
    */
  private def bottomK(docs: DataFrame, n: Int, k: Int): DataFrame = {
    val hs = grams(docs, n)
      .select(col("source"), rawHash56(col("s")).as("h")).distinct()
    val w = Window.partitionBy("source").orderBy("h")
    hs.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** (source, gram) stream — the [[Dedup.shingles]] construction with
    * the grouping column carried.
    */
  private def grams(docs: DataFrame, n: Int): DataFrame = {
    // spread BEFORE the explode: a one-file documents scan otherwise
    // serializes the gram explode + per-gram hashing into one task
    // (Profile r9: a 5 s single-task stage under cms_heavy — the
    // embed_pca_power pathology from r8, same fix)
    Spread.spread(docs).select(col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("source"), explode(Dedup.wordGrams(col("w"), n)).as("s"))
  }
}
