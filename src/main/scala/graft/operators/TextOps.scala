package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the documents table: language ID
  * (marker-word heuristic), quality scoring, token counting
  * (whitespace + regex), document fingerprinting.
  *
  * All counts are exact integers; ratios are single divisions rounded
  * to 4 — deterministic across engines. The word-level operators
  * explode + broadcast-join a tiny marker table; at 100 TB that is a
  * map-side join against each partition with one final per-doc
  * aggregation (shuffle on doc_id only).
  */
object TextOps {

  private def spread(docs: DataFrame): DataFrame = Spread.spread(docs)

  /** (lang, marker) rows — common function words per language. The
    * heuristic is honest: the synthetic corpus is English-ish word
    * salad for every lang label, so `predicted` mostly lands on 'en'
    * (or 'unknown'); the `match` column makes that visible rather than
    * hiding it.
    */
  val markers: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of", "en" -> "and", "en" -> "is",
    "de" -> "der", "de" -> "die", "de" -> "das", "de" -> "und", "de" -> "ist",
    "fr" -> "le", "fr" -> "la", "fr" -> "et", "fr" -> "les", "fr" -> "est",
    "es" -> "el", "es" -> "los", "es" -> "y", "es" -> "las", "es" -> "es",
    "zh" -> "的", "zh" -> "是", "zh" -> "了", "zh" -> "在", "zh" -> "和")

  /** Marker-count language ID: argmax hits with (count desc, lang asc)
    * tiebreak; no hits → 'unknown'.
    */
  def langId(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val m = markers.toDF("mlang", "marker")
    val words = spread(docs).select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("word"))
    val hits = words.join(broadcast(m), col("word") === col("marker"))
      .groupBy("doc_id", "mlang").agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy("doc_id").orderBy(desc("hits"), col("mlang"))
    val best = hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("doc_id"), col("mlang"), col("hits"))
    docs.select("doc_id", "lang").join(best, Seq("doc_id"), "left")
      .withColumn("predicted", coalesce(col("mlang"), lit("unknown")))
      .withColumn("marker_hits", coalesce(col("hits"), lit(0L)))
      .withColumn("is_match", col("predicted") === col("lang"))
      .select("doc_id", "lang", "predicted", "marker_hits", "is_match")
      .orderBy("doc_id")
  }

  /** Language confusion matrix: declared vs detected language with
    * per-row fractions — the drift diagnostic over [[langId]]'s
    * heuristic. One extra hash aggregate + a lang-partitioned window
    * over the (langs × langs)-bounded grouped frame.
    */
  def langConfusion(docs: DataFrame): DataFrame = {
    val wl = Window.partitionBy("lang")
    langId(docs)
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
      .withColumn("row_frac", round(col("n") / sum("n").over(wl), 4))
      .orderBy("lang", "predicted")
  }

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "is", "in", "to", "for", "on", "with")

  /** Per-doc quality score from length / word-shape / stopword ratios
    * (reference category: DataQualityChecker-style runtime scoring,
    * generalized to text).
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    val sw = stopwords.map(s => s"'$s'").mkString(", ")
    spread(docs)
      .withColumn("n_words", size(words).cast("long"))
      .withColumn("len_chars", length(col("text")).cast("long"))
      .withColumn("avg_word_len",
        round((col("len_chars") - (col("n_words") - 1)) / col("n_words"), 4))
      .withColumn("stop_hits",
        expr(s"size(filter(split(text, ' '), x -> x IN ($sw)))").cast("long"))
      .withColumn("stopword_ratio", round(col("stop_hits") / col("n_words"), 4))
      .withColumn("quality_score",
        round(least(col("n_words") / 100.0, lit(1.0)) *
          (lit(1.0) - col("stopword_ratio")), 4))
      .select("doc_id", "n_words", "len_chars", "avg_word_len",
        "stop_hits", "stopword_ratio", "quality_score")
      .orderBy("doc_id")
  }

  /** Calibrated quality-threshold selection: per language, the exact
    * score threshold that keeps at most a target fraction of the
    * corpus — the knob a large curation run turns when "keep the best
    * p%" is the spec and the score distribution differs per language.
    * thr(lang) = the LOWEST [[qualityScore]] whose keep-set (docs
    * scoring >= thr) still fits the floor(p·n) budget; ties at the
    * threshold are all-in or all-out (a threshold admits SCORES, not
    * row ranks), so the realized keep count can undershoot the budget
    * but never exceeds it. thr is NULL (keep nothing) when even the
    * top score's tie group overflows the budget.
    *
    * Shape at scale: the cumulative rank runs over the per-language
    * (score, count) HISTOGRAM, never the corpus — one hash aggregate
    * keyed (lang, score) + a distinct-scores-sized window per
    * language. The corpus-sized frame is touched exactly once (the
    * scoring pass); no global sort, no corpus-sized window.
    */
  def calibrateQualityThreshold(docs: DataFrame, p: Double = 0.7): DataFrame =
    calibrateFromScores(
      qualityScore(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select(col("lang"), col("quality_score").as("score")), p)

  /** [[calibrateQualityThreshold]] from an already-scored (lang, score)
    * frame — the composition entry point: [[Corpus.funnel]] scores the
    * corpus ONCE and both calibrates and stages from the shared frame,
    * instead of paying the tokenize-and-score pass twice.
    */
  def calibrateFromScores(scored: DataFrame, p: Double): DataFrame = {
    val hist = scored.groupBy("lang", "score").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("lang").orderBy(desc("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum("c").over(w))
    // totals from the HISTOGRAM, not the corpus-sized scored frame: a
    // second aggregation over the scored subtree would replay the full
    // tokenize+score pass in the uncached path (the (lang, score) and
    // (lang) exchanges differ, so Spark can't reuse one for the other)
    val tot = hist.groupBy("lang").agg(sum("c").as("n_docs"))
    cum.join(tot, "lang")
      .withColumn("kcut", floor(lit(p) * col("n_docs")))
      .groupBy("lang", "n_docs", "kcut")
      .agg(
        min(when(col("cum") <= col("kcut"), col("score"))).as("thr"),
        coalesce(max(when(col("cum") <= col("kcut"), col("cum"))), lit(0L))
          .as("n_keep"))
      .withColumn("keep_rate", round(col("n_keep") / col("n_docs"), 4))
      .select("lang", "n_docs", "kcut", "thr", "n_keep", "keep_rate")
      .orderBy("lang")
  }

  /** PMI-ranked collocations — the classic phrase/multiword-expression
    * miner (Church & Hanks 1990): for adjacent word pairs seen at least
    * `minCount` times, PMI = ln(p(ab) / (p(a)·p(b))) over the corpus
    * unigram/bigram distributions; high PMI = the pair co-occurs far
    * above chance (a phrase), low = incidental adjacency.
    *
    * Determinism: the ln's input is ONE division of two products of
    * exact integer COUNTS, each multiplied in DOUBLE — integer
    * products would overflow 2⁶³ for common-word bigrams at
    * tens-of-millions-token corpora (B·n_a·n_b ≈ 10²⁰ there, an ANSI
    * hard error), while the double tree never overflows and both
    * engines round each step identically on identical operands (counts
    * < 2⁵³ convert exactly). The rounded-6 ln matches cross-engine
    * (the tfidf precedent); ranking runs over the ROUNDED score with a
    * bigram tiebreak; top-k compiles to TakeOrdered.
    *
    * Shape: one explode + two hash aggregations (unigrams, bigrams) +
    * two key joins. T is a driver scalar like tfidf's N; B needs no
    * second corpus pass — a doc with n tokens yields exactly n−1
    * bigrams (split yields ≥1 token for any string), so
    * B = T − n_docs identically.
    */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5,
      k: Int = 20): DataFrame = {
    val words = spread(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val uni = words.groupBy("w").agg(count(lit(1)).as("cw"))
    val totT = words.count()
    val totB = totT - docs.count()
    val big = Dedup.shingles(docs, 2, distinct = false).select("s")
    val cb = big.groupBy("s").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
      .withColumn("w1", split(col("s"), " ")(0))
      .withColumn("w2", split(col("s"), " ")(1))
    cb
      .join(uni.select(col("w").as("w1"), col("cw").as("n_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("n_b")), "w2")
      .withColumn("pmi", round(log(
        (col("n_pair").cast("double") * lit(totT) * lit(totT)) /
          (lit(totB).cast("double") * col("n_a") * col("n_b"))), 6))
      .select(col("s").as("bigram"), col("n_pair"), col("n_a"), col("n_b"),
        col("pmi"))
      .orderBy(desc("pmi"), col("bigram"))
      .limit(k)
  }

  /** Top-k TF-IDF terms per document — the standard relevance/keyword
    * surface over a corpus. tf is the within-doc frequency (count /
    * doc words), idf = ln(N / df) over document frequency. Both factors
    * round to 6 before multiplying so the product is bit-identical
    * cross-engine (the ln is the one transcendental in the engine; its
    * input N/df is a single exact division of integers, and rounding to
    * 6 absorbs any last-ulp libm divergence), and ranking runs over the
    * ROUNDED score with a word tiebreak — never over a raw float.
    *
    * Shape: one explode + two hash aggregations (term counts by (doc,
    * word), document frequency by word) + one window top-k per doc. All
    * shuffles key on word or doc_id — linear in corpus tokens. N comes
    * from one driver-side count (a scalar, same as the oracle's
    * subquery).
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val nDocs = docs.count()
    val words = spread(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val docLens = words.groupBy("doc_id").agg(count(lit(1)).as("n_words"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), col("word"))
    tf.join(docLens, "doc_id").join(dfreq, "word")
      .withColumn("tf_norm", round(col("tf") / col("n_words"), 6))
      .withColumn("idf", round(log(lit(nDocs.toDouble) / col("df")), 6))
      .withColumn("tfidf", round(col("tf_norm") * col("idf"), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("doc_id", "rnk", "word", "tf", "df", "tfidf")
      .orderBy("doc_id", "rnk")
  }

  /** Okapi BM25 retrieval: rank the corpus against a fixed bag of query
    * terms (Robertson-Sparck Jones idf, k1/b length normalization) —
    * the lexical-retrieval baseline every RAG/data-curation stack keeps
    * next to its embedding index.
    *
    * Shape: the tf aggregate filters to the query terms BEFORE the
    * shuffle, so the scored frame is |terms|-bounded per doc; doc
    * lengths reuse the same exploded scan. N and total tokens are two
    * driver scalars (same as the oracle's subqueries). Per-term scores
    * are rounded-6dp doubles summed as exact DECIMAL(18,6) — ranking
    * orders by the exact decimal, never a computed float — with doc_id
    * as the total tiebreak.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val nDocs = docs.count()
    val words = spread(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val totalTokens = words.count()
    val avgdl = totalTokens.toDouble / nDocs
    val docLens = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val tf = words.filter(col("word").isin(terms: _*))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val idf = round(log(
      (lit(nDocs.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)), 6)
    val norm = round(col("dl") / lit(avgdl), 6)
    val scored = tf.join(dfreq, "word").join(docLens, "doc_id")
      .withColumn("term_score", round(
        idf * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * norm)), 6)
        .cast("decimal(18,6)"))
    val perDoc = scored.groupBy("doc_id").agg(
      sum("term_score").as("score_d"), count(lit(1)).as("n_terms"))
    // distributed top-k: orderBy+limit compiles to TakeOrderedAndProject
    // (per-partition heaps merged on the driver) — no single-partition
    // sort over the |matching docs| frame; the rank window then runs
    // over k rows only. Ordering key is the exact DECIMAL score, never
    // a computed float.
    val top = perDoc.orderBy(desc("score_d"), col("doc_id")).limit(k)
    top.withColumn("rnk",
        row_number().over(Window.orderBy(desc("score_d"), col("doc_id"))))
      .select(col("rnk"), col("doc_id"), col("n_terms"),
        col("score_d").cast("double").as("score"))
      .orderBy("rnk")
  }

  /** Vocabulary pruning (the sklearn `min_df`/`max_df` step): keep
    * words whose document frequency lands in [minDf, maxDfFrac·N] —
    * dropping typo-noise below and corpus stopwords above — ranked by
    * (df desc, word). One explode + one distinct-by-construction
    * aggregate keyed on word; N is a driver scalar like the oracle's
    * subquery.
    */
  /** The pruned-vocabulary frames are terminal checkpoints (the
    * returned frame keeps reading from them), so they can't be released
    * at the end of the call — route them through a bounded LRU keyed on
    * (session, input plan, params) instead, so repeated calls reuse one
    * block set and superseded ones are released on eviction/session end
    * rather than accumulating for the session lifetime.
    */
  private val vocabPruneCache = new graft.SessionCache[(Int, Long, Long, Long), DataFrame](
    maxEntries = 8, release = org.apache.spark.sql.GraftShims.uncheckpoint(_))

  def vocabPrune(docs: DataFrame, minDf: Long = 5,
      maxDfFrac: Double = 0.5): DataFrame = {
    // semanticHash compares file sources by ROOT PATH only — fold the
    // file-level generation in so a same-path rewrite misses (see
    // CheckpointPool.planGeneration)
    val key = (docs.queryExecution.analyzed.semanticHash(), minDf,
      java.lang.Double.doubleToLongBits(maxDfFrac),
      graft.CheckpointPool.planGeneration(docs))
    // vocabulary-sized (one row per kept word) — checkpointed because
    // chunkedRowNumber references its input three times (offsets,
    // guard, final join); un-checkpointed that re-runs the corpus-sized
    // explode+distinct 3x
    val dfreq = vocabPruneCache.getOrBuild(docs.sparkSession, key) {
      val nDocs = docs.count()
      val maxDf = math.floor(maxDfFrac * nDocs).toLong
      spread(docs)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .distinct()
        .groupBy("word").agg(count(lit(1)).as("df"))
        .filter(col("df") >= minDf && col("df") <= maxDf)
        .localCheckpoint()
    }
    // exact global rank without the single-partition sort: the df value
    // itself (negated — sort is desc) is the monotone coarse bucket
    GlobalRank.chunkedRowNumber(
        dfreq,
        -col("df"), Seq(desc("df"), col("word")), "rnk")
      .select("rnk", "word", "df")
      .orderBy("rnk")
  }

  /** BPE-ish token regex: letter runs, digit runs, single other glyphs. */
  val tokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Whitespace + regex token counts per doc. */
  def tokenCounts(docs: DataFrame): DataFrame =
    spread(docs)
      .withColumn("ws_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("re_tokens",
        size(regexp_extract_all(col("text"), lit(tokenPattern), lit(0))).cast("long"))
      .select("doc_id", "lang", "ws_tokens", "re_tokens")
      .orderBy("doc_id")

  /** Token stats per language (the aggregate view of tokenCounts). */
  def tokenStatsByLang(docs: DataFrame): DataFrame =
    tokenCounts(docs)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("re_tokens").as("total_tokens"),
        round(avg("re_tokens"), 4).as("avg_tokens"))
      .orderBy("lang")

  /** Gopher-style within-document repetition metrics — the standard
    * quality filter for boilerplate/spam in training corpora (Rae et
    * al., "Scaling Language Models: ... Gopher", §A1.1 repetition
    * rules): share of the most frequent word and 2-gram, and the
    * fraction of duplicate 3-grams. All exact integer counts and single
    * divisions; n-gram tables reuse [[Dedup.shingles]] (non-distinct).
    *
    * Shape: three per-doc aggregations (word counts, bigram counts,
    * trigram distinct/total) joined on doc_id — each a hash-partition
    * groupBy with map-side combine, no per-doc collection anywhere.
    * Docs too short for an n-gram level get null ratios and never flag.
    */
  def repetitionStats(docs: DataFrame,
      topBigramMax: Double = 0.18, dupTrigramMax: Double = 0.30): DataFrame = {
    val words = spread(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val wagg = words.groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").cast("long").as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        max("c").as("top_word"))
    val bagg = Dedup.shingles(docs, 2, distinct = false)
      .groupBy("doc_id", "s").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").cast("long").as("n_bigrams"),
        max("c").as("top_bigram"))
    val tagg = Dedup.shingles(docs, 3, distinct = false)
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_trigrams"),
        countDistinct("s").as("n_distinct_trigrams"))
    docs.select("doc_id")
      .join(wagg, Seq("doc_id"), "left")
      .join(bagg, Seq("doc_id"), "left")
      .join(tagg, Seq("doc_id"), "left")
      .withColumn("distinct_word_ratio",
        round(col("n_distinct_words") / col("n_words"), 4))
      .withColumn("top_word_share", round(col("top_word") / col("n_words"), 4))
      .withColumn("top_bigram_share", round(col("top_bigram") / col("n_bigrams"), 4))
      .withColumn("dup_trigram_ratio",
        round(lit(1.0) - col("n_distinct_trigrams") / col("n_trigrams"), 4))
      .withColumn("flag_repetitive",
        coalesce(col("top_bigram_share") > topBigramMax, lit(false)) ||
          coalesce(col("dup_trigram_ratio") > dupTrigramMax, lit(false)))
      .select("doc_id", "n_words", "distinct_word_ratio", "top_word_share",
        "top_bigram_share", "dup_trigram_ratio", "flag_repetitive")
      .orderBy("doc_id")
  }

  /** Conservative PII patterns, shared verbatim with the oracle SQL —
    * kept to constructs with identical semantics in Java regex and RE2
    * (character classes, {m,}, \b).
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b555-[0-9]{4}\\b"

  /** PII scrub for training text: count and redact email addresses and
    * (toy) phone numbers. Pure codegen'd projection — regexes run
    * per-row with no shuffle; the output carries the redacted content
    * hash rather than the full text so the result set stays narrow.
    */
  def redactPii(docs: DataFrame): DataFrame =
    spread(docs)
      .withColumn("n_emails",
        size(regexp_extract_all(col("text"), lit(emailPattern), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(col("text"), lit(phonePattern), lit(0))).cast("long"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("text"), emailPattern, "<EMAIL>"),
          phonePattern, "<PHONE>"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        md5(col("redacted")).as("redacted_md5"))
      .orderBy("doc_id")

  /** Card-number-shaped PII with Luhn mod-10 validation — the
    * checksum-aware tier above [[redactPii]]'s pattern matching: a
    * 13-19-digit run is only treated as payment-card PII when its
    * Luhn checksum passes, separating real card numbers from ids and
    * phone-number runs. The checksum is a single codegen'd
    * higher-order `aggregate` over the reversed digit string — no
    * UDF, exact integer arithmetic, identical in both engines.
    */
  def luhnCards(docs: DataFrame): DataFrame = {
    val luhnOk = expr(
      """aggregate(sequence(1, length(cand)), 0, (acc, i) ->
        |  acc + (CASE WHEN i % 2 = 0
        |    THEN CASE WHEN 2 * (ascii(substr(reverse(cand), i, 1)) - 48) > 9
        |         THEN 2 * (ascii(substr(reverse(cand), i, 1)) - 48) - 9
        |         ELSE 2 * (ascii(substr(reverse(cand), i, 1)) - 48) END
        |    ELSE ascii(substr(reverse(cand), i, 1)) - 48 END)) % 10 = 0""".stripMargin)
    spread(docs)
      .select(col("doc_id"),
        explode_outer(regexp_extract_all(col("text"),
          lit("\\b\\d{13,19}\\b"), lit(0))).as("cand"))
      .withColumn("ok", when(col("cand").isNotNull, luhnOk))
      .groupBy("doc_id").agg(
        count(col("cand")).as("n_candidates"),
        sum(when(col("ok") === true, 1L).otherwise(0L)).as("n_luhn_valid"))
      .withColumn("has_card_pii", col("n_luhn_valid") > 0)
      .orderBy("doc_id")
  }

  /** Zipf rank-frequency fit over the top-k vocabulary — the
    * corpus-health diagnostic (natural text slopes near −1; template
    * or synthetic floods bend the curve). OLS of ln(freq) on ln(rank)
    * with the [[graft.operators.Risk]] exact-sum contract: both logs
    * round to 6dp DECIMAL, the four moment sums are exact, and the
    * slope/intercept are single rounded double trees. The rank window
    * runs over the k rows AFTER the TakeOrdered limit — never the
    * vocabulary.
    */
  def zipfFit(docs: DataFrame, k: Int = 100): DataFrame = {
    val words = spread(docs).select(explode(split(col("text"), " ")).as("w"))
    val counts = words.groupBy("w").agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum("cnt").as("total_tokens"),
      count(lit(1)).as("vocab_size"))
    val top = counts.orderBy(desc("cnt"), col("w")).limit(k)
    val w = Window.orderBy(desc("cnt"), col("w")) // k rows post-limit
    val pts = top.withColumn("r", row_number().over(w))
      .withColumn("lx", round(log(col("r").cast("double")), 6).cast("decimal(18,6)"))
      .withColumn("ly", round(log(col("cnt").cast("double")), 6).cast("decimal(18,6)"))
    val fit = pts.agg(count(lit(1)).as("n"),
        sum("lx").as("sx"), sum("ly").as("sy"),
        sum(col("lx") * col("ly")).as("sxy"),
        sum(col("lx") * col("lx")).as("sxx"))
      .withColumn("den",
        col("n") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"))
      // a one-point (or all-rank-1) corpus has no spread: OLS is
      // undefined → null slope, never a divide-by-zero (ANSI throws)
      .withColumn("slope",
        when(col("den") =!= 0.0,
          round((col("n") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            col("den"), 4) + lit(0.0)))
      .withColumn("intercept",
        when(col("slope").isNotNull,
          round((col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
            col("n"), 4) + lit(0.0)))
    fit.crossJoin(broadcast(totals))
      .select("n", "total_tokens", "vocab_size", "slope", "intercept")
  }

  /** Feature-hashed document vectors (the hashing trick — Weinberger
    * et al. 2009): every token maps to one of `dim` buckets via the
    * cross-engine md5 polynomial ([[Sampling.hashBucket]]), and a
    * document's vector is its bucket-count histogram, kept SPARSE as
    * (doc_id, bucket, cnt) rows. The model-free embedding a curation
    * pipeline uses for clustering/similarity when no trained encoder
    * exists — exact integer counts, no RNG, no vocabulary to ship.
    */
  def hashedDocVectors(docs: DataFrame, dim: Int = 64): DataFrame =
    hashedVectorsUnsorted(docs, dim).orderBy("doc_id", "bucket")

  /** The vectors without the export sort — [[hashedNeighbors]] joins
    * and re-aggregates them, so a global order there would be a wasted
    * corpus-sized sort in the serving plan.
    */
  private def hashedVectorsUnsorted(docs: DataFrame, dim: Int): DataFrame =
    spread(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("bucket", Sampling.hashBucket(col("w"), dim))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))

  /** [[hashedDocVectors]] densified to a fixed-width float vector —
    * the trainer-free embedding column: docs with no encoder get a
    * (vec_id, embedding float[dim]) frame any [[Similarity]] consumer
    * (k-means, semdedup, cluster-balanced sampling) accepts unchanged.
    * One map-build per doc from the already-sparse rows; zero-count
    * buckets materialize only here, at the fixed `dim` width, never in
    * the sparse serving paths. Counts are exact integers, so the float
    * cast (and the double cast under k-means) is exact below 2²⁴.
    */
  def hashedDenseVectors(docs: DataFrame, dim: Int = 64): DataFrame =
    hashedVectorsUnsorted(docs, dim)
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("cnt")))).as("m"))
      .select(col("doc_id").as("vec_id"),
        transform(sequence(lit(0L), lit(dim - 1L)),
          i => coalesce(element_at(col("m"), i), lit(0L)).cast("float"))
          .as("embedding"))

  /** Cosine top-k over the hashed vectors by SPARSE algebra: the dot
    * product is one bucket-keyed join + sum of integer count products,
    * the norms are per-doc integer aggregates — both engines divide
    * IDENTICAL exact operands (the [[Similarity.sq8TopK]] discipline),
    * one rounded IEEE tree, vec-id tiebreak. Query side broadcasts;
    * the corpus side never shuffles on anything but the bucket key.
    */
  def hashedNeighbors(docs: DataFrame, dim: Int = 64, nQueries: Int = 5,
      k: Int = 3): DataFrame = {
    val v = hashedVectorsUnsorted(docs, dim)
    val n2 = v.groupBy("doc_id").agg(sum(col("cnt") * col("cnt")).as("n2"))
    val q = v.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("qid"), col("bucket"), col("cnt").as("qcnt"))
    val qn = n2.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("qid"), col("n2").as("qn2"))
    val dot = broadcast(q).join(v, "bucket")
      .filter(col("qid") =!= col("doc_id"))
      .groupBy("qid", "doc_id")
      .agg(sum(col("qcnt") * col("cnt")).as("dot"))
    val scored = dot.join(broadcast(qn), "qid")
      .join(n2, "doc_id")
      .withColumn("cos", round(col("dot").cast("double") /
        (sqrt(col("qn2").cast("double")) * sqrt(col("n2").cast("double"))), 4) + lit(0.0))
    Similarity.topK(scored, desc("cos"), k, Seq("qid", "rnk", "doc_id", "cos"), id = "doc_id")
  }

  /** RAKE keyphrase extraction (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents"): candidate phrases are the
    * maximal stopword-free token runs; each word scores deg/freq over
    * ALL candidate occurrences (deg = Σ length of phrases containing
    * it — words living in long phrases outrank loners); a phrase scores
    * the sum of its member word scores. Corpus-level top-k of distinct
    * phrases of at least `minWords` words.
    *
    * Determinism: word scores are one exact-integer division rounded to
    * the 6dp DECIMAL carrier; phrase scores are DECIMAL sums
    * (fold-order free); ranking is over the exact decimal with a phrase
    * tiebreak. Runs are found with gaps-and-islands (pos − row_number
    * per doc — the signal_islands pattern), so the only windows are
    * doc_id-partitioned.
    */
  def rakeKeyphrases(docs: DataFrame, k: Int = 20,
      minWords: Int = 2): DataFrame = {
    val sw = stopwords.map(s => s"'$s'").mkString(", ")
    val toks = spread(docs)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val nonStop = toks.filter(!expr(s"w IN ($sw)") && col("w") =!= "")
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val runs = nonStop.withColumn("isl", col("pos") - row_number().over(wd))
    val phrases = runs.groupBy(col("doc_id"), col("isl"))
      .agg(array_sort(collect_list(struct(col("pos"), col("w")))).as("ps"))
      .select(col("doc_id"), expr("transform(ps, p -> p.w)").as("ws"))
      .withColumn("phrase", array_join(col("ws"), " "))
      .withColumn("len", size(col("ws")).cast("long"))
    // word stats over EVERY candidate occurrence (single-word runs
    // included — they feed freq/deg even when filtered from the output)
    val stats = phrases.select(explode(col("ws")).as("w"), col("len"))
      .groupBy("w").agg(count(lit(1)).as("freq"), sum("len").as("deg"))
      .withColumn("wscore",
        round(col("deg") / col("freq"), 6).cast("decimal(18,6)"))
    val distinctPhrases = phrases.filter(col("len") >= minWords)
      .groupBy("phrase", "len").agg(count(lit(1)).as("n_occur"))
    distinctPhrases
      .withColumn("w", explode(split(col("phrase"), " ")))
      .join(stats.select("w", "wscore"), "w")
      .groupBy("phrase", "len", "n_occur")
      .agg(sum("wscore").as("score_d"))
      // the DECIMAL sum is the fold-order-free carrier; ranking and
      // output use its double rendering in BOTH engines so the top-k
      // boundary can never disagree on a decimal-vs-double tie
      .withColumn("score", col("score_d").cast("double"))
      .select("phrase", "len", "n_occur", "score")
      .orderBy(desc("score"), col("phrase"))
      .limit(k)
  }

  /** Heaps' law fit — vocabulary growth V(T) ≈ K·T^β as log-log OLS of
    * distinct-vocabulary size against cumulative token count over
    * `gridPoints` id-range prefixes of the corpus (the [[zipfFit]]
    * companion): β well below 1 is healthy sublinear growth; β near 1
    * means the corpus keeps minting new tokens — tokenizer leakage,
    * serial-number boilerplate, or spam.
    *
    * Exactness and shape: every grid point is two exact integer
    * aggregates — first occurrence = min(doc_id) per word, prefix
    * totals by VALUE cutoffs (pure integer `div` arithmetic, no
    * corpus-sized rank window); each prefix join is a broadcast of the
    * 10-row grid against doc-sized aggregates. The ln rounds onto the
    * 6dp DECIMAL carrier and the OLS runs [[zipfFit]]'s arithmetic
    * verbatim.
    */
  def heapsFit(docs: DataFrame, gridPoints: Int = 10): DataFrame = {
    val words = spread(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val firstDoc = words.groupBy("w").agg(min("doc_id").as("fd"))
    val docTokens = words.groupBy("doc_id").agg(count(lit(1)).as("nt"))
    val grid = docs.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .select(explode(sequence(lit(1), lit(gridPoints))).as("k"),
        col("lo"), col("hi"))
      .select(col("k"),
        expr(s"lo + ((hi - lo + 1) * k) div $gridPoints").as("cut"))
    val t = broadcast(grid).join(docTokens, col("doc_id") < col("cut"))
      .groupBy("k").agg(sum("nt").as("t_tokens"))
    val v = broadcast(grid).join(firstDoc, col("fd") < col("cut"))
      .groupBy("k").agg(count(lit(1)).as("v_vocab"))
    val pts = t.join(v, "k")
      .withColumn("lx",
        round(log(col("t_tokens").cast("double")), 6).cast("decimal(18,6)"))
      .withColumn("ly",
        round(log(col("v_vocab").cast("double")), 6).cast("decimal(18,6)"))
    pts.agg(count(lit(1)).as("n"),
        sum("lx").as("sx"), sum("ly").as("sy"),
        sum(col("lx") * col("ly")).as("sxy"),
        sum(col("lx") * col("lx")).as("sxx"),
        max("t_tokens").as("total_tokens"),
        max("v_vocab").as("vocab_size"))
      .withColumn("den",
        col("n") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"))
      .withColumn("beta",
        when(col("den") =!= 0.0,
          round((col("n") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            col("den"), 4) + lit(0.0)))
      .withColumn("log_k",
        when(col("beta").isNotNull,
          round((col("sy").cast("double") - col("beta") * col("sx").cast("double")) /
            col("n"), 4) + lit(0.0)))
      .select("n", "total_tokens", "vocab_size", "beta", "log_k")
  }

  /** Corpus-wide top-k n-grams by occurrence — the boilerplate/heavy-
    * hitter view (repeated headers, license blurbs, templates surface
    * here first; what it finds feeds the substring-dedup and repetition
    * filters). One non-distinct shingle pass + one hash aggregate with
    * map-side combine; the final top-k is a single-partition sort of k
    * rows. Ties break lexicographically so the cut is deterministic.
    */
  def topNgrams(docs: DataFrame, n: Int = 5, k: Int = 20): DataFrame =
    Dedup.shingles(docs, n, distinct = false)
      .groupBy("s").agg(count(lit(1)).as("occurrences"),
        countDistinct("doc_id").as("n_docs"))
      .orderBy(desc("occurrences"), col("s"))
      .limit(k)

  /** Phrase search over a positional inverted index: the corpus'
    * top-k trigrams (from the [[topNgrams]] heavy-hitter path) are
    * re-found as exact word-adjacency matches through (doc_id, pos,
    * word) postings — the classical positional-index probe, with the
    * gram-counting path riding along so the row itself certifies the
    * two independent constructions agree (`n_hits` from position
    * joins vs `occurrences` from shingle counts).
    *
    * Scale shape: postings are one narrow posexplode (linear, no
    * shuffle), then pruned to the ≤ 3k phrase words via a broadcast
    * semi-join BEFORE any self-join — the 100 TB posting-list
    * property that a phrase query touches only its own terms'
    * postings. The three-way adjacency join keys on (doc_id, pos) —
    * co-partitioned, linear in the pruned postings. The phrase table
    * itself is k rows, broadcast everywhere.
    */
  def phraseSearch(docs: DataFrame, k: Int = 5): DataFrame = {
    // materialize the k-row phrase table: `phrases` and `wordSet` are
    // two consumers, and their column-pruned copies of the topNgrams
    // subtree are NOT canonically equal, so ReuseExchange does not
    // dedup them — without the checkpoint the corpus-sized trigram
    // explode + aggregate ran TWICE per query (verified in the r19
    // before-plan: two separate Scan→Generate→HashAggregate→
    // TakeOrdered chains feeding the two broadcasts). The checkpoint
    // is k rows; the saved pass is corpus-sized (guide §2.4).
    val phrases = topNgrams(docs, 3, k)
      .select(col("s").as("phrase"), col("occurrences"),
        col("n_docs").as("n_docs_gram"))
      .withColumn("w1", split(col("phrase"), " ")(0))
      .withColumn("w2", split(col("phrase"), " ")(1))
      .withColumn("w3", split(col("phrase"), " ")(2))
      .localCheckpoint()
    val post = spread(docs)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos"), col("col").as("w"))
    val wordSet = phrases
      .select(explode(array(col("w1"), col("w2"), col("w3"))).as("w")).distinct()
    // NO checkpoint here although three join arms consume `pruned`:
    // the arms live in ONE job, so ReuseExchange dedups the identical
    // aggregation subtrees — a measured ×100 probe showed the barrier
    // REGRESSING 14.1 → 17.8 s. (Contrast Classify.nbLangScores, where
    // a mid-chain count() action splits jobs and a checkpoint wins.)
    val pruned = post.join(broadcast(wordSet), "w")
      .select(col("doc_id"), col("pos"), col("w"))
    val hits = broadcast(phrases).join(pruned.as("a"), col("a.w") === col("w1"))
      .join(pruned.as("b"),
        col("b.doc_id") === col("a.doc_id") &&
          col("b.pos") === col("a.pos") + 1 && col("b.w") === col("w2"))
      .join(pruned.as("c"),
        col("c.doc_id") === col("a.doc_id") &&
          col("c.pos") === col("a.pos") + 2 && col("c.w") === col("w3"))
      .select(col("phrase"), col("occurrences"), col("n_docs_gram"),
        col("a.doc_id").as("doc_id"))
    hits.groupBy("phrase", "occurrences", "n_docs_gram")
      .agg(count(lit(1)).as("n_hits"),
        countDistinct("doc_id").as("n_docs_pos"),
        min("doc_id").as("first_doc"))
      .withColumn("agree",
        col("n_hits") === col("occurrences") &&
          col("n_docs_pos") === col("n_docs_gram"))
      .select("phrase", "n_hits", "occurrences", "n_docs_pos", "n_docs_gram",
        "first_doc", "agree")
      .orderBy("phrase")
  }

  /** Bigram language-model scoring — the perplexity-style quality
    * filter training pipelines run (CCNet/KenLM shape, reduced to a
    * corpus-trained add-one-smoothed bigram model so both engines can
    * replay it exactly): per document, the mean log-probability of its
    * bigram tokens under P(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁)+V). Low
    * scores mark text the corpus finds improbable (gibberish, wrong
    * language, boilerplate-free noise); a deployment would train the
    * counts on a held-out reference corpus — same plan, different
    * input.
    *
    * Determinism: (cb+1)/(cw+V) divides exact integers (correctly
    * rounded, bit-identical cross-engine), ln rounds to 6 (absorbing
    * last-ulp libm divergence — the [[tfidfTopTerms]] precedent), and
    * the per-doc sum runs over DECIMAL(18,6) — exact, order-independent
    * — before the final rounded division.
    *
    * Shape: one explode + two hash aggregations (unigram, bigram
    * counts) + key joins — linear in corpus tokens, shuffles keyed on
    * word/bigram/doc_id only. V is one driver-side distinct count (a
    * scalar, as in [[tfidfTopTerms]]).
    */
  /** Session-scoped cache of the scored frame — the trained-quantizer
    * precedent: the bigram LM "trains" (unigram/bigram counts + vocab
    * size) once per corpus and is consumed by several queries
    * (text_lm_score, ccnet_buckets). Bounded LRU; blocks released on
    * eviction/session end.
    */
  private val lmCache = new graft.SessionCache[String, DataFrame](
    maxEntries = 8, release = org.apache.spark.sql.GraftShims.uncheckpoint(_))

  /** [[lmScore]] through the session model cache. */
  def lmScoreCached(docs: DataFrame, corpusKey: String): DataFrame =
    lmCache.getOrBuild(docs.sparkSession, corpusKey)(lmScore(docs).localCheckpoint())

  def lmScore(docs: DataFrame): DataFrame = {
    val words = spread(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val uni = words.groupBy("w").agg(count(lit(1)).as("cw"))
    val vocab = words.select("w").distinct().count()
    val big = Dedup.shingles(docs, 2, distinct = false)
      .withColumn("w1", split(col("s"), " ")(0))
    val bc = big.groupBy("s").agg(count(lit(1)).as("cb"))
    val lp = big.join(bc, "s").join(uni.withColumnRenamed("w", "w1"), "w1")
      .withColumn("lp",
        round(log((col("cb") + lit(1)) / (col("cw") + lit(vocab))), 6)
          .cast("decimal(18,6)"))
    val agg = lp.groupBy("doc_id").agg(
      count(lit(1)).as("n_bigrams"),
      round(sum(col("lp")).cast("double") / count(lit(1)), 4).as("avg_logp"))
    docs.select("doc_id").join(agg, Seq("doc_id"), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .select("doc_id", "n_bigrams", "avg_logp")
      .orderBy("doc_id")
  }

  /** Overlapping word-window chunks per document — the embedding/RAG
    * ingestion shape (each chunk later becomes one embedding row, e.g.
    * for the [[Similarity]] index). Chunk j covers words
    * [j·stride+1, j·stride+width]; a doc yields
    * ceil((len−width)/stride)+1 chunks (one when len ≤ width), so
    * consecutive chunks overlap by width−stride words and the final
    * chunk may run short.
    *
    * Shape: a pure narrow flatMap (split → sequence → explode → slice)
    * — no shuffle until the caller's sink; at 100 TB chunking is free
    * next to the embedding pass it feeds, and the ~width/stride
    * blow-up is the expected cost of overlap, not a plan defect.
    */
  def chunkWords(docs: DataFrame, width: Int = 64, stride: Int = 48): DataFrame = {
    require(stride > 0 && stride <= width,
      s"need 0 < stride <= width, got width=$width stride=$stride")
    val nChunks = when(col("len") <= width, lit(1L))
      .otherwise(ceil((col("len") - width) / lit(stride.toDouble)) + 1L)
    spread(docs)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("len", size(col("w")))
      .withColumn("cix", explode(sequence(lit(0L), nChunks - 1)))
      .select(col("doc_id"), col("cix").cast("int").as("chunk_idx"),
        slice(col("w"), (col("cix") * stride + 1).cast("int"), lit(width)).as("cw"))
      .select(col("doc_id"), col("chunk_idx"),
        concat_ws(" ", col("cw")).as("chunk_text"),
        size(col("cw")).as("n_words"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Per-document unigram entropy in nats — the vocabulary-diversity
    * quality signal (low entropy ⇒ repetitive/template text, the same
    * family as [[repetitionStats]] but distribution-level).
    *
    * Shape: one explode + two hash aggregations keyed on (doc_id, word)
    * then doc_id — linear in corpus tokens, partial-aggregated. Each
    * −p·ln p term is rounded to 6dp and summed over DECIMAL, so the
    * per-doc entropy is fold-order independent (same contract as
    * [[lmScore]]).
    */
  def wordEntropy(docs: DataFrame): DataFrame = {
    val words = spread(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val counts = words.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("doc_id")
      .agg(sum("c").as("t"), count(lit(1)).as("n_distinct"))
    val p = col("c") * lit(1.0) / col("t")
    counts.join(totals, "doc_id")
      .withColumn("term", round(p * log(p), 6).cast("decimal(18,6)"))
      .groupBy("doc_id")
      .agg(
        max(col("t")).as("n_words"),
        max(col("n_distinct")).as("n_distinct"),
        round((sum(col("term")) * lit(-1)).cast("double"), 6).as("entropy"))
      .orderBy("doc_id")
  }

  /** Gopher-style quality-rule battery (Rae et al. 2021, "Scaling
    * Language Models" §A1.1, public filter set): word-count bounds,
    * mean word length, alphabetic-word fraction, and stop-word hits,
    * with a combined pass verdict. Pure per-row projection over the
    * split array — no shuffle, fully codegen'd; at 100 TB this is a
    * narrow scan whose selectivity feeds the corpus-clean sink.
    */
  def gopherQuality(docs: DataFrame,
      minWords: Int = 20, maxWords: Int = 1000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8, minStopHits: Int = 2): DataFrame = {
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with", "a", "in")
    val sw = stop.map(s => s"'$s'").mkString(", ")
    spread(docs)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("mean_word_len", round(
        expr("aggregate(ws, 0L, (acc, x) -> acc + length(x))") * lit(1.0) / col("n_words"), 4))
      // case-insensitive: an ALL-CAPS word is still alphabetic (the
      // Gopher rule is about symbol/digit noise, not capitalization)
      .withColumn("alpha_frac", round(
        expr("size(filter(ws, x -> x rlike '[A-Za-z]'))") * lit(1.0) / col("n_words"), 4))
      .withColumn("n_stop_hits", expr(s"size(filter(ws, x -> x IN ($sw)))").cast("long"))
      .withColumn("gopher_pass",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(minMeanLen, maxMeanLen) &&
          col("alpha_frac") >= minAlphaFrac &&
          col("n_stop_hits") >= minStopHits)
      .select("doc_id", "n_words", "mean_word_len", "alpha_frac", "n_stop_hits", "gopher_pass")
      .orderBy("doc_id")
  }

  /** Token-count histogram on log2 buckets per language — the corpus
    * shape report (sequence-length planning for packing/truncation).
    * The bucket is `length(bin(n)) - 1` = ⌊log2 n⌋ in exact integer/
    * string arithmetic — no float log at bucket boundaries. One narrow
    * projection + one small hash aggregate.
    */
  def lengthHistogram(docs: DataFrame): DataFrame =
    docs
      .withColumn("n", size(split(col("text"), " ")).cast("long"))
      .withColumn("bucket", (length(bin(col("n"))) - 1).cast("int"))
      .groupBy("lang", "bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n").as("total_tokens"),
        min("n").as("min_tokens"),
        max("n").as("max_tokens"))
      .orderBy("lang", "bucket")

  /** BPE training, first merge iteration: corpus-weighted counts of
    * adjacent character pairs within words (Sennrich et al. 2016,
    * "Neural Machine Translation of Rare Words with Subword Units") —
    * the pair-merge frequency table a tokenizer trainer builds each
    * round. Counting runs over DISTINCT words weighted by word
    * frequency, so the explode is vocabulary-sized, not corpus-sized;
    * the top-k is a distributed TakeOrdered, never a global sort.
    */
  def bpePairCounts(docs: DataFrame, k: Int = 20): DataFrame =
    spread(docs)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .filter(length(col("word")) >= 2)
      .withColumn("i", explode(sequence(lit(1), length(col("word")) - 1)))
      .withColumn("pair", expr("substring(word, i, 2)"))
      .groupBy("pair").agg(sum("cnt").as("n"))
      .orderBy(desc("n"), col("pair"))
      .limit(k)

  /** Full BPE training loop (Sennrich et al. 2016): `iters` rounds of
    * count-adjacent-pairs → pick the most frequent → merge it into one
    * symbol everywhere — the table of learned merges, in order, with
    * their corpus-weighted frequencies.
    *
    * Symbol encoding: each word becomes a wrapped-symbol string, every
    * symbol delimited on BOTH sides by '·' ("the" → "·t··h··e·"), so a
    * merge is the plain string replace '·a··b·' → '·ab·'. The doubled
    * delimiter means adjacent matches share no characters — a
    * left-to-right non-overlapping replace (identical semantics in
    * Spark and DuckDB) merges exactly the occurrences real BPE merges,
    * including runs: [a,a,a] + merge(a,a) → [aa,a]. Ties on count break
    * lexicographically on (left, right) — fully deterministic.
    *
    * Scale shape: training never touches the corpus after the first
    * groupBy — state is the (distinct word, count) VOCABULARY frame,
    * cached once; each round is a vocab-sized explode + one
    * partial-aggregated sum and a 1-row TakeOrdered collect (the
    * driver sees only the winning pair, the bounded-collect pattern).
    * This is why distributed BPE training is feasible at 100 TB: the
    * corpus contributes counts once, the loop runs on the vocabulary.
    */
  def bpeTrainMerges(docs: DataFrame, iters: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (vocab, merges) = trainMerges(docs, iters)
    vocab.unpersist() // merges are driver-side already; nothing lazy remains
    merges
      .toDF("iter", "pair_left", "pair_right", "merged", "n")
      .orderBy("iter")
  }

  /** BPE encode: apply the merges [[bpeTrainMerges]] learns to every
    * corpus word and report per-document token counts — the train→apply
    * pair a tokenizer pipeline runs. `n_char_tokens` is the pre-merge
    * baseline (one symbol per character), `n_bpe_tokens` the post-merge
    * count; compression = chars/bpe.
    *
    * Scale shape: the merge chain is applied ONCE per distinct word
    * (the vocabulary frame), then joined back to the per-doc word
    * counts on the word key — the corpus-sized stream is touched by
    * one explode + one partial-aggregated groupBy, never by the
    * string-rewrite chain.
    */
  def bpeEncode(docs: DataFrame, iters: Int = 5): DataFrame = {
    val (vocabWords, merges) = trainMerges(docs, iters)
    // release the training cache; the one re-read the encode pass pays
    // is cheaper than pinning corpus-derived blocks past the call
    vocabWords.unpersist()
    val encoded = merges.foldLeft(
      vocabWords.withColumn("state", regexp_replace(col("word"), "(.)", "·$1·"))) {
      case (df, (_, l, r, _, _)) =>
        df.withColumn("state",
          replace(col("state"), lit(s"·${l}··${r}·"), lit(s"·${l}${r}·")))
    }.select(col("word"),
      size(split(regexp_replace(col("state"), "^·|·$", ""), "··")).as("n_toks"))
    val docWords = spread(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("occ"))
    docWords.join(encoded, "word")
      .groupBy("doc_id")
      .agg(sum("occ").as("n_words"),
        sum(col("occ") * length(col("word"))).as("n_char_tokens"),
        sum(col("occ") * col("n_toks")).as("n_bpe_tokens"))
      .withColumn("compression",
        round(col("n_char_tokens").cast("double") /
          col("n_bpe_tokens").cast("double"), 4))
      .orderBy("doc_id")
  }

  /** [[bpeEncodeBatched]] with the trainer run inline — convenience
    * form; a production train→encode pipeline should train ONCE with
    * [[bpeTrainMergesBatched]] and pass the merges frame through the
    * overload below, not pay training twice.
    */
  def bpeEncodeBatched(docs: DataFrame, rounds: Int = 3,
      batchSize: Int = 3): DataFrame =
    bpeEncodeBatched(docs, bpeTrainMergesBatched(docs, rounds, batchSize))

  /** [[bpeEncode]] over a BATCHED trainer's merges frame — the
    * train→apply pair for the scale path. Merges apply to the
    * vocabulary in global iter order (within a round the batch's
    * replaces commute — [[selectBatchWindow]]'s exclusions — so the
    * fold order is a convention, not a correctness requirement); the
    * corpus-sized stream is still touched only by one explode + one
    * partial-aggregated groupBy. The collect is merges-sized
    * (rounds × batch, the driver-bounded training output), never
    * corpus-sized.
    */
  def bpeEncodeBatched(docs: DataFrame, mergesDf: DataFrame): DataFrame = {
    val merges = mergesDf.orderBy("iter").collect()
      .map(r => (r.getAs[String]("pair_left"), r.getAs[String]("pair_right")))
    val vocab = spread(docs)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val encoded = merges.foldLeft(
      vocab.withColumn("state", regexp_replace(col("word"), "(.)", "·$1·"))) {
      case (df, (l, r)) =>
        df.withColumn("state",
          replace(col("state"), lit(s"·${l}··${r}·"), lit(s"·${l}${r}·")))
    }.select(col("word"),
      size(split(regexp_replace(col("state"), "^·|·$", ""), "··")).as("n_toks"))
    val docWords = spread(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("occ"))
    docWords.join(encoded, "word")
      .groupBy("doc_id")
      .agg(sum("occ").as("n_words"),
        sum(col("occ") * length(col("word"))).as("n_char_tokens"),
        sum(col("occ") * col("n_toks")).as("n_bpe_tokens"))
      .withColumn("compression",
        round(col("n_char_tokens").cast("double") /
          col("n_bpe_tokens").cast("double"), 4))
      .orderBy("doc_id")
  }

  /** Tokenizer fertility by language — BPE tokens per word for each
    * declared lang, from the [[bpeEncode]] pass: the multilingual-bias
    * diagnostic (a tokenizer trained on a skewed mix pays more tokens
    * per word for under-represented languages, inflating their
    * training/serving cost). Exact integer sums per lang; the two
    * ratios are single rounded divisions. One join + one labels-sized
    * aggregate on top of the encode pass.
    */
  def bpeFertilityByLang(docs: DataFrame, iters: Int = 5): DataFrame =
    docs.select("doc_id", "lang")
      .join(bpeEncode(docs, iters), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_bpe_tokens").as("n_bpe_tokens"),
        round(sum("n_bpe_tokens").cast("double") /
          sum("n_words").cast("double"), 4).as("fertility"),
        round(sum("n_char_tokens").cast("double") /
          sum("n_bpe_tokens").cast("double"), 4).as("char_compression"))
      .orderBy("lang")

  /** Shared trainer: returns (vocabulary frame with `word`/`cnt`, the
    * learned merges (iter, left, right, merged, n)). Each round is a
    * vocab-sized explode + one aggregate + a 1-row TakeOrdered collect.
    *
    * SCALE BOUND: the loop is serialized on the merge count — one
    * synchronous Spark job per merge, so a production 32k-merge
    * vocabulary is 32k round-trips. Exactness at the fixture's small
    * `iters` is why this stays the reference-parity path; large-vocab
    * training should use [[bpeTrainMergesBatched]], which selects a
    * symbol-disjoint batch of merges per count round.
    */
  private def trainMerges(docs: DataFrame, iters: Int)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) = {
    val vocab = spread(docs)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .cache()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var state = vocab.withColumn("state",
      regexp_replace(col("word"), "(.)", "·$1·"))
    var iter = 1
    var exhausted = false
    while (iter <= iters && !exhausted) {
      val syms = split(regexp_replace(col("state"), "^·|·$", ""), "··")
      val best = state
        .select(syms.as("ws"), col("cnt"))
        .filter(size(col("ws")) >= 2)
        .withColumn("i", explode(sequence(lit(1), size(col("ws")) - 1)))
        .select(element_at(col("ws"), col("i")).as("pair_left"),
          element_at(col("ws"), col("i") + 1).as("pair_right"), col("cnt"))
        .groupBy("pair_left", "pair_right").agg(sum("cnt").as("n"))
        .orderBy(desc("n"), col("pair_left"), col("pair_right"))
        .limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, n) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((iter, l, r, l + r, n))
        // Column-form literal replace — no SQL string escaping of the
        // symbol text needed
        state = state.withColumn("state",
          replace(col("state"), lit(s"·${l}··${r}·"), lit(s"·${l}${r}·")))
        iter += 1
      }
    }
    (vocab, merges.toSeq)
  }

  /** BATCHED BPE training — the production form of [[bpeTrainMerges]]'
    * loop. The serial trainer is exact but pays ONE synchronous Spark
    * job per merge: a 32k-merge production vocabulary is 32k serial
    * round-trips, the loop's only scale bound. The standard fix (used
    * by practical BPE trainers) is to select SEVERAL merges per count
    * round: each round counts pairs once, takes the top `batchSize`
    * candidates by (count desc, left, right), and greedily keeps every
    * candidate compatible with all KEPT higher-ranked candidates
    * ([[selectBatchWindow]]) — jobs drop from one per merge to one per
    * round (32k merges at batch 256 ≈ 125 rounds at full selection;
    * the measured per-round yield on the documents corpus is recorded
    * in PLANS.md round 18).
    *
    * Why the conflict rule makes a round's batch commute: in the
    * wrapped-symbol encoding a merge is the replace '·a··b·' → '·ab·'.
    * One selected replace can interact with another only by (a) sharing
    * a symbol instance (overlapping occurrences, or destroying the
    * other's adjacency) — excluded by symbol-set DISJOINTNESS — or (b)
    * CREATING the other's pattern, which requires its merged string
    * l||r to BE one of the other's symbols (e.g. (a,bc) creating 'abc'
    * occurrences for a co-selected (abc,d)) — excluded by the
    * merged-equals-symbol clause in EITHER rank direction. With both
    * exclusions, one pass applies the batch in any order identically
    * (PropertiesSpec holds this across multi-round symbol alphabets).
    * What batching changes vs serial BPE is only the counts CADENCE:
    * candidates 2..k are chosen on the counts as of the round start,
    * not recounted after each merge — the standard, documented
    * approximation. Selection is SEQUENTIAL-GREEDY over the window
    * (keep unless conflicting with a KEPT candidate —
    * [[selectBatchWindow]]), a driver-side fold over the ≤ batchSize
    * collected rows: the same one-aggregate-per-round job shape at any
    * batch size, and oracle-expressible as an unrolled kept-set chain.
    *
    * Output: (iter, round, rk, pair_left, pair_right, merged, n) —
    * iter the global merge index in (round, rank) order.
    */
  /** Two window candidates are compatible iff their one-pass replaces
    * provably commute: (a) DISJOINT symbol sets — no shared symbol
    * instance, so neither replace can consume or un-adjoin the other's
    * occurrences — and (b) NO merged-equals-symbol relation in either
    * direction (x.left||x.right ∉ {y.left, y.right} both ways). (a)
    * alone is not enough: a merge whose RESULT is another candidate's
    * symbol creates new occurrences of that candidate's pattern
    * mid-pass, making application order-dependent (e.g. (a,bc) next to
    * (abc,d)).
    */
  private def compatibleMerges(a: (Int, String, String, Long),
      b: (Int, String, String, Long)): Boolean = {
    val (_, al, ar, _) = a; val (_, bl, br, _) = b
    (Set(bl, br) intersect Set(al, ar)).isEmpty &&
      bl + br != al && bl + br != ar && al + ar != bl && al + ar != br
  }

  /** The batched trainer's in-window selection: SEQUENTIAL-GREEDY over
    * the ranked candidate window (rk, left, right, n) — walk ranks
    * ascending, keep a candidate iff it is [[compatibleMerges]]-
    * compatible with every candidate KEPT so far. Kept candidates are
    * pairwise compatible, so the round's one-pass application commutes
    * (PropertiesSpec). Greedy-vs-kept instead of the earlier
    * drop-on-any-higher-RANKED-conflict rule because real-corpus
    * windows are chain-shaped: the top pairs share symbols
    * transitively ((a,b),(b,c),(c,d),…), and the rank-window rule
    * discarded every candidate touched by a DROPPED one — measured
    * 5.25 merges/round at batch 64 AND 256 on the sf0.1 documents
    * corpus (ScaleProbe bpe_selection_fraction, round 18), an under-
    * selection toward serial cadence. Selection stays a driver-side
    * fold over the ≤ batchSize collected window (one count job per
    * round regardless); the oracle mirrors the fold as an unrolled
    * kept-set CTE chain ([[graft.queries.TextQueries]] bpeBatchChainSql).
    */
  private[graft] def selectBatchWindow(
      ranked: Seq[(Int, String, String, Long)])
      : Seq[(Int, String, String, Long)] =
    ranked.sortBy(_._1).foldLeft(Vector.empty[(Int, String, String, Long)]) {
      (kept, c) => if (kept.forall(compatibleMerges(_, c))) kept :+ c else kept
    }

  /** Init-fold checkpoint cadence for continued training: bounds the
    * inherited-merge replace chain Catalyst analyzes at once (a 32k
    * inheritance folds as 500 chunks of 64, each plan one chunk deep).
    */
  private[graft] val bpeInitChunk = 64

  def bpeTrainMergesBatched(docs: DataFrame, rounds: Int = 3,
      batchSize: Int = 3): DataFrame =
    bpeTrainBatchedFrom(docs, Seq.empty, rounds, batchSize, 0, 0)

  /** CONTINUED batched training — the extend leg of the stored
    * tokenizer artifact ([[graft.operators.Sink.extendBpeTokenizer]]).
    * The inherited merges (`init`, in iter order) are applied to the
    * fresh corpus's vocabulary before the first count round, so round
    * `roundOffset + 1` counts pairs exactly where a single-shot train
    * that had already emitted `init` would: extending a tokenizer on
    * the SAME corpus is bit-identical to training `roundOffset+rounds`
    * rounds in one shot (DriftBpeSpec pins this), and extending on a
    * NEW corpus adapts the vocabulary to the new domain without
    * recounting the old one. The init fold is chunked with a
    * localCheckpoint every [[bpeInitChunk]] replaces: a production
    * 32k-merge inheritance would otherwise hand Catalyst a 32k-deep
    * expression tree (the per-round checkpoint rationale below, at the
    * init scale).
    */
  private[graft] def bpeTrainBatchedFrom(docs: DataFrame,
      init: Seq[(String, String)], rounds: Int, batchSize: Int,
      iterOffset: Int, roundOffset: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = spread(docs)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .cache()
    var state = vocab.withColumn("state",
      regexp_replace(col("word"), "(.)", "·$1·"))
    var checkpointed: Option[DataFrame] = None
    init.grouped(bpeInitChunk).foreach { chunk =>
      val applied = chunk.foldLeft(state) { case (st, (l, r)) =>
        st.withColumn("state",
          replace(col("state"), lit(s"·${l}··${r}·"), lit(s"·${l}${r}·")))
      }
      state = applied.localCheckpoint()
      checkpointed.foreach(org.apache.spark.sql.GraftShims.uncheckpoint)
      checkpointed = Some(state)
    }
    val out = scala.collection.mutable
      .ArrayBuffer[(Int, Int, Int, String, String, String, Long)]()
    var iter = iterOffset
    var round = roundOffset + 1
    var exhausted = false
    // per-round checkpoint of the rewritten state: without it round i
    // re-executes every prior round's nested replaces (O(rounds²·batch)
    // recompute) and the ANALYZED plan grows by batchSize replace calls
    // per round — at the production scale this exists for (32k merges ≈
    // 125 rounds × 256) Catalyst would be analyzing a 32k-deep
    // expression tree. The checkpoint pins each round's vocab-sized
    // result and resets the plan to one round deep; the previous
    // round's blocks release eagerly.
    while (round <= roundOffset + rounds && !exhausted) {
      val syms = split(regexp_replace(col("state"), "^·|·$", ""), "··")
      // one vocab-sized aggregate + ONE bounded (≤ batchSize rows)
      // TakeOrdered collect per round — the driver never sees more
      // than the candidate window
      val top = state
        .select(syms.as("ws"), col("cnt"))
        .filter(size(col("ws")) >= 2)
        .withColumn("i", explode(sequence(lit(1), size(col("ws")) - 1)))
        .select(element_at(col("ws"), col("i")).as("pair_left"),
          element_at(col("ws"), col("i") + 1).as("pair_right"), col("cnt"))
        .groupBy("pair_left", "pair_right").agg(sum("cnt").as("n"))
        .orderBy(desc("n"), col("pair_left"), col("pair_right"))
        .limit(batchSize)
        .collect()
      if (top.isEmpty) exhausted = true // no pairs left — stop paying
      else {                            // vocab-sized jobs for nothing
        val ranked = top.toSeq.zipWithIndex.map { case (r, i) =>
          (i + 1, r.getString(0), r.getString(1), r.getLong(2)) }
        val selected = selectBatchWindow(ranked)
        selected.foreach { case (rk, l, r, n) =>
          iter += 1
          out += ((iter, round, rk, l, r, l + r, n))
        }
        val applied = selected.foldLeft(state) { case (st, (_, l, r, _)) =>
          st.withColumn("state",
            replace(col("state"), lit(s"·${l}··${r}·"), lit(s"·${l}${r}·")))
        }
        state = applied.localCheckpoint()
        checkpointed.foreach(org.apache.spark.sql.GraftShims.uncheckpoint)
        checkpointed = Some(state)
        round += 1
      }
    }
    checkpointed.foreach(org.apache.spark.sql.GraftShims.uncheckpoint)
    vocab.unpersist()
    out.toSeq
      .toDF("iter", "round", "rk", "pair_left", "pair_right", "merged", "n")
      .orderBy("iter")
  }

  /** Template detection by shared k-word prefix: documents that open
    * identically (mail templates, boilerplate headers, scraped forms)
    * group on their prefix. One projection + one hash aggregate keyed
    * on the prefix string; at 100 TB the prefix should be hashed
    * (md5) before the shuffle — kept as text here so the groups are
    * human-readable.
    */
  def templatePrefixGroups(docs: DataFrame, k: Int = 8): DataFrame =
    docs
      .select(col("doc_id"),
        array_join(slice(split(col("text"), " "), 1, k), " ").as("prefix"))
      .groupBy("prefix")
      .agg(
        count(lit(1)).as("n_docs"),
        min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"))
      .filter(col("n_docs") > 1)

  /** Document fingerprints: whole-content hash of normalized text plus
    * a winnowing-style minimum over 5-word rolling shingle hashes.
    */
  def fingerprints(docs: DataFrame): DataFrame = {
    // min over rolling hashes is duplicate-insensitive → skip the
    // distinct shuffle
    val sh5 = Dedup.shingles(
      docs.select(col("doc_id"), lower(col("text")).as("text")), 5, distinct = false)
    val winnow = sh5.groupBy("doc_id").agg(min(md5(col("s"))).as("winnow_min"))
    docs.select(col("doc_id"), md5(lower(col("text"))).as("content_md5"))
      .join(winnow, Seq("doc_id"), "left")
      .orderBy("doc_id")
  }
}
