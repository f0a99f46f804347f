package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (most-recent-event) join — an operator category Spark lacks
  * natively (SURVEY.md §2.3 ⊘). Implemented Spark-first with the
  * union + last(ignoreNulls) ordered-window technique instead of a
  * custom physical operator: tag both sides, union on the shared key /
  * time axis, and carry the latest right-side values forward to each
  * left row with an unbounded-preceding window.
  *
  * Cost model: one range shuffle on the partition key + one sort on
  * (key, ts, side) — identical to what a dedicated merge-join-based
  * as-of operator needs, so there is nothing to gain from a custom
  * SparkPlan here; Catalyst's window machinery already gives the
  * single-pass merge. Skew-safe for keys with bounded history; at
  * 100 TB a hot key is salted by time-bucket, with bucket-boundary
  * anchors replicated.
  *
  * Ties (right row at exactly the left timestamp) are inclusive —
  * right side sorts before left at equal ts — matching DuckDB/pandas
  * `merge_asof` backward semantics (the oracle uses DuckDB's native
  * ASOF JOIN, so equivalence is checked cross-implementation).
  */
object AsOf {

  /** Both sides tagged (`__side` 0 = right/reference, 1 = left/probe)
    * on one schema — keys, ts, side, the value columns (null on the left),
    * the left's other columns (null on the right) — unioned and
    * range-partitioned on the keys. A union drops its children's
    * partitioning, so one shuffle is paid here either way; a range one
    * clusters each key for the window and also orders the partitions,
    * so a trailing `orderBy(keys…, ts)` needs no further exchange.
    */
  private def tagged(left: DataFrame, right: DataFrame, keys: Seq[String],
      ts: String, valueCols: Seq[String]): DataFrame = {
    val rest = left.columns.filterNot(c => keys.contains(c) || c == ts)
    val taggedLeft = left
      .withColumn("__side", lit(1))
      .select(keys.map(col) ++ Seq(col(ts), col("__side")) ++
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)) ++
        rest.map(col): _*)
    val taggedRight = right
      .withColumn("__side", lit(0))
      .select(keys.map(col) ++ Seq(col(ts), col("__side")) ++ valueCols.map(col) ++
        rest.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    taggedLeft.unionByName(taggedRight).repartitionByRange(keys.map(col): _*)
  }

  // backward: at equal ts the reference row sorts first, so last() sees
  // it (inclusive match)
  private def backward(keys: Seq[String], ts: String) = Window
    .partitionBy(keys.map(col): _*)
    .orderBy(col(ts).asc, col("__side").asc)
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  // forward: left (1) sorts before right (0) at equal ts; the FOLLOWING
  // frame starts at the current row, so the equal-ts reference still
  // matches
  private def forward(keys: Seq[String], ts: String) = Window
    .partitionBy(keys.map(col): _*)
    .orderBy(col(ts).asc, col("__side").desc)
    .rowsBetween(Window.currentRow, Window.unboundedFollowing)

  private def probeRows(carried: DataFrame): DataFrame =
    carried.filter(col("__side") === 1).drop("__side")

  /** Left rows enriched with the most recent right-side values at or
    * before each left row's timestamp.
    *
    * @param left      probe side
    * @param right     reference side: key columns, ts column, value columns
    * @param keys      equality key columns present on both sides
    * @param ts        time column name present on both sides
    * @param valueCols right-side value columns to carry forward
    */
  def joinAsOf(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
      valueCols: Seq[String]): DataFrame = {
    val w = backward(keys, ts)
    probeRows(valueCols.foldLeft(tagged(left, right, keys, ts, valueCols)) {
      (df, c) => df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    })
  }

  /** Forward as-of: left rows enriched with the EARLIEST right-side
    * values at or after each left timestamp — the "next scheduled
    * event" direction (next earnings date, next rebalance). Mirror of
    * [[joinAsOf]]: at equal ts the left row sorts first and the
    * following-window still sees the reference row, so ties are
    * inclusive, matching DuckDB's native forward ASOF (`probe.ts <=
    * ref.ts`), which the oracle uses. Same cost model and the same
    * salting recipe apply (buckets + boundary anchors, reversed).
    */
  def joinAsOfForward(left: DataFrame, right: DataFrame, keys: Seq[String],
      ts: String, valueCols: Seq[String]): DataFrame = {
    val w = forward(keys, ts)
    probeRows(valueCols.foldLeft(tagged(left, right, keys, ts, valueCols)) {
      (df, c) => df.withColumn(c, first(col(c), ignoreNulls = true).over(w))
    })
  }

  /** [[joinAsOf]] and [[joinAsOfForward]] in one pass over one tagged
    * union: each value column `c` comes back as `b_c` (backward match)
    * and `f_c` (forward match). One shuffle instead of two, and no join
    * to pair the two results up.
    */
  def joinAsOfBothWays(left: DataFrame, right: DataFrame, keys: Seq[String],
      ts: String, valueCols: Seq[String]): DataFrame = {
    val (bw, fw) = (backward(keys, ts), forward(keys, ts))
    val both = valueCols.foldLeft(tagged(left, right, keys, ts, valueCols)) {
      (df, c) => df
        .withColumn(s"b_$c", last(col(c), ignoreNulls = true).over(bw))
        .withColumn(s"f_$c", first(col(c), ignoreNulls = true).over(fw))
    }
    probeRows(both.drop(valueCols: _*))
  }

  /** [[joinAsOf]] with hot-key time-bucket salting — the 100 TB path for
    * keys whose history is NOT bounded: the plain plan sorts each key's
    * entire timeline in one task, so one hot key (an index symbol with
    * decades of ticks) is one straggler. Here the timeline is cut by
    * `bucketOf(ts)` (default: calendar year) and the window partitions
    * on (keys, bucket) — parallelism keys × buckets — with the
    * bucket-boundary problem solved by REPLICATED ANCHORS: each left
    * (key, bucket) that has any earlier reference history gets one
    * synthetic row carrying the latest reference values from before the
    * bucket, computed by an as-of join at the (key, bucket) SUMMARY
    * level (keys × buckets rows — the only per-key-sequential step, on
    * a frame 3-6 orders of magnitude smaller than the data).
    *
    * Result-identical to [[joinAsOf]] for any bucketing (AsOfSpec
    * property): a left row's match either lies in its own bucket (seen
    * directly) or is exactly the anchor row (the latest reference at or
    * before the bucket start — strictly-before ties are impossible
    * across a bucket boundary since buckets partition the ts domain).
    */
  def joinAsOfSalted(left: DataFrame, right: DataFrame, keys: Seq[String],
      ts: String, valueCols: Seq[String],
      bucketOf: Column => Column = year(_)): DataFrame = {
    val leftCols = left.columns
    val keyCols = keys.map(col)
    val rest = leftCols.filterNot(c => keys.contains(c) || c == ts).toSeq
    val lb = left.withColumn("__bkt", bucketOf(col(ts)).cast("long"))
    val rb = right.withColumn("__bkt", bucketOf(col(ts)).cast("long"))
    // latest reference VALUES per (key, bucket): per-column
    // last(ignoreNulls) over the whole bucket, emitted on the bucket's
    // last row. A plain latest-ROW tail would let a trailing in-bucket
    // NULL clobber an earlier non-null value that [[joinAsOf]]'s
    // ignoreNulls carry surfaces — per-column tails keep the salted
    // plan identical under NULL value columns too (ts ties collapse to
    // the same bucket-wide values, so the row_number tiebreak cannot
    // leak nondeterminism).
    val bucketAll = Window.partitionBy(keyCols :+ col("__bkt"): _*)
      .orderBy(col(ts))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val tailW = Window.partitionBy(keyCols :+ col("__bkt"): _*).orderBy(col(ts).desc)
    val rLast = valueCols.foldLeft(rb) {
        (d, c) => d.withColumn(c, last(col(c), ignoreNulls = true).over(bucketAll))
      }
      .withColumn("__rn", row_number().over(tailW))
      .filter(col("__rn") === 1).drop("__rn")
    // summary-level as-of: for each populated left (key, bucket), the
    // latest reference row from any STRICTLY earlier bucket
    val probe = lb.select(keyCols :+ col("__bkt"): _*).distinct()
      .withColumn("__b", col("__bkt") - 1)
    val refSummary = rLast.select(
      keyCols ++ Seq(col("__bkt").as("__b"), col(ts).as("__ats")) ++
        valueCols.map(col): _*)
    val anchors = joinAsOf(probe, refSummary, keys, "__b", valueCols :+ "__ats")
      .filter(col("__ats").isNotNull)
      .select(keyCols ++
        Seq(col("__bkt"), col("__ats").as(ts), lit(0).as("__side")) ++
        valueCols.map(col) ++
        rest.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val taggedLeft = lb.withColumn("__side", lit(1))
      .select(keyCols ++ Seq(col("__bkt"), col(ts), col("__side")) ++
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)) ++
        rest.map(col): _*)
    val taggedRight = rb.withColumn("__side", lit(0))
      .select(keyCols ++ Seq(col("__bkt"), col(ts), col("__side")) ++
        valueCols.map(col) ++
        rest.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    // anchor ts is from an earlier bucket → sorts before every in-bucket
    // row; within the bucket the (ts, side) order is joinAsOf's
    val w = Window
      .partitionBy(keyCols :+ col("__bkt"): _*)
      .orderBy(col(ts).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = valueCols.foldLeft(
      taggedLeft.unionByName(taggedRight).unionByName(anchors)) {
      (df, c) => df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 1).drop("__side", "__bkt")
  }
}
