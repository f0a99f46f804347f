package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftShims, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, Literal, Round, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}

import graft.functions.L2SqDistance
import Similarity.Training

/** The driver branch of k-means training ([[Similarity.trainOn]]): when
  * the training sample fits [[Sink.maxDriverMapEntries]] doubles (rows ×
  * dims), collect it once and run the init and every Lloyd's round on
  * the driver. On a corpus at or below the sample cap that is one
  * limited collect (a `limit(cap + 1)`, which Spark runs as an
  * incremental take: one job per round of partitions it scans) that
  * returns every row, exactly the sample [[Similarity.trainSample]]
  * keeps, where the Spark loop runs a checkpoint, an init and one
  * argmin-and-means job per round. Above the cap the collect is the
  * sample itself.
  *
  * The result is the Spark loop's ([[Similarity.lloyds]]) bit for bit,
  * because each decision uses the engine's own arithmetic in the order
  * the Spark loop applies it:
  *  - a distance is Catalyst's [[L2SqDistance]] rounded by Spark's
  *    `Round` to 6dp, and the nearest cell is the least (distance, cell)
  *    under Spark's double ordering: [[Similarity.nearestCell]]'s rule,
  *    the lowest cell id on an exact tie;
  *  - a mean is `avg` as Spark's partial → final aggregate computes it:
  *    a sum per source partition in row order, the partition sums added
  *    in partition order, divided by the count, then `Round(·, 6)`
  *    HALF_UP;
  *  - the init is the k lowest vec_ids per group, and a cell that wins
  *    no row drops out.
  * A sample these rules cannot reproduce stays on the Spark branch: a
  * null vec_id, vector or element, vectors of unequal lengths, a vec_id
  * that is not an int or a long, or a repeated vec_id at an init
  * boundary.
  */
private[operators] object DriverLloyds {

  private val vecType = ArrayType(DoubleType)
  private val l2sq = L2SqDistance(BoundReference(0, vecType, nullable = true),
    BoundReference(1, vecType, nullable = true))
  private val round6 = Round(BoundReference(0, DoubleType, nullable = true), Literal(6))

  private def rounded(x: Double): Double =
    round6.eval(InternalRow(x)).asInstanceOf[Double]

  /** The trained (trainGroups…, cell, c) table, or None when the sample
    * does not fit the budget or has a shape the Spark loop must train.
    */
  def train(t: Training): Option[DataFrame] =
    t.rows.schema("vec_id").dataType match {
      case LongType | IntegerType => collectSample(t).flatMap(fit(t, _))
      case _ => None
    }

  /** Up to `limit` rows of `df` as (groups…, vec_id, v, dims, part). `v`
    * is withheld (null) where the vector has more than `maxDims`
    * elements, so the collect carries at most limit × maxDims doubles;
    * `part` is the row's source partition.
    */
  private def grab(df: DataFrame, groups: Seq[String], limit: Long,
      maxDims: Long): Array[InternalRow] =
    GraftShims.collectInternal(df.select(groups.map(col) :+ col("vec_id") :+
        when(size(col("v")) <= maxDims, col("v")).as("v") :+ size(col("v")).as("dims") :+
        spark_partition_id().as("part"): _*).limit(limit.toInt))

  /** The training sample's rows, if it fits the budget: the first
    * collect takes up to cap + 1 rows at an even share of the budget
    * each. At most cap rows, all carried, is the whole sample. Else a
    * second collect sized by the widest vector seen takes the corpus
    * (a vector wider than its share was withheld) or, above the cap,
    * [[Similarity.trainSample]], unless the sample's rows (the
    * corpus's, or the expected sampleRows above the cap) × dims already
    * exceed the budget: then the Spark loop trains without a second
    * collect.
    */
  private def collectSample(t: Training): Option[Array[InternalRow]] = {
    val budget = Sink.maxDriverMapEntries
    val v = t.groups.size + 1
    def carried(rs: Array[InternalRow], lim: Long) =
      rs.length <= lim && rs.forall(!_.isNullAt(v))
    val cap = math.min(math.min(t.sampleRows.toLong, budget), Int.MaxValue - 1L)
    val first = grab(t.rows, t.groups, cap + 1, budget / (cap + 1))
    if (carried(first, cap)) Some(first)
    else {
      val dims = first.iterator.filterNot(_.isNullAt(v + 1)).map(_.getInt(v + 1)).maxOption
        .getOrElse(0)
      // (lim + 1) rows of `dims` doubles stay within the budget
      val lim = if (dims > 0) budget / dims - 1 else -1L
      val underCap = first.length <= cap
      val rows = if (underCap) first.length.toLong else t.sampleRows.toLong
      if (rows > lim) None
      else {
        val src = if (underCap) t.rows else Similarity.trainSample(t.rows, t.sampleRows, t.groups)
        Some(grab(src, t.groups, lim + 1, dims)).filter(carried(_, lim))
      }
    }
  }

  /** A group's centroids in ascending cell order. */
  private final case class Cells(ids: Array[Any], cs: Array[ArrayData])

  /** Lloyd's over the collected sample `rows` (as [[grab]] lays them out). */
  private def fit(t: Training, rows: Array[InternalRow]): Option[DataFrame] = {
    val schema = t.rows.schema
    val g = t.groups.size
    val (idAt, vAt, partAt) = (g, g + 1, g + 3)
    val toScala = t.groups.map(c => CatalystTypeConverters.createToScalaConverter(schema(c).dataType))
    val idLong: InternalRow => Long =
      if (schema("vec_id").dataType == LongType) _.getLong(idAt) else _.getInt(idAt).toLong
    val (m, width) = t.split.getOrElse((1, 0))
    val vecs = rows.map(_.getArray(vAt))
    val dims = vecs.headOption.fold(1)(_.numElements())
    val regular = dims >= 1 && dims >= m * width && rows.forall(!_.isNullAt(idAt)) &&
      vecs.forall(a => a.numElements() == dims && (0 until dims).forall(!a.isNullAt(_)))
    if (!regular) return None

    // training rows: every sampled vector, or each of its m subvectors
    val n = rows.length * m
    val keys = mutable.LinkedHashMap.empty[Seq[Any], Int]
    val grp = new Array[Int](n)
    val vec = new Array[ArrayData](n)
    for (r <- rows.indices; s <- 0 until m) {
      val base = t.groups.indices.map(i => toScala(i)(rows(r).get(i, schema(t.groups(i)).dataType)))
      val i = r * m + s
      grp(i) = keys.getOrElseUpdate(if (t.split.isEmpty) base else base :+ s, keys.size)
      vec(i) =
        if (t.split.isEmpty) vecs(r)
        else UnsafeArrayData.fromPrimitiveArray(vecs(r).toDoubleArray.slice(s * width, (s + 1) * width))
    }
    val groupKeys = keys.toArray.sortBy(_._2).map(_._1)

    // init: each group's k lowest vec_ids, numbered by vec_id or rank;
    // a repeated id at the boundary has no one answer, so Spark decides
    val members = (0 until n).groupBy(grp)
    val init = Array.tabulate(groupKeys.length) { gi =>
      val lowest = members(gi).sortBy(i => idLong(rows(i / m))).take(t.k + 1)
      val ids = lowest.map(i => idLong(rows(i / m)))
      if (ids.distinct.length < ids.length) None
      else {
        val chosen = lowest.take(t.k).toArray
        Some(Cells(chosen.indices.map(j =>
          if (t.rankCells) j else rows(chosen(j) / m).get(idAt, schema("vec_id").dataType)).toArray,
          chosen.map(vec)))
      }
    }
    if (init.exists(_.isEmpty)) return None

    // source partitions ascending, each holding its rows in row order
    val parts = (0 until n).groupBy(i => rows(i / m).getInt(partAt)).toArray.sortBy(_._1)
      .map(_._2.toArray)
    val trained = (1 until t.iters).foldLeft(init.map(_.get))(
      (cent, _) => lloydsRound(cent, grp, vec, parts, if (t.split.isEmpty) dims else width))

    val out = for (gi <- groupKeys.indices.toArray; j <- trained(gi).ids.indices)
      yield Row.fromSeq(groupKeys(gi) :+ trained(gi).ids(j) :+ trained(gi).cs(j).toDoubleArray.toSeq)
    Some(Similarity.localRelation(t.rows.sparkSession, out,
      Similarity.nullable(t.init(t.shape(t.rows)).schema)))
  }

  /** The nearest of `cs` to `v`: the least (rounded distance, index)
    * under Spark's double ordering. Only cells whose raw distance lies
    * within rounding reach of the raw minimum are rounded and compared
    * (rounding is monotone, so no other cell can round to the minimum).
    */
  private def nearest(v: ArrayData, cs: Array[ArrayData]): Int = {
    val row = new GenericInternalRow(Array[Any](v, null))
    val raw = cs.map { c => row.update(1, c); l2sq.eval(row).asInstanceOf[Double] }
    val min = raw.filterNot(_.isNaN).minOption
    val reach = min.fold(Double.PositiveInfinity)(x => x + 2e-6 + 8 * math.ulp(x))
    var best = -1
    var bestD = 0.0
    for (j <- cs.indices if min.isEmpty || raw(j) <= reach) {
      val d = rounded(raw(j))
      if (best < 0 || SQLOrderingUtil.compareDoubles(d, bestD) < 0) { best = j; bestD = d }
    }
    best
  }

  /** One round: assign every training row, then each cell's rounded
    * mean, summed per source partition in row order and combined in
    * partition order. Returns each group's surviving cells.
    */
  private def lloydsRound(cent: Array[Cells], grp: Array[Int], vec: Array[ArrayData],
      parts: Array[Array[Int]], dims: Int): Array[Cells] = {
    val base = cent.scanLeft(0)(_ + _.ids.length)
    val cell = new Array[Int](grp.length)
    java.util.stream.IntStream.range(0, grp.length).parallel().forEach { i =>
      val j = nearest(vec(i), cent(grp(i)).cs)
      cell(i) = if (j < 0) -1 else base(grp(i)) + j
    }
    val partial = new Array[mutable.LongMap[(Array[Double], Array[Long])]](parts.length)
    java.util.stream.IntStream.range(0, parts.length).parallel().forEach { p =>
      val sums = mutable.LongMap.empty[(Array[Double], Array[Long])]
      for (i <- parts(p) if cell(i) >= 0) {
        val (s, c) = sums.getOrElseUpdate(cell(i), (new Array[Double](dims), Array(0L)))
        var d = 0
        while (d < dims) { s(d) += vec(i).getDouble(d); d += 1 }
        c(0) += 1
      }
      partial(p) = sums
    }
    val sum = new Array[Array[Double]](base.last)
    val count = new Array[Long](base.last)
    for (sums <- partial; (k, (s, c)) <- sums) {
      if (sum(k.toInt) == null) sum(k.toInt) = new Array[Double](dims)
      val f = sum(k.toInt)
      var d = 0
      while (d < dims) { f(d) = f(d) + s(d); d += 1 }
      count(k.toInt) += c(0)
    }
    cent.indices.toArray.map { gi =>
      val won = cent(gi).ids.indices.filter(j => count(base(gi) + j) > 0)
      Cells(won.map(cent(gi).ids).toArray, won.map { j =>
        val k = base(gi) + j
        UnsafeArrayData.fromPrimitiveArray(sum(k).map(x => rounded(x / count(k).toDouble))): ArrayData
      }.toArray)
    }
  }
}
