package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the classic backend's Column ⇄ Expression conversion, which
  * is `private[sql]` in Spark 4 (org.apache.spark.sql.classic
  * .ExpressionUtils). Needed to expose custom Catalyst expressions
  * (graft.functions.*) as user-facing Columns.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Split an order column into (raw key, direction re-applier). Spark 4
    * represents `desc`/`asc_nulls_*` as an internal SortOrder ColumnNode
    * that the public Column API can't see through; callers that need to
    * project the key VALUE and later re-sort by it (GlobalRank's
    * monotonicity guard) use this to carry the direction across the
    * projection. Plain columns return (c, identity).
    */
  def splitSortOrder(c: Column): (Column, Column => Column) = c.node match {
    case so: internal.SortOrder =>
      val key = new Column(so.child)
      val reapply: Column => Column = (so.sortDirection, so.nullOrdering) match {
        case (internal.SortOrder.Ascending, internal.SortOrder.NullsFirst) =>
          _.asc_nulls_first
        case (internal.SortOrder.Ascending, internal.SortOrder.NullsLast) =>
          _.asc_nulls_last
        case (internal.SortOrder.Descending, internal.SortOrder.NullsFirst) =>
          _.desc_nulls_first
        case _ => _.desc_nulls_last
      }
      (key, reapply)
    case _ => (c, identity)
  }

  /** Release the storage blocks behind a `localCheckpoint()`ed frame.
    * `Dataset.unpersist` only touches the cache manager, not the
    * checkpoint RDD, so iterative algorithms that checkpoint per round
    * would otherwise retain every round's blocks until the context
    * cleaner's next GC-driven sweep. No-op for non-checkpoint plans.
    */
  def uncheckpoint(ds: Dataset[_]): Unit = ds.queryExecution.analyzed match {
    case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false): Unit
    case _ => ()
  }

  /** `ds`'s rows as the engine's internal rows, collected the way
    * `Dataset.collect` collects them (one tracked SQL execution) but
    * not converted to external values: an array<double> column stays
    * one packed buffer per row instead of one boxed Double per element.
    */
  def collectInternal(ds: Dataset[_]): Array[catalyst.InternalRow] = {
    val qe = ds.queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** Storage level of the RDD behind a checkpointed frame — None for
    * non-checkpoint plans. Lets specs assert block release for a
    * SPECIFIC frame instead of diffing the context-global persistent-RDD
    * census (which races with concurrently-running suites).
    */
  def checkpointStorageLevel(ds: Dataset[_]): Option[org.apache.spark.storage.StorageLevel] =
    ds.queryExecution.analyzed match {
      case lr: execution.LogicalRDD => Some(lr.rdd.getStorageLevel)
      case _ => None
    }
}
