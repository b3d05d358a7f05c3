package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * standard extension-library shim for defining custom Catalyst
  * expressions with a public Column API on Spark 4.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame from a hand-built LogicalPlan (custom operators). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame (child of a custom
    * operator node).
    */
  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Lineage-truncated view of a (typically persisted) frame: wraps
    * its executed RDD in a LogicalRDD leaf — downstream plans stop
    * growing (the iterative-algorithm requirement localCheckpoint
    * satisfies), while the RDD keeps its own DAG and storage level, so
    * a lost replicated block still recomputes. This is the same
    * mechanism Dataset.checkpoint uses to cut the plan
    * (LogicalRDD.fromDataset preserves partitioning + ordering).
    */
  def truncateLineage(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    classic.Dataset.ofRows(spark,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = false))
  }

  /** Unpersist the RDD behind `df` when `df` IS a materialized leaf
    * (the frame forceCached returned) — the release path for a
    * superseded localCheckpoint frame in an iterative loop. The
    * caller asserts the frame is never read again (a locally-
    * checkpointed RDD has no lineage to recompute from once its
    * blocks are dropped). Deliberately does NOT walk into derived
    * plans: a leaf REACHABLE from `df` may be shared with frames that
    * are still live (d_pagerank's `state` is a select over the cached
    * `deg`), so only the exact root releases. Returns the unpersisted
    * RDD's id so Materialize can ledger the release (the
    * contract-violation debugging hook).
    */
  def unpersistLeaves(df: DataFrame): Option[Int] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        Some(l.rdd.id)
      case _ => None
    }
}
