package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal accessor for the private[sql] Dataset.ofRows — the standard
  * way ecosystem libraries materialize a DataFrame from a custom
  * LogicalPlan (Spark 4 exposes no public constructor for this).
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column ⇄ Expression without the function registry — lets a pure
    * column-expression API (no session in scope) build a custom
    * Catalyst expression directly; resolution happens at analysis
    * like any other unresolved column. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Drop the block-manager storage behind a localCheckpoint'd frame.
    * `Dataset.unpersist` only consults the CacheManager, which never
    * sees RDD-level checkpoints — without this, an iterative operator
    * that checkpoints per round (lineage truncation) leaks every
    * round's blocks until driver GC, a real float on a 5-second
    * streaming cadence. ONLY call after every consumer of the frame
    * has fully materialized: the checkpoint's blocks ARE its data
    * (lineage is gone), so a later action on a released frame fails.
    * No-op on frames that are not checkpoint-backed.
    *
    * Single-root contract: the frame must BE a checkpoint (its
    * analyzed plan contains at most one LogicalRDD). Walking a
    * derived frame — say a join of two checkpointed inputs — would
    * unpersist a still-live sibling's blocks, and with no lineage
    * behind a local checkpoint that sibling is unrecoverable. We
    * assert rather than silently releasing whatever we find. */
  def releaseLocalCheckpoint(df: DataFrame): Unit = {
    val rdds = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }
    require(
      rdds.length <= 1,
      s"releaseLocalCheckpoint expects a frame whose plan holds at most one " +
        s"LogicalRDD (the checkpoint root); found ${rdds.length}. Releasing a " +
        "derived frame would drop a sibling checkpoint's only copy of its data.")
    rdds.foreach(_.rdd.unpersist(blocking = false))
  }
}
