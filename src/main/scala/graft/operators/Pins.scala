package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of the frames an operator pins and consumes within
  * one call. `Pins { p => … }` runs the body; every frame pinned
  * through `p` and not [[keep]]-ed is released when the body exits,
  * normally or by a throw, each through its own mechanism: a cache
  * through `Dataset.unpersist`, a checkpoint through
  * [[releaseCheckpoint]] (the CacheManager never sees RDD-level
  * checkpoints, so `unpersist` cannot free one). Without the release,
  * a body that runs every streaming trigger floats its blocks until
  * driver GC.
  *
  * Release a frame only after every consumer has materialized: a
  * checkpoint's blocks ARE its data (lineage is gone), so an action on
  * a released checkpoint fails. A result that outlives the scope is
  * therefore materialized inside it (an eager `localCheckpoint` of the
  * returned frame) or backed by a [[keep]]-ed pin. Bodies hold no
  * `return`: under Scala 2.13 it would be thrown through the scope. */
final class Pins private {
  private val held = scala.collection.mutable.ArrayBuffer[(DataFrame, DataFrame => Unit)]()

  /** Cache `df` at `Dataset.persist`'s default level (MEMORY_AND_DISK). */
  def cache(df: DataFrame): DataFrame = hold(df.persist())(_.unpersist())

  /** Eager `localCheckpoint` of `df`: materialized now, lineage cut. */
  def checkpoint(df: DataFrame): DataFrame = hold(df.localCheckpoint())(Pins.releaseCheckpoint)

  /** Free a pin before the scope ends (a superseded round). */
  def release(df: DataFrame): Unit = take(df)(df)

  /** Hand a pin to the caller: it backs a returned frame and outlives
    * the scope (ContextCleaner reclaims it once unreferenced). */
  def keep(df: DataFrame): DataFrame = { take(df); df }

  private def hold(df: DataFrame)(free: DataFrame => Unit): DataFrame = {
    held += df -> free
    df
  }

  private def take(df: DataFrame): DataFrame => Unit = {
    val i = held.indexWhere(_._1 eq df)
    require(i >= 0, "Pins: frame is not pinned in this scope")
    held.remove(i)._2
  }
}

object Pins {
  def apply[T](body: Pins => T): T = {
    val p = new Pins
    try body(p)
    finally p.held.reverseIterator.foreach { case (df, free) => free(df) }
  }

  /** Drop the block-manager storage behind a localCheckpoint'd frame.
    * No-op on frames that are not checkpoint-backed.
    *
    * Single-root contract: the frame must BE a checkpoint (its
    * analyzed plan contains at most one LogicalRDD). Walking a derived
    * frame — say a join of two checkpointed inputs — would unpersist a
    * still-live sibling's blocks, and with no lineage behind a local
    * checkpoint that sibling is unrecoverable. Asserted, not assumed. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit = {
    val rdds = df.queryExecution.analyzed.collect { case l: LogicalRDD => l }
    require(
      rdds.length <= 1,
      s"releaseCheckpoint expects a frame whose plan holds at most one " +
        s"LogicalRDD (the checkpoint root); found ${rdds.length}. Releasing a " +
        "derived frame would drop a sibling checkpoint's only copy of its data.")
    rdds.foreach(_.rdd.unpersist(blocking = false))
  }
}
