package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerStageSubmitted, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.RDDBlockId
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.model.Cdc
import graft.operators.Pins
import graft.queries.MultimodalQueries
import graft.sources.Tables
import graft.streaming.Pipelines

/** The scoped pin owner: what a scope releases, when, and through
  * which mechanism. Storage is the block manager's, read through the
  * listener bus (a cache's column buffers and a checkpoint's partitions
  * are both RDD blocks: stored blocks arrive as block updates, an
  * unpersisted RDD's blocks leave with its unpersist event), plus the
  * CacheManager for caches. The bus is asynchronous, so "back at the
  * baseline" is awaited, not sampled. */
class PinsSpec extends SparkSuite {
  init()
  import spark.implicits._

  /** Live RDD blocks since registration, and each RDD's creation site
    * ("localCheckpoint at Pins.scala:…"). Every RDD that stores a block
    * is held strongly here, so ContextCleaner cannot drop its blocks
    * after a GC: a block leaves only through an explicit unpersist. */
  private final class BlockLedger extends SparkListener {
    private val live = mutable.Set[RDDBlockId]()
    private val sites = mutable.Map[Int, String]()
    private val held = mutable.Map[Int, RDD[_]]()
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      e.blockUpdatedInfo.blockId match {
        case b: RDDBlockId => synchronized {
          if (e.blockUpdatedInfo.storageLevel.isValid) {
            live += b
            spark.sparkContext.getPersistentRDDs.get(b.rddId).foreach(held(b.rddId) = _)
          } else live -= b
        }
        case _ =>
      }
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
      live.filterInPlace(_.rddId != e.rddId)
      held -= e.rddId
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      e.stageInfo.rddInfos.foreach(i => sites(i.id) = i.callSite)
    }
    def rdds: Set[Int] = synchronized(live.map(_.rddId).toSet)
    def site(id: Int): String = synchronized(sites.getOrElse(id, "?"))
    /** Unpersist what a test left on purpose (barriers the caller's
      * ContextCleaner owns), so later checks start at an empty ledger. */
    def drop(ids: Set[Int]): Unit =
      synchronized(ids.flatMap(held.get)).foreach(_.unpersist(blocking = false))
  }

  private def withLedger[T](body: BlockLedger => T): T = {
    val l = new BlockLedger
    spark.sparkContext.addSparkListener(l)
    try body(l) finally spark.sparkContext.removeSparkListener(l)
  }

  private def settled[T](check: => T): T = eventually(timeout(10.seconds), interval(50.millis))(check)

  private def cached(df: DataFrame): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState
      .cacheManager.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .isDefined

  private def frames() = (
    (1L to 20L).toDF("x").withColumn("y", col("x") * 2),
    (1L to 10L).toDF("x").filter(col("x") % 2 === 0))

  // Each test holds its pinned frames strongly until its last check, so
  // a block can only leave through the scope's release, never through
  // ContextCleaner after a GC.

  test("a scope releases its caches and checkpoints on normal exit") {
    withLedger { l =>
      val (a, b) = frames()
      val (c, k) = Pins { p =>
        val c = p.cache(a)
        val k = p.checkpoint(b)
        assert(c.count() == 20L && cached(c) && k.count() == 5L)
        settled(assert(l.rdds.size == 2, "one cache buffer + one checkpoint"))
        (c, k)
      }
      assert(!cached(c), "the cache entry outlived its scope")
      settled(assert(l.rdds.isEmpty, s"pins outlived the scope: ${l.rdds}"))
      assert(k.schema.nonEmpty)
    }
  }

  test("a scope releases its caches and checkpoints when the body throws") {
    withLedger { l =>
      val (a, b) = frames()
      val pinned = mutable.Buffer[DataFrame]()
      val err = intercept[IllegalStateException](Pins { p =>
        pinned += p.cache(a)
        pinned.head.count()
        pinned += p.checkpoint(b)
        settled(assert(l.rdds.size == 2))
        throw new IllegalStateException("body failed")
      })
      assert(err.getMessage == "body failed", "the body's own error propagates")
      assert(!cached(pinned.head))
      settled(assert(l.rdds.isEmpty, s"pins outlived a failed scope: ${l.rdds}"))
      assert(pinned.size == 2)
    }
  }

  test("a kept frame outlives the scope and still answers") {
    withLedger { l =>
      val (a, b) = frames()
      val (out, dropped) = Pins { p =>
        val k = p.checkpoint(a)
        val dropped = p.checkpoint(b)
        (p.keep(k).filter(col("y") > 30), dropped)
      }
      settled(assert(l.rdds.size == 1, "only the kept checkpoint survives"))
      assert(out.count() == 5L)
      assert(out.agg(sum(col("x"))).head().getLong(0) == (16L to 20L).sum)
      Pins.releaseCheckpoint(out)
      settled(assert(l.rdds.isEmpty))
      assert(dropped.schema.nonEmpty)
    }
  }

  test("an early release frees its blocks before the scope ends") {
    withLedger { l =>
      val (a, b) = frames()
      Pins { p =>
        val k = p.checkpoint(a)
        val c = p.cache(b)
        c.count()
        val both = settled { assert(l.rdds.size == 2); l.rdds }
        p.release(k)
        settled(assert(l.rdds.size == 1 && l.rdds.subsetOf(both)))
        assert(cached(c))
        p.release(c)
        assert(!cached(c))
        settled(assert(l.rdds.isEmpty))
        // a released frame is no longer the scope's to release
        intercept[IllegalArgumentException](p.release(k))
      }
    }
  }

  test("releaseCheckpoint: refuses a derived frame holding two checkpoint roots") {
    val a = Seq(1L, 2L).toDF("x").localCheckpoint(eager = true)
    val b = Seq(2L, 3L).toDF("x").localCheckpoint(eager = true)
    // releasing a JOIN of two checkpoints would drop a still-live
    // sibling's only copy of its data (no lineage behind a local
    // checkpoint) — the single-root contract is asserted, not assumed
    val derived = a.join(b, Seq("x"))
    val err = intercept[IllegalArgumentException](
      Pins.releaseCheckpoint(derived))
    assert(err.getMessage.contains("LogicalRDD"))
    // both checkpoints stayed live through the refusal
    assert(derived.count() == 1)
    // the intended single-root shape (modulo a projection) releases fine
    Pins.releaseCheckpoint(a.select(col("x")))
    Pins.releaseCheckpoint(b)
    // a plain non-checkpointed frame is a no-op, never an error
    Pins.releaseCheckpoint(Seq(1L).toDF("x"))
  }

  test("q48 materializes its result and releases its synthesized blobs") {
    withLedger { l =>
      val out = MultimodalQueries.q48.run(spark, sf0001)
      // the one block set left is the result's own checkpoint
      settled(assert(l.rdds.toSeq.map(l.site).map(_.takeWhile(_ != ':')) ==
        Seq("localCheckpoint at MultimodalQueries.scala")))
      assert(out.count() == Tables.documents(spark, sf0001).count())
    }
  }

  test("long session: storage is back at baseline after every round of the four streaming bodies") {
    val root = Files.createTempDirectory("pins_session").toString
    val emb = Tables.embeddings(spark, sf0001).select("vec_id", "embedding")
    val rounds = 3
    withLedger { l =>
      def atBaseline(body: String, round: Int): Unit =
        settled(assert(l.rdds.isEmpty,
          s"$body round $round left blocks of ${l.rdds.map(l.site)}"))
      (0 until rounds).foreach { r =>
        val envelopes = (0 until 20).map { i =>
          val id = r * 10 + i
          val (op, img) = if (i % 7 == 6) ("d", "before") else ("u", "after")
          s"""{"op":"$op","$img":{"id":$id,"value":$i.5},""" +
            s""""source":{"table":"articles"},"ts_ms":${1000 + r}}"""
        }
        Pipelines.applyCdcBatch(spark, Cdc.parse(envelopes.toDF("value"), col("value")),
          s"$root/mirror")
        atBaseline("applyCdcBatch", r)

        Pipelines.applyRankDeltaUpdates(spark,
          Seq((s"k$r", 5L + r, false), ("k0", 9L + r, r == 2)).toDF("key", "total", "evicted"),
          s"$root/rank", topN = 10)
        atBaseline("applyRankDeltaUpdates", r)

        Pipelines.applyClusteredStateBatch(
          Seq((s"w$r", r.toLong, 3L), ("w", r.toLong, 1L)).toDF("keyword", "minute", "cnt"),
          s"$root/clustered", r.toLong, Seq("keyword", "minute"))
        atBaseline("applyClusteredStateBatch", r)

        // round 0 bootstraps, later rounds take the incremental arm.
        // What stays is owned by the caller's ContextCleaner, never by a
        // scope: the one kept dupClusters labels checkpoint per call and
        // the lazy plan barriers inside the detection plans
        Pipelines.applyDupClusterBatch(emb.filter(col("vec_id") % rounds === r),
          s"$root/idx", s"$root/state", threshold = 0.4,
          dim = 64, nBits = 32, tables = 4, window = 16)
        settled {
          val sites = l.rdds.toSeq.map(l.site)
          assert(sites.forall(_.startsWith("localCheckpoint at ")),
            s"applyDupClusterBatch round $r left a cache: $sites")
          assert(sites.count(_.contains("Pins.scala")) <= 1,
            s"applyDupClusterBatch round $r left pins beyond the kept labels: $sites")
        }
        l.drop(l.rdds)
        atBaseline("dropped leftovers of applyDupClusterBatch", r)
      }
      assert(spark.read.parquet(s"$root/mirror").count() == 40L)
      assert(spark.read.parquet(s"$root/clustered").count() == 2L * rounds)
    }
  }
}
