package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.Stateful

/** Explicit keyed state (ST6): running totals accumulate across
  * triggers in the state store and idle keys evict after the
  * event-time TTL — the reference's expiring keyword maps. */
class StatefulSpec extends SparkSuite {
  init()
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(1704067200000L + sec * 1000L)

  test("running counts: accumulate across triggers, evict after TTL, restart after eviction") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Timestamp)]
    val df = stream.toDF().toDF("key", "ts")
    val q = Stateful.runningCountsEvicting(df, "key", "ts", ttlMs = 60000L)
      .writeStream.outputMode("update").format("memory").queryName("rt").start()
    def rows() = spark.table("rt").collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("total"),
        r.getAs[Boolean]("evicted"))).toSeq

    stream.addData(("a", ts(0)), ("a", ts(0)), ("b", ts(0)))
    q.processAllAvailable()
    assert(rows().sorted == Seq(("a", 2L, false), ("b", 1L, false)))

    // advance event time well past b's ttl: the watermark moves to
    // ts(120) > b's timeout ts(60), and the empty trigger that follows
    // evicts b, visibly: one tombstone row
    stream.addData(("a", ts(120)))
    q.processAllAvailable()
    assert(rows().sorted == Seq(("a", 2L, false), ("a", 3L, false),
      ("b", 0L, true), ("b", 1L, false)))

    stream.addData(("a", ts(180)))
    q.processAllAvailable()
    assert(rows().sorted == Seq(("a", 2L, false), ("a", 3L, false), ("a", 4L, false),
      ("b", 0L, true), ("b", 1L, false)))

    // b restarts from zero — proof the state store entry was removed
    stream.addData(("b", ts(240)))
    q.processAllAvailable()
    assert(rows().count(_ == (("b", 1L, false))) == 2, s"b must restart at 1, got ${rows()}")
    assert(!rows().contains(("b", 2L, false)))
    assert(rows().count(_._3) == 1, s"exactly one tombstone: ${rows()}")
    q.stop()
  }

  test("TTL rank-delta loop: idle key leaves state and drops from the next snapshot") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("rankttl").toString
    val stream = MemoryStream[(String, Timestamp)]
    val df = stream.toDF().toDF("key", "ts")
    val q = graft.streaming.Pipelines.rankDeltaSnapshotSinkTtl(spark, df, "key", "ts",
      s"$base/state", s"$base/ckpt", ttlMs = 60000L, topN = 10,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    def counts() = spark.read.parquet(s"$base/state/counts").collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Long]("cnt")).toMap
    def snapshot() = spark.read.parquet(s"$base/state/snapshot").collect()
      .map(_.getAs[String]("key")).toSet

    stream.addData(("a", ts(0)), ("a", ts(0)), ("b", ts(0)))
    q.processAllAvailable()
    assert(counts() == Map("a" -> 2L, "b" -> 1L))
    assert(snapshot() == Set("a", "b"))

    // watermark trails one batch; the second advance pushes it past
    // b's timeout (ts(0) + 60 s) and the eviction tombstone fires
    stream.addData(("a", ts(120)))
    q.processAllAvailable()
    stream.addData(("a", ts(180)))
    q.processAllAvailable()
    assert(counts() == Map("a" -> 4L), s"b must leave the live counts: ${counts()}")
    assert(snapshot() == Set("a"), "idle key must drop from the next snapshot")
    q.stop()
  }

  test("late in-watermark batch must not shrink a key's ttl (EXPIRE-on-touch parity)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Timestamp)]
    val df = stream.toDF().toDF("key", "ts")
    val out = Stateful.runningCountsEvicting(df, "key", "ts",
      ttlMs = 60000L, watermarkDelay = "300 seconds")
    val q = out.toDF().writeStream.outputMode("update")
      .format("memory").queryName("ttl_late").start()
    def rows() = spark.table("ttl_late").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq

    stream.addData(("b", ts(200)))
    q.processAllAvailable()
    // LATE but inside the 300 s watermark: older than b's newest
    // event. Anchoring the deadline to this batch's maxTs would set
    // timeout = ts(10)+60 s, SHRINKING the ttl already set from
    // ts(200); the deadline must stay ts(200)+60 s.
    stream.addData(("b", ts(10)))
    q.processAllAvailable()
    assert(rows().contains(("b", 2L, false)), s"late event not counted: ${rows()}")
    // advance the watermark past ts(10)+60s but NOT past ts(200)+60s
    stream.addData(("a", ts(400)))
    q.processAllAvailable()
    stream.addData(("a", ts(405)))
    q.processAllAvailable()
    assert(!rows().exists(r => r._1 == "b" && r._3),
      s"b evicted before its true latest event + ttl: ${rows()}")
    q.stop()
  }

  test("rank-delta counts table survives a crash between the swap renames") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("rankcrash").toString
    val state = s"$base/state"
    // trigger 1: keys a,b live
    graft.streaming.Pipelines.applyRankDeltaUpdates(spark,
      Seq(("a", 2L, false), ("b", 1L, false)).toDF("key", "total", "evicted"),
      state, topN = 10)
    def counts() = spark.read.parquet(s"$state/counts").collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Long]("cnt")).toMap
    assert(counts() == Map("a" -> 2L, "b" -> 1L))
    // simulate the fatal window of a delete-then-rename publish: the
    // live counts dir is gone mid-swap (here: moved aside, exactly
    // what writeSwap now does instead of deleting)
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.rename(new org.apache.hadoop.fs.Path(state, "counts"),
      new org.apache.hadoop.fs.Path(state, ".old-counts")))
    // trigger 2 after "restart": only key c arrives — update-mode
    // state never re-emits idle keys a/b, so without recovery they
    // would silently vanish from the authoritative table
    graft.streaming.Pipelines.applyRankDeltaUpdates(spark,
      Seq(("c", 5L, false)).toDF("key", "total", "evicted"),
      state, topN = 10)
    assert(counts() == Map("a" -> 2L, "b" -> 1L, "c" -> 5L),
      s"idle keys lost across the crash window: ${counts()}")
  }

  test("rank-delta loop: an empty update batch publishes nothing") {
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("rankempty").toString + "/state"
    val updates = Seq(("a", 3L, false), ("b", 2L, false)).toDF("key", "total", "evicted")
    graft.streaming.Pipelines.applyRankDeltaUpdates(spark, updates, state, topN = 10)
    def delta() = spark.read.parquet(s"$state/delta").collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("movement"))).toSet
    assert(delta() == Set("a" -> "new", "b" -> "new"))
    // every file under each published dir, with its size and mtime
    def snapshot() = Seq("counts", "delta", "snapshot").map { d =>
      d -> new java.io.File(s"$state/$d").listFiles().toSeq
        .map(f => (f.getName, f.length, f.lastModified)).sorted
    }
    val before = snapshot()
    Thread.sleep(1100) // a rewrite must show in the mtimes
    graft.streaming.Pipelines.applyRankDeltaUpdates(spark, updates.limit(0), state, topN = 10)
    assert(snapshot() == before, "an empty trigger rewrote the published tables")
    assert(delta() == Set("a" -> "new", "b" -> "new"),
      "an empty trigger replaced the last movements")
  }

  test("batch execution: one pass equals a plain groupBy count") {
    val ev = Tables.events(spark, sf0001).select(col("event_type").as("key"), col("ts"))
    val stateful = Stateful.runningCountsEvicting(ev, "key", "ts", ttlMs = 1000L)
      .collect().map(r => r.key -> r.total).toMap
    val batch = ev.groupBy(col("key")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stateful == batch)
  }

  test("streaming LSH candidates: replay equals the batch candidate stage") {
    implicit val sqlCtx = spark.sqlContext
    // real corpus text (has planted near-dups) with synthetic
    // monotonically increasing event times
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
      .map { case (id, text) => (id, text, ts(id)) }
    val stream = MemoryStream[(Long, String, Timestamp)]
    val sdf = stream.toDF().toDF("doc_id", "text", "ts")
    val q = Stateful.lshCandidateStream(sdf, "doc_id", "text", "ts",
      ttlMs = 1000L * 3600 * 24)
      .writeStream.outputMode("update").format("memory").queryName("lshc").start()
    val (a, b) = docs.splitAt(docs.length / 2)
    stream.addData(a.toIndexedSeq); q.processAllAvailable()
    stream.addData(b.toIndexedSeq); q.processAllAvailable()
    val streamed = spark.table("lshc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Dedup.lshCandidatePairs(
      Tables.documents(spark, sf0001), col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture must contain near-dup candidates")
    assert(streamed == batch,
      s"extra=${streamed -- batch} missing=${batch -- streamed}")
    // exactly-once emission: no duplicate pairs across buckets/triggers
    assert(spark.table("lshc").count() == streamed.size)
    q.stop()
  }

  test("streaming LSH candidates: batch-mode execution matches too") {
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"), lit(ts(0)).as("ts"))
    val got = Stateful.lshCandidateStream(docs, "doc_id", "text", "ts",
      ttlMs = 1000L).collect().map(p => (p.doc_a, p.doc_b)).toSet
    val batch = graft.operators.Dedup.lshCandidatePairs(
      Tables.documents(spark, sf0001), col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch)
  }
}
