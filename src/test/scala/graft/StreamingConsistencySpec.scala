package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.Pipelines

/** Stream-batch consistency (SURVEY §5): replaying the events table
  * through MemoryStream must produce exactly the windowed-aggregation
  * results of the batch computation on the same data.
  */
class StreamingConsistencySpec extends SparkSuite {
  init()
  import spark.implicits._

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private lazy val events: Seq[(Timestamp, String, Long)] =
    Tables.events(spark, sf0001)
      .select(col("ts"), col("event_type"), col("user_id"))
      .as[(Timestamp, String, Long)]
      .collect().toSeq

  test("trending alert windows match batch") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Long)]
    val sdf = stream.toDF().toDF("ts", "event_type", "user_id")
    val q = Pipelines.trendingAlerts(sdf, "ts", "event_type", threshold = 2)
      .writeStream.outputMode("complete").format("memory").queryName("trending").start()
    // feed in two chunks to exercise incremental state
    val (a, b) = events.splitAt(events.size / 2)
    stream.addData(a); q.processAllAvailable()
    stream.addData(b); q.processAllAvailable()
    val streamed = spark.table("trending")
    val batch = Pipelines.trendingAlerts(
      Tables.events(spark, sf0001), "ts", "event_type", threshold = 2)
    assert(sortedRows(streamed) == sortedRows(batch))
    assert(streamed.count() > 0)
    q.stop()
  }

  test("windowed value percentiles match batch (exact Percentile state across triggers)") {
    implicit val sqlCtx = spark.sqlContext
    def dag(df: DataFrame) = graft.operators.EventAnalytics
      .windowedValuePercentiles(df, col("ts"), col("event_type"),
        col("value"), Seq(0.5, 0.95), "6 hours")
    val stream = MemoryStream[(Timestamp, String, Double)]
    val q = dag(stream.toDF().toDF("ts", "event_type", "value"))
      .writeStream.outputMode("complete").format("memory").queryName("wpct").start()
    val rows = Tables.events(spark, sf0001)
      .select(col("ts"), col("event_type"), col("value"))
      .as[(Timestamp, String, Double)].collect().toSeq
    val (a, b) = rows.splitAt(rows.size / 2)
    // two chunks: the second trigger must UPDATE existing windows'
    // percentile buffers, not just append new windows
    stream.addData(a); q.processAllAvailable()
    stream.addData(b); q.processAllAvailable()
    val streamed = spark.table("wpct")
    val batch = dag(Tables.events(spark, sf0001)
      .select(col("ts"), col("event_type"), col("value")))
    assert(streamed.count() > 0)
    assert(sortedRows(streamed) == sortedRows(batch))
    q.stop()
  }

  test("append-mode windowed percentiles: closed windows match batch, state evicted past watermark") {
    implicit val sqlCtx = spark.sqlContext
    def dag(df: DataFrame) = graft.operators.EventAnalytics
      .windowedValuePercentilesAppend(df, "ts", col("event_type"),
        col("value"), Seq(0.5, 0.95), "6 hours")
    val stream = MemoryStream[(Timestamp, String, Double)]
    val q = dag(stream.toDF().toDF("ts", "event_type", "value"))
      .writeStream.outputMode("append").format("memory").queryName("wpcta").start()
    val rows = Tables.events(spark, sf0001)
      .select(col("ts"), col("event_type"), col("value"))
      .as[(Timestamp, String, Double)].collect().toSeq
    val (a, b) = rows.splitAt(rows.size / 2)
    stream.addData(a); q.processAllAvailable()
    stream.addData(b); q.processAllAvailable()
    // flush: one event far past the data's max ts advances the
    // watermark beyond every real window, closing (emitting) them all;
    // only the flush event's own window stays open
    val maxTs = rows.map(_._1.getTime).max
    stream.addData((new Timestamp(maxTs + 30L * 24 * 3600 * 1000), "flush", 0.0))
    q.processAllAvailable()
    // same-window second flush: forces the trigger that applies the
    // advanced watermark (emitting every real window) without ever
    // closing the flush window itself
    stream.addData((new Timestamp(maxTs + 30L * 24 * 3600 * 1000 + 1), "flush", 0.0))
    q.processAllAvailable()
    val streamed = spark.table("wpcta")
    val batch = dag(Tables.events(spark, sf0001)
      .select(col("ts"), col("event_type"), col("value")))
    assert(streamed.count() > 0)
    // every real-data window is closed → streamed == the full batch face
    assert(sortedRows(streamed) == sortedRows(batch))
    // eviction: closed-window state left the store — rows were removed,
    // and what remains is only the open flush window's single group,
    // not one buffer per window ever seen
    val prog = q.recentProgress
    assert(prog.flatMap(_.stateOperators).map(_.numRowsRemoved).sum > 0,
      "no state rows were ever evicted")
    val finalState = prog.last.stateOperators.head.numRowsTotal
    assert(finalState <= 2,
      s"state must hold only open windows, found $finalState rows")
    q.stop()
  }

  test("approx-percentile rewrite runs on the append-mode percentile stream") {
    implicit val sqlCtx = spark.sqlContext
    // the production combination: GK sketch state (flag on) inside the
    // watermark-bounded append stream — under the sketch's accuracy
    // bound the GK summary is exact, so the streamed rows must still
    // equal the exact batch face
    spark.conf.set(graft.plans.ApproxPercentileRewrite.FLAG, "true")
    try {
      def dag(df: DataFrame) = graft.operators.EventAnalytics
        .windowedValuePercentilesAppend(df, "ts", col("event_type"),
          col("value"), Seq(0.5, 0.95), "6 hours")
      val stream = MemoryStream[(Timestamp, String, Double)]
      val q = dag(stream.toDF().toDF("ts", "event_type", "value"))
        .writeStream.outputMode("append").format("memory").queryName("wpctapx").start()
      val rows = Tables.events(spark, sf0001)
        .select(col("ts"), col("event_type"), col("value"))
        .as[(Timestamp, String, Double)].collect().toSeq
      stream.addData(rows)
      q.processAllAvailable()
      val maxTs = rows.map(_._1.getTime).max
      stream.addData((new Timestamp(maxTs + 30L * 24 * 3600 * 1000), "flush", 0.0))
      q.processAllAvailable()
      stream.addData((new Timestamp(maxTs + 30L * 24 * 3600 * 1000 + 1), "flush", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("wpctapx")
      assert(streamed.count() > 0)
      val batch = dag(Tables.events(spark, sf0001)
        .select(col("ts"), col("event_type"), col("value")))
      assert(sortedRows(streamed) == sortedRows(batch))
      q.stop()
    } finally spark.conf.unset(graft.plans.ApproxPercentileRewrite.FLAG)
  }

  test("session windows match batch") {
    implicit val sqlCtx = spark.sqlContext
    def dag(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts_sec", timestamp_seconds(unix_timestamp(col("ts"))))
      .withWatermark("ts_sec", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts_sec"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("start"), col("n"))
    val stream = MemoryStream[(Timestamp, String, Long)]
    val q = dag(stream.toDF().toDF("ts", "event_type", "user_id"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("sessions").start()
    stream.addData(events)
    q.processAllAvailable()
    val batch = dag(Tables.events(spark, sf0001)
      .select(col("ts"), col("event_type"), col("user_id")))
    assert(sortedRows(spark.table("sessions")) == sortedRows(batch))
    assert(spark.table("sessions").count() > 0)
    q.stop()
  }

  test("rank-delta snapshot loop publishes movements across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("rankdelta").toString
    val stream = MemoryStream[(String, Timestamp)]
    // every event sits inside the watermark delay, so the watermark
    // never advances and no empty trigger runs between the two data
    // triggers (an empty trigger re-publishes every key as "stable")
    val q = Pipelines.rankDeltaSnapshotSinkTtl(spark, stream.toDF().toDF("key", "ts"),
      "key", "ts", s"$dir/state", s"$dir/ckpt", ttlMs = 3600000L, topN = 10,
      watermarkDelay = "1 hour",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    def add(keys: String*): Unit = stream.addData(keys.map(_ -> new Timestamp(60000L)))

    def delta(): Map[String, (Option[Int], Option[Int], String)] =
      spark.read.parquet(s"$dir/state/delta").collect().map { r =>
        r.getAs[String]("key") -> ((
          Option(r.getAs[java.lang.Integer]("cur_rank")).map(_.toInt),
          Option(r.getAs[java.lang.Integer]("prev_rank")).map(_.toInt),
          r.getAs[String]("movement")))
      }.toMap

    // trigger 1: a=3, b=2 → both enter as "new"
    add("a", "a", "a", "b", "b")
    q.processAllAvailable()
    assert(delta() == Map(
      "a" -> ((Some(1), None, "new")),
      "b" -> ((Some(2), None, "new"))))

    // trigger 2: b gains 5 (total 7) → b overtakes a
    add("b", "b", "b", "b", "b")
    q.processAllAvailable()
    assert(delta() == Map(
      "b" -> ((Some(1), Some(2), "rising")),
      "a" -> ((Some(2), Some(1), "falling"))))

    // snapshot advanced to the trigger-2 state
    val snap = spark.read.parquet(s"$dir/state/snapshot").collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Long]("cnt")).toMap
    assert(snap == Map("a" -> 3L, "b" -> 7L))
    q.stop()
  }

  test("clustered state sink: streamed landing matches batch counts, files key-sorted") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("cstate").toString
    def counts(df: DataFrame) = df
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .count()
      .select(col("window.start").as("minute"),
        col("event_type").as("keyword"), col("count"))
    val stream = MemoryStream[(Timestamp, String, Long)]
    val sdf = stream.toDF().toDF("ts", "event_type", "user_id")
    // small files, so each batch lands as several sorted files; the
    // query's session copies the conf at start
    val prevMax = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "8")
    try {
      val q = Pipelines.clusteredStateSink(
        counts(sdf.withWatermark("ts", "30 days")),
        s"$base/state", s"$base/ckpt", keys = Seq("keyword", "minute"),
        trigger = Trigger.ProcessingTime(0))
      val (a, b) = events.splitAt(events.size / 2)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      // flush pattern (see the append-percentile test): advance the
      // watermark past every real window so append mode emits them all;
      // the flush window itself stays open and never lands
      val maxTs = events.map(_._1.getTime).max
      stream.addData((new Timestamp(maxTs + 90L * 24 * 3600 * 1000), "flush", 0L))
      q.processAllAvailable()
      stream.addData((new Timestamp(maxTs + 90L * 24 * 3600 * 1000 + 1), "flush", 0L))
      q.processAllAvailable()
      q.stop()
    } finally prevMax match {
      case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
      case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
    // content: the landed state table == the batch windowed counts
    val landed = spark.read.parquet(s"$base/state").drop("batch")
    val batch = counts(Tables.events(spark, sf0001)
      .select(col("ts"), col("event_type"), col("user_id")))
    assert(landed.count() > 0)
    assert(sortedRows(landed) == sortedRows(batch))
    // layout: every landed file is (keyword, minute)-sorted — the
    // row-group-stats property SCALE.md "Clustered state tables" measures
    val fs = new java.io.File(s"$base/state")
    val files = fs.listFiles().filter(_.getName.startsWith("batch="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val rows = spark.read.parquet(f.getPath)
        .select(col("keyword"), col("minute").cast("long")).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(rows.sameElements(rows.sortBy(identity)),
        s"file ${f.getName} is not (keyword, minute)-sorted")
    }
  }

  test("stream-stream interval join matches the batch range join") {
    implicit val sqlCtx = spark.sqlContext
    val views = events.filter(_._2 == "view").map(e => (e._3, e._1))
    val purchases = events.filter(_._2 == "purchase").map(e => (e._3, e._1))
    val vs = MemoryStream[(Long, Timestamp)]
    val ps = MemoryStream[(Long, Timestamp)]
    val joined = Pipelines.intervalJoin(
      vs.toDF().toDF("user_id", "vts"), ps.toDF().toDF("user_id", "pts"),
      "user_id", "vts", "pts", maxDelay = "30 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attrib").start()
    // interleave chunks on both sides so matches span micro-batches
    val (v1, v2) = views.splitAt(views.size / 2)
    val (p1, p2) = purchases.splitAt(purchases.size / 2)
    vs.addData(v1); q.processAllAvailable()
    ps.addData(p1); q.processAllAvailable()
    vs.addData(v2); ps.addData(p2); q.processAllAvailable()
    val streamed = spark.table("attrib")
    val batch = Pipelines.intervalJoin(
      views.toDF("user_id", "vts"), purchases.toDF("user_id", "pts"),
      "user_id", "vts", "pts", maxDelay = "30 minutes")
    assert(streamed.count() > 0, "no attributed pairs — fixture too sparse")
    assert(sortedRows(streamed) == sortedRows(batch))
    q.stop()
  }

  test("breaking alert windows match batch") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Long)]
    val sdf = stream.toDF().toDF("ts", "event_type", "user_id")
    val q = Pipelines.breakingAlerts(sdf, "ts", "event_type", "user_id",
      minCount = 2, minSources = 2)
      .writeStream.outputMode("complete").format("memory").queryName("breaking").start()
    stream.addData(events)
    q.processAllAvailable()
    val streamed = spark.table("breaking")
    val batch = Pipelines.breakingAlerts(
      Tables.events(spark, sf0001), "ts", "event_type", "user_id",
      minCount = 2, minSources = 2)
    assert(sortedRows(streamed) == sortedRows(batch))
    q.stop()
  }

  test("nb filter column: streamed per-row scores equal the batch join form bit-for-bit") {
    import graft.functions.Text
    implicit val sqlCtx = spark.sqlContext
    // train on the even-id half (q154's construction), collect the
    // model, and score the SAME corpus two ways: the batch
    // explode/join/groupBy form and the per-row decimal-accumulator
    // column streamed through MemoryStream. Both sum ROUND-6 decimals
    // exactly, so equality is bit-for-bit, not ulp-tolerant — the
    // property that lets a streaming curation stage apply the learned
    // filter without a stream/batch verdict skew.
    val dd = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"), col("lang"))
    val model = Text.nbTrain(dd.filter(col("doc_id") % 2 === 0),
      col("text"), (col("lang") === "en").cast("int"))
    val local = Text.collectNbModel(model)
    val batchScores = Text.nbScore(dd, col("doc_id"), col("text"), model)
      .select(col("doc_id"), col("score")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = dd.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q2 = stream.toDF().toDF("doc_id", "text")
      .withColumn("score", Text.nbScoreExpr(col("text"), local))
      .writeStream.outputMode("append").format("memory").queryName("nbscores")
      .start()
    val (a, b) = rows.splitAt(rows.size / 2)
    stream.addData(a); q2.processAllAvailable()
    stream.addData(b); q2.processAllAvailable()
    val streamed = spark.table("nbscores")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    q2.stop()
    assert(streamed.size == rows.size)
    batchScores.foreach { case (id, s) =>
      assert(streamed(id).contains(s),
        s"doc $id: streamed ${streamed(id)} != batch $s")
    }
    // zero-token docs: absent from the batch form, NULL in the column
    streamed.collect { case (id, None) => id }.foreach { id =>
      assert(!batchScores.contains(id),
        s"doc $id NULL in the column but scored by the batch form")
    }
    // the collect cap is loud, not a truncation
    val err = intercept[IllegalArgumentException](
      Text.collectNbModel(model, cap = 3))
    assert(err.getMessage.contains("vocabulary"))
  }
}
