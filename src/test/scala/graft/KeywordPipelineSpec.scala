package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.model.Cdc
import graft.sources.Tables
import graft.streaming.Pipelines

/** The full §3.1 dataflow end-to-end as a STREAM: CDC JSON → parse →
  * quality filter → keyword fan-out → windowed counts — replayed via
  * MemoryStream and compared against the batch run of the identical
  * transform chain. This is the reference's main pipeline
  * (ks/main.py:106-161 + AlertTopology keyword branch) in one DAG.
  */
class KeywordPipelineSpec extends SparkSuite {
  init()
  import spark.implicits._

  /** documents as CDC insert envelopes: doc_id minutes past epoch. */
  private lazy val envelopes: Seq[String] =
    Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .collect()
      .map { r =>
        val id = r.getLong(0)
        val text = r.getString(1).replace("\\", "").replace("\"", "")
        val ts = 1704067200000L + id * 60000L
        s"""{"op":"c","after":{"id":$id,"content":"$text"},"source":{"table":"articles"},"ts_ms":$ts}"""
      }.toSeq

  private def dag(json: DataFrame): DataFrame = {
    val parsed = Cdc.upserts(Cdc.parse(json, col("value")))
    val fanned = Pipelines.keywordFanout(
      parsed.withColumn("event_time", timestamp_millis(col("ts_ms"))),
      "after.content", Text.validKeywords(col("after.content")))
    fanned
      .groupBy(window(col("event_time"), "1 hour"), col("keyword"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("keyword"), col("cnt"))
  }

  test("streamed keyword window counts equal batch") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val q = dag(stream.toDF().toDF("value"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("kwcounts").start()
    val (a, b) = envelopes.splitAt(envelopes.size / 3)
    stream.addData(a); q.processAllAvailable()
    stream.addData(b); q.processAllAvailable()
    val streamed = spark.table("kwcounts").collect().map(_.toString).sorted.toSeq
    val batch = dag(envelopes.toDF("value")).collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    q.stop()
  }

  test("republish payload: article_{id} key, keyword array + class map JSON") {
    val parsed = Cdc.upserts(Cdc.parse(envelopes.take(3).toDF("value"), col("value")))
    val fanned = Pipelines.keywordFanout(
      parsed.withColumn("event_time", timestamp_millis(col("ts_ms"))),
      "after.content", Text.validKeywords(col("after.content")))
    val out = Pipelines.republishKeywords(fanned, col("after.id"), col("event_time"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val key = r.getAs[String]("key")
      assert(key.matches("article_\\d+"), key)
      val v = r.getAs[String]("value")
      assert(v.contains("\"keywords\":[") && v.contains("\"keyword_classes\":{") &&
        v.contains("\"extraction_method\":\"graft-regex\"") &&
        v.contains("\"timestamp\":\""), v.take(200))
    }
    // classification ladder spot check through the payload
    val classes = Seq("ab", "x9", "general-word").toDF("kw")
      .select(Text.classifyKeyword(col("kw"))).as[String].collect().toSeq
    assert(classes == Seq("short", "numeric", "general"))
  }

  test("alert envelope: unique uuid ids, severity constants, stable payload columns") {
    val alerts = Pipelines.trendingAlerts(
      Tables.events(spark, sf0001), "ts", "event_type", threshold = 2)
    val env = Pipelines.alertEnvelope(alerts, "trending", 0.5)
    assert(env.columns.toSeq == Seq(
      "alert_id", "alert_type", "severity", "window_start", "key", "cnt", "detected_at"))
    val rows = env.collect()
    assert(rows.nonEmpty)
    val ids = rows.map(_.getAs[String]("alert_id"))
    assert(ids.distinct.length == ids.length, "alert ids must be unique")
    assert(ids.forall(_.matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")))
    assert(rows.forall(r => r.getAs[String]("alert_type") == "trending"
      && r.getAs[Double]("severity") == 0.5))
  }

  test("rate-limited source admits a bounded batch per trigger (ST9)") {
    val base = java.nio.file.Files.createTempDirectory("rate").toString
    val in = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    (1 to 3).foreach { i =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/f$i.txt"),
        s"line-$i".getBytes("UTF-8"))
    }
    var batches = 0
    val src = spark.readStream.schema("value STRING").format("text")
      .option("maxFilesPerTrigger", 1).load(in)
    val q = src.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        assert(batch.count() <= 1, "rate limit must bound each micro-batch")
        batches += 1
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(batches >= 3, s"3 files at 1 file/trigger must take >= 3 batches, got $batches")
  }

  test("quality filter drops short content before fan-out") {
    val rows = Seq(
      """{"op":"c","after":{"id":1,"content":"short"},"source":{"table":"articles"},"ts_ms":1704067200000}""",
      """{"op":"c","after":{"id":2,"content":"this content is definitely long enough to pass the fifty char gate"},"source":{"table":"articles"},"ts_ms":1704067200000}"""
    ).toDF("value")
    val out = dag(rows).select(sum(col("cnt"))).collect().head.getLong(0)
    // 'is'/'to'/'the' are stopwords; 'definitely' exceeds the length-8 cap
    val expected = Seq("this", "content", "long", "enough", "pass", "fifty", "char", "gate").length
    assert(out == expected)
  }
}
