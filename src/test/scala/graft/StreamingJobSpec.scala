package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.jobs.StreamingJob
import graft.model.Cdc
import graft.operators.Curation
import graft.streaming.{Pipelines, Stateful}

/** The production topology (`StreamingJob.start`: all six queries) over
  * a file source of Debezium envelopes, stopped and restarted from its
  * checkpoints: every sink must equal its batch twin over everything
  * the source ever held — the windowed ones (counts, alerts) over the
  * windows their query's watermark has closed. */
class StreamingJobSpec extends SparkSuite {
  init()

  private val t0 = 1704067200000L

  private val phrases = Seq(
    "markets rally as central bank signals a pause in rate hikes",
    "storm warning issued for coastal towns as winds build offshore",
    "new vaccine trial shows strong early results in older adults",
    "city council votes to expand bike lanes across the downtown core")

  // every phrase, rotated by id: long and plain enough to pass the
  // curation funnel's gates, so the landing sink has rows to compare
  private def article(op: String, id: Long, sec: Long): String = {
    val text = phrases.indices.map(i => phrases(((id + i) % phrases.size).toInt))
      .mkString("", " and the ", s" story number $id update $sec")
    s"""{"op":"$op","after":{"id":$id,"content":"$text","value":$id.0},""" +
      s""""source":{"table":"articles"},"ts_ms":${t0 + sec * 1000}}"""
  }

  private def row(op: String, table: String, id: Long, sec: Long): String = {
    val image = if (op == "d") "before" else "after"
    s"""{"op":"$op","$image":{"id":$id,"value":$id.0},""" +
      s""""source":{"table":"$table"},"ts_ms":${t0 + sec * 1000}}"""
  }

  test("StreamingJob topology: restart from checkpoints, mirror and rank counts equal batch twins") {
    val base = Files.createTempDirectory("streamingjob").toString
    val src = s"$base/src"
    val out = s"$base/out"
    Files.createDirectories(Paths.get(src))
    def writeFile(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(src, name), lines.mkString("\n").getBytes("UTF-8"))

    // per query name: the source rows it read in this run, and the
    // highest watermark any of its batches ran with (epoch ms)
    def runOnce(): Map[String, (Long, Long)] = {
      val queries = StreamingJob.start(spark,
        Cdc.parse(spark.readStream.text(src), col("value")), out)
      try {
        queries.foreach(_._2.processAllAvailable())
        queries.map { case (n, q) =>
          val ps = q.recentProgress.toSeq
          n -> (ps.map(_.numInputRows).sum,
            ps.flatMap(p => Option(p.eventTime.get("watermark")))
              .map(java.time.Instant.parse(_).toEpochMilli).foldLeft(0L)(math.max))
        }.toMap
      } finally queries.foreach(_._2.stop())
    }

    writeFile("f1.json",
      (1L to 12L).map(id => article("c", id, id)) ++
        Seq(row("c", "media", 1, 20), row("c", "media", 2, 21),
          row("c", "article_changes", 3, 22), row("c", "unknown", 4, 23)))
    val first = runOnce()
    assert(first.keySet == Set("counts", "alerts", "mirror", "rank", "landing", "neardup"))
    assert(first.values.forall(_._1 == 16L), s"first run reads all of f1: $first")

    // the last article is an hour later in event time: past the 10
    // minute watermark it closes every earlier 1-minute count window
    // and the first 30-minute alert window
    writeFile("f2.json",
      Seq(article("u", 2, 100), article("c", 13, 101), row("d", "articles", 5, 102),
        row("d", "media", 1, 103), row("d", "article_changes", 3, 104),
        row("c", "media", 7, 105), article("c", 14, 3600)))
    // resumed from the checkpoints: every query reads only f2
    val second = runOnce()
    assert(second.values.forall(_._1 == 7L), s"restart re-read old input: $second")
    val watermark = second.map { case (n, (_, w)) => n -> w }

    val all = Cdc.parse(spark.read.text(src), col("value"))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

    val twin = s"$base/twin_mirror"
    Pipelines.applyCdcBatch(spark, all, twin, policy = Pipelines.ReferenceTablePolicy,
      defaultPolicy = Pipelines.TablePolicy.SkipTable)
    val cols = Seq("table", "id", "ts_ms", "value", "is_deleted", "bucket").map(col)
    val mirror = rows(spark.read.parquet(s"$out/mirror").select(cols: _*))
    assert(mirror.nonEmpty)
    assert(mirror == rows(spark.read.parquet(twin).select(cols: _*)))

    val events = all.withColumn("event_time", timestamp_millis(col("ts_ms")))
    val keywords = Pipelines.keywordFanout(Cdc.upserts(events), "after.content",
      Text.validKeywords(col("after.content")))
    val totals = keywords.groupBy(col("keyword").as("key")).agg(count(lit(1)).as("cnt"))
    val liveCounts = rows(spark.read.parquet(s"$out/rank_state/counts").select("key", "cnt"))
    assert(liveCounts.nonEmpty)
    assert(liveCounts == rows(totals))

    val counts = rows(spark.read.parquet(s"$out/keyword_counts")
      .select("minute", "keyword", "count"))
    assert(counts.nonEmpty, "no count window closed")
    assert(counts == rows(keywords
      .groupBy(window(col("event_time"), "1 minute"), col("keyword")).count()
      .filter(col("window.end").cast("long") * 1000 <= watermark("counts"))
      .select(col("window.start").as("minute"), col("keyword"), col("count"))))

    val alerts = rows(spark.read.parquet(s"$out/trending_alerts")
      .select("window_start", "key", "cnt"))
    assert(alerts.nonEmpty, "no alert window closed")
    assert(alerts == rows(Pipelines.trendingAlerts(keywords, "event_time", "keyword",
        threshold = 10)
      .filter((col("window_start").cast("long") + 1800) * 1000 <= watermark("alerts"))))

    val docs = Cdc.upserts(events)
      .select(col("after.id").as("doc_id"), col("after.content").as("text"),
        col("event_time"))
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
    val landingCols = Seq("doc_id", "scrubbed", "n_tok", "quality", "split", "shard")
    // dedupByContent's batch form: drop repeated content fingerprints
    val deduped = docs.withColumn("_fp", Text.fingerprint(col("text")))
      .dropDuplicates("_fp").drop("_fp")
    val curated = Curation.curateStream(deduped, col("doc_id"), col("text"))
      .filter(col("verdict") === "keep")
    val landing = rows(spark.read.parquet(s"$out/curated").select(landingCols.map(col): _*))
    assert(landing.nonEmpty, "no document passed the curation funnel")
    assert(landing ==
      rows(Curation.withSplit(curated, col("doc_id"))
        .withColumn("shard", Curation.hashBucket(col("doc_id"), "shard", 8))
        .select(landingCols.map(col): _*)))

    val nearDup = rows(spark.read.parquet(s"$out/neardup_candidates").select("doc_a", "doc_b"))
    assert(nearDup.nonEmpty)
    assert(nearDup == rows(Stateful.lshCandidateStream(docs, "doc_id", "text",
      "event_time", ttlMs = 1000L * 3600 * 24).toDF().select("doc_a", "doc_b")))
  }
}
