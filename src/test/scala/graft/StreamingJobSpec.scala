package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.jobs.StreamingJob
import graft.model.Cdc
import graft.streaming.Pipelines

/** The production topology (`StreamingJob.start`: all six queries) over
  * a file source of Debezium envelopes, stopped and restarted from its
  * checkpoints: the mirror and the rank-delta loop's live counts must
  * equal their batch twins over everything the source ever held. */
class StreamingJobSpec extends SparkSuite {
  init()

  private val t0 = 1704067200000L

  private val phrases = Seq(
    "markets rally as central bank signals a pause in rate hikes",
    "storm warning issued for coastal towns as winds build offshore",
    "new vaccine trial shows strong early results in older adults",
    "city council votes to expand bike lanes across the downtown core")

  private def article(op: String, id: Long, sec: Long): String = {
    val text = s"${phrases((id % phrases.size).toInt)} story number $id update $sec"
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

    // source rows each query read in this run, by query name
    def runOnce(): Map[String, Long] = {
      val queries = StreamingJob.start(spark,
        Cdc.parse(spark.readStream.text(src), col("value")), out)
      try {
        queries.foreach(_._2.processAllAvailable())
        queries.map { case (n, q) => n -> q.recentProgress.map(_.numInputRows).sum }.toMap
      } finally queries.foreach(_._2.stop())
    }

    writeFile("f1.json",
      (1L to 12L).map(id => article("c", id, id)) ++
        Seq(row("c", "media", 1, 20), row("c", "media", 2, 21),
          row("c", "article_changes", 3, 22), row("c", "unknown", 4, 23)))
    val first = runOnce()
    assert(first.keySet == Set("counts", "alerts", "mirror", "rank", "landing", "neardup"))
    assert(first.values.forall(_ == 16L), s"first run reads all of f1: $first")

    writeFile("f2.json",
      Seq(article("u", 2, 100), article("c", 13, 101), row("d", "articles", 5, 102),
        row("d", "media", 1, 103), row("d", "article_changes", 3, 104),
        row("c", "media", 7, 105)))
    // resumed from the checkpoints: every query reads only f2
    val second = runOnce()
    assert(second.values.forall(_ == 6L), s"restart re-read old input: $second")

    val all = Cdc.parse(spark.read.text(src), col("value"))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

    val twin = s"$base/twin_mirror"
    Pipelines.applyCdcBatch(spark, all, twin, policy = Pipelines.ReferenceTablePolicy,
      defaultPolicy = Pipelines.TablePolicy.SkipTable)
    val cols = Seq("table", "id", "ts_ms", "value", "is_deleted", "bucket").map(col)
    val mirror = rows(spark.read.parquet(s"$out/mirror").select(cols: _*))
    assert(mirror.nonEmpty)
    assert(mirror == rows(spark.read.parquet(twin).select(cols: _*)))

    val totals = Pipelines.keywordFanout(Cdc.upserts(all), "after.content",
        Text.validKeywords(col("after.content")))
      .groupBy(col("keyword").as("key")).agg(count(lit(1)).as("cnt"))
    val liveCounts = rows(spark.read.parquet(s"$out/rank_state/counts").select("key", "cnt"))
    assert(liveCounts.nonEmpty)
    assert(liveCounts == rows(totals))
  }
}
