package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftSession
import graft.functions.Text
import graft.streaming.{Metrics, Pipelines, Stateful}

/** Production wiring of the full reference dataflow (SURVEY §3.1–§3.4)
  * — the deployment entry point. `main` reads CDC from Kafka (no broker
  * in the test environment); [[start]] is the topology itself, source
  * agnostic, and StreamingJobSpec runs it over a file source.
  *
  * Usage:
  *   StreamingJob <kafkaBootstrap> <cdcTopic> <outputDir>
  *
  * Starts six queries off ONE parsed CDC stream:
  *  1. keyword windowed counts → parquet state table (minute buckets)
  *  2. trending alerts → parquet append (threshold per AlertConfig)
  *  3. idempotent mirror sink (MERGE per micro-batch, per-table
  *     delete routing — SyncService.py parity)
  *  4. rank-delta snapshot loop (top-K movements per trigger with
  *     7-day key TTL — realtime_keyword_aggregator.py:358-383 +
  *     advanced_trend_analyzer.py:89)
  *  5. curated training-data landing zone: upsert content through the
  *     streaming curation funnel (content dedup → gates → scrub) into
  *     split/shard-partitioned parquet
  *  6. near-dup candidate feed: streaming MinHash-LSH candidates over
  *     the landed content → parquet append (downstream batch verify
  *     via Dedup.jaccard on the candidate pairs)
  */
object StreamingJob {
  def main(args: Array[String]): Unit = {
    val Array(bootstrap, topic, out) = args
    val spark = GraftSession.create(appName = "graft-streaming")
    val m = Metrics.attach(spark)
    val queries = start(spark,
      Pipelines.kafkaCdcSource(spark, bootstrap, topic, startingOffsets = "earliest"), out)
    sys.addShutdownHook {
      val (b, r) = m.snapshot
      // scalastyle:off println
      println(s"graft-streaming: $b batches, $r rows processed")
      // scalastyle:on println
    }
    queries.foreach(_._2.awaitTermination())
  }

  /** Starts the six queries over `parsed` (a `Cdc.parse` stream), with
    * output tables and checkpoints under `out`, each on a 5 s trigger.
    * Returns them by name: counts, alerts, mirror, rank, landing,
    * neardup. */
  def start(spark: SparkSession, parsed: DataFrame,
      out: String): Seq[(String, StreamingQuery)] = {
    val events = parsed.withColumn("event_time", timestamp_millis(col("ts_ms")))
    val keywords = Pipelines.keywordFanout(
      graft.model.Cdc.upserts(events),
      "after.content", Text.validKeywords(col("after.content")))
    val docs = graft.model.Cdc.upserts(events)
      .select(col("after.id").as("doc_id"), col("after.content").as("text"),
        col("event_time"))
      .filter(col("doc_id").isNotNull && col("text").isNotNull)

    // keyword-leading clustered landing (r14): the dashboard read is
    // "one keyword × a minute range" (q15/q27/q140 shape), so each
    // trigger's files are keyword-sorted — row-group stats confine a
    // serving read to the requested keyword's groups instead of the
    // whole trigger (skip factor: SCALE.md, "Clustered state tables")
    val counts = Pipelines.clusteredStateSink(
      keywords
        .withWatermark("event_time", "10 minutes")
        .groupBy(window(col("event_time"), "1 minute"), col("keyword"))
        .count()
        .select(col("window.start").as("minute"), col("keyword"), col("count")),
      s"$out/keyword_counts", s"$out/ckpt/counts",
      keys = Seq("keyword", "minute"))

    val alerts = Pipelines.trendingAlerts(
      keywords, "event_time", "keyword", threshold = 10, watermark = "10 minutes")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$out/ckpt/alerts")
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .format("parquet").option("path", s"$out/trending_alerts")
      .start()

    val mirror = Pipelines.cdcMirrorSink(
      spark, events, s"$out/mirror", s"$out/ckpt/mirror",
      // reference routing: articles soft-delete, media hard-delete,
      // article_changes upsert-only, unknown tables skipped
      policy = Pipelines.ReferenceTablePolicy,
      defaultPolicy = Pipelines.TablePolicy.SkipTable)

    // TTL-parity rank-delta loop: per-key running counts evict after
    // 7 days of event-time silence (the reference's Redis EXPIRE)
    val rankDeltas = Pipelines.rankDeltaSnapshotSinkTtl(
      spark, keywords, "keyword", "event_time",
      s"$out/rank_state", s"$out/ckpt/rank_state",
      ttlMs = 7L * 24 * 3600 * 1000, topN = 50,
      watermarkDelay = "10 minutes")

    val landing = Pipelines.curatedLandingSink(
      Pipelines.dedupByContent(docs, "text", "event_time"),
      s"$out/curated", s"$out/ckpt/curated")

    val nearDupCandidates = Stateful.lshCandidateStream(
      docs, "doc_id", "text", "event_time",
      ttlMs = 1000L * 3600 * 24, watermarkDelay = "10 minutes")
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$out/ckpt/neardup")
      .trigger(Trigger.ProcessingTime("5 seconds"))
      // candidate pairs are emitted exactly once, so appending each
      // micro-batch IS the pair log (a file sink would demand append
      // mode, which stateful update output can't use directly)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.CandidatePair],
          _: Long) =>
        df.write.mode("append").parquet(s"$out/neardup_candidates")
      }
      .start()

    Seq("counts" -> counts, "alerts" -> alerts, "mirror" -> mirror,
      "rank" -> rankDeltas, "landing" -> landing, "neardup" -> nearDupCandidates)
  }
}
