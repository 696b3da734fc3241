package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftSession
import graft.functions.Text
import graft.model.Cdc
import graft.streaming.{Pipelines, Stateful}

/** `cdc_stream`: the `StreamingJob` topology — `Cdc.parse` into the same
  * six sinks with the same parameters and 5 s trigger — over a text file
  * source instead of Kafka, on the product session.
  *
  * Catch-up: the backlog files are in the source dir before the queries
  * start; catch-up ends when all six sinks have committed batch 0.
  * The harness then writes `catchup.done`; run.py's generator writes the
  * live files on its own schedule and finally `live.done` with the
  * number of live envelopes. The harness waits until every sink has
  * processed every envelope, stops the queries and checks each sink
  * against its batch twin computed from the same envelopes. */
object CdcStream {
  val Sinks: Seq[String] = Seq("mirror", "counts", "alerts", "rank", "landing", "neardup")
  private val Every5s = Trigger.ProcessingTime("5 seconds")

  private def session(ctx: Ctx): SparkSession = {
    val spark = GraftSession.create(appName = "graftbench-cdc", master = s"local[${ctx.cores}]",
      shufflePartitions = ctx.cores)
    spark.sparkContext.setLogLevel("ERROR")
    // warm the JSON parse path on a tiny static frame
    import spark.implicits._
    Cdc.parse(Seq("""{"op":"c","ts_ms":1}""").toDF("value"), col("value")).count()
    spark
  }

  private def withEventTime(parsed: DataFrame): DataFrame =
    parsed.withColumn("event_time", timestamp_millis(col("ts_ms")))

  private def keywordsOf(parsed: DataFrame): DataFrame =
    Pipelines.keywordFanout(Cdc.upserts(parsed), "after.content",
      Text.validKeywords(col("after.content")))

  private def docsOf(parsed: DataFrame): DataFrame =
    Cdc.upserts(parsed)
      .select(col("after.id").as("doc_id"), col("after.content").as("text"), col("event_time"))
      .filter(col("doc_id").isNotNull && col("text").isNotNull)

  /** The six queries, wired exactly as `StreamingJob.main` wires them. */
  private def start(spark: SparkSession, parsed: DataFrame, out: String): Seq[(String, StreamingQuery)] = {
    val keywords = keywordsOf(parsed)
    val counts = Pipelines.clusteredStateSink(
      keywords.withWatermark("event_time", "10 minutes")
        .groupBy(window(col("event_time"), "1 minute"), col("keyword"))
        .count()
        .select(col("window.start").as("minute"), col("keyword"), col("count")),
      s"$out/keyword_counts", s"$out/ckpt/counts", keys = Seq("keyword", "minute"))
    val alerts = Pipelines.trendingAlerts(
      keywords, "event_time", "keyword", threshold = 10, watermark = "10 minutes")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$out/ckpt/alerts")
      .trigger(Every5s)
      .format("parquet").option("path", s"$out/trending_alerts")
      .start()
    val mirror = Pipelines.cdcMirrorSink(spark, parsed, s"$out/mirror", s"$out/ckpt/mirror",
      policy = Pipelines.ReferenceTablePolicy, defaultPolicy = Pipelines.TablePolicy.SkipTable)
    val rank = Pipelines.rankDeltaSnapshotSinkTtl(spark, keywords, "keyword", "event_time",
      s"$out/rank_state", s"$out/ckpt/rank", ttlMs = 7L * 24 * 3600 * 1000, topN = 50,
      watermarkDelay = "10 minutes")
    val landing = Pipelines.curatedLandingSink(
      Pipelines.dedupByContent(docsOf(parsed), "text", "event_time"),
      s"$out/curated", s"$out/ckpt/landing")
    val nearDup = Stateful.lshCandidateStream(docsOf(parsed), "doc_id", "text", "event_time",
        ttlMs = 1000L * 3600 * 24, watermarkDelay = "10 minutes")
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$out/ckpt/neardup")
      .trigger(Every5s)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.CandidatePair], _: Long) =>
        df.write.mode("append").parquet(s"$out/neardup_candidates")
      }
      .start()
    Seq("mirror" -> mirror, "counts" -> counts, "alerts" -> alerts, "rank" -> rank,
      "landing" -> landing, "neardup" -> nearDup)
  }

  private def waitFor(what: String, timeoutS: Double)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond) {
      if (System.nanoTime() > deadline) sys.error(s"timed out waiting for $what")
      Thread.sleep(20)
    }
  }

  private def rowsIn(q: StreamingQuery): Long = q.recentProgress.map(_.numInputRows).sum

  /** Highest watermark any batch of `q` ran with, epoch ms. */
  private def watermarkMs(q: StreamingQuery): Long =
    q.recentProgress.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(s => java.time.Instant.parse(s).toEpochMilli).foldLeft(0L)(math.max)

  def run(ctx: Ctx): Result = {
    val (spark, setupS) = Main.setUp(3)(_ => session(ctx))(_.stop())
    val src = ctx.path("cdc/src")
    val out = ctx.path("cdc/out")
    val backlogEvents = Files.readString(Paths.get(ctx.path("cdc/backlog_events"))).trim.toLong
    def committed0Ms(sink: String): Long = new File(s"$out/ckpt/$sink/commits/0").lastModified()

    val trace = new Trace(ctx.trace)
    trace.attach(spark)
    val t0 = System.currentTimeMillis()
    val queries = start(spark,
      withEventTime(Cdc.parse(spark.readStream.format("text").load(src), col("value"))), out)
    queries.foreach { case (n, q) => trace.watch(q.runId.toString, n) }
    def failed = queries.filter(_._2.exception.isDefined)
    waitFor("catch-up", 150) {
      failed.nonEmpty || Sinks.forall(s => committed0Ms(s) > 0)
    }
    val catchupS = (Sinks.map(committed0Ms).max
      .max(if (failed.nonEmpty) System.currentTimeMillis() else 0L) - t0) / 1000.0
    Files.writeString(Paths.get(ctx.path("catchup.done")), catchupS.toString)

    val liveDone = Paths.get(ctx.path("live.done"))
    waitFor("the live phase", ctx.seconds + 60) { failed.nonEmpty || Files.exists(liveDone) }
    val liveEvents = if (Files.exists(liveDone)) Files.readString(liveDone).trim.toLong else 0L
    val total = backlogEvents + liveEvents
    waitFor("the sinks to drain", 60) {
      failed.nonEmpty || queries.forall { case (_, q) => rowsIn(q) >= total }
    }
    val watermarks = queries.map { case (n, q) => n -> watermarkMs(q) }.toMap
    val progress = queries.map { case (n, q) => n -> q.recentProgress.toSeq }.toMap
    queries.foreach(_._2.stop())
    val wallS = (System.currentTimeMillis() - t0) / 1000.0
    trace.detach(spark)

    // ---- untimed checks: every sink against its batch twin ----
    val all = withEventTime(Cdc.parse(spark.read.text(src), col("value")))
    val keywords = keywordsOf(all)
    def same(name: String, got: => DataFrame, want: => DataFrame): () => Check = () =>
      failed.find(_._1 == name) match {
        case Some((_, q)) => Check(name, ok = false, s"query failed: ${q.exception.get.getMessage}")
        case None =>
          try {
            val (g, w) = (Main.rowSet(got), Main.rowSet(want))
            Check(name, g == w, s"stream ${g.size} rows, twin ${w.size} rows" +
              (if (g == w) "" else s"; first diff ${g.diff(w).take(2)} / ${w.diff(g).take(2)}"))
          } catch { case e: Throwable => Check(name, ok = false, s"check failed: ${e.getMessage}") }
      }
    val twinMirror = ctx.path("cdc/twin_mirror")
    val checkFns = Seq(
      same("mirror",
        spark.read.parquet(s"$out/mirror").select("table", "id", "ts_ms", "is_deleted"), {
          Pipelines.applyCdcBatch(spark, all, twinMirror, policy = Pipelines.ReferenceTablePolicy,
            defaultPolicy = Pipelines.TablePolicy.SkipTable)
          spark.read.parquet(twinMirror).select("table", "id", "ts_ms", "is_deleted")
        }),
      same("counts",
        spark.read.parquet(s"$out/keyword_counts").select("minute", "keyword", "count"),
        keywords.groupBy(window(col("event_time"), "1 minute"), col("keyword")).count()
          .filter(col("window.end").cast("long") * 1000 <= watermarks("counts"))
          .select(col("window.start").as("minute"), col("keyword"), col("count"))),
      same("alerts",
        spark.read.parquet(s"$out/trending_alerts").select("window_start", "key", "cnt"),
        Pipelines.trendingAlerts(keywords, "event_time", "keyword", threshold = 10)
          .filter((col("window_start").cast("long") + 1800) * 1000 <= watermarks("alerts"))),
      same("rank",
        spark.read.parquet(s"$out/rank_state/counts").select("key", "cnt"),
        keywords.groupBy(col("keyword").as("key")).agg(count(lit(1)).as("cnt"))),
      same("landing",
        spark.read.parquet(s"$out/curated")
          .select("doc_id", "scrubbed", "n_tok", "quality", "split", "shard").distinct(), {
          import graft.operators.Curation
          // dedupByContent's batch form: drop repeated content fingerprints
          val deduped = docsOf(all).withColumn("_fp", Text.fingerprint(col("text")))
            .dropDuplicates("_fp").drop("_fp")
          val curated = Curation.curateStream(deduped,
            col("doc_id"), col("text")).filter(col("verdict") === "keep")
          Curation.withSplit(curated, col("doc_id"))
            .withColumn("shard", Curation.hashBucket(col("doc_id"), "shard", 8))
            .select("doc_id", "scrubbed", "n_tok", "quality", "split", "shard")
        }),
      same("neardup",
        spark.read.parquet(s"$out/neardup_candidates").select("doc_a", "doc_b").distinct(),
        Stateful.lshCandidateStream(docsOf(all), "doc_id", "text", "event_time",
          ttlMs = 1000L * 3600 * 24).toDF().select("doc_a", "doc_b").distinct()))
    val check0 = System.nanoTime()
    val checks = Main.parallel(checkFns.size)(checkFns)
    val checkS = (System.nanoTime() - check0) / 1e9

    val ops = Sinks.map { s =>
      val c = checks.find(_.name == s).get
      Op("sink", s, wallS * 1000, c.ok, if (c.ok) "" else c.detail)
    }

    val layers = mutable.Map.empty[String, Double]
    if (ctx.trace) {
      val callS = progress.values.flatten.map(p => p.durationMs.getOrDefault("triggerExecution", 0L).toDouble).sum / 1000.0
      layers ++= Main.commonLayers(spark, trace, wallS, ctx.cores, callS)
      def p50(xs: Seq[Double]) = Main.median(xs)
      def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      Sinks.foreach { s =>
        val ps = progress(s)
        layers(s"streaming.$s.trigger_p50_ms") = p50(ps.map(d(_, "triggerExecution")))
        layers(s"streaming.$s.addbatch_p50_ms") = p50(ps.map(d(_, "addBatch")))
        layers(s"streaming.$s.planning_p50_ms") = p50(ps.map(d(_, "queryPlanning")))
        layers(s"streaming.$s.commitlog_p50_ms") = p50(ps.map(p => d(p, "walCommit") + d(p, "commitOffsets")))
        val last = ps.lastOption
        layers(s"streaming.$s.state_rows_end") =
          last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0)
        layers(s"streaming.$s.state_bytes_end") =
          last.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0)
      }
      layers("streaming.batches") = progress.values.map(_.size).sum.toDouble
      layers("model.parse_s") = Main.parseSeconds(spark,
        spark.read.text(src).filter(input_file_name().contains("backlog")))
      layers("harness.trace_busy_s") = trace.busyS
      Main.writeSpans(ctx, trace)
    }
    spark.stop()
    Result(
      setupS = setupS,
      throughputPerS = backlogEvents / catchupS,
      ops = ops,
      checks = checks,
      layers = layers.toMap,
      extra = Map("catchup_s" -> catchupS, "backlog_events" -> backlogEvents,
        "live_events" -> liveEvents, "wall_s" -> wallS, "check_s" -> checkS,
        "batches" -> progress.map { case (k, v) => k -> v.size }))
  }
}
