package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Cdc
import graft.operators.Pins

/** Structured Streaming pipelines (SURVEY §2.9, §3.1–§3.4).
  *
  * Design rule: every transform is a plain DataFrame→DataFrame function
  * that works on BOTH a batch and a streaming input — the stream-batch
  * consistency property (the Structured Streaming paper's core
  * guarantee, see PAPERS.md) is what the replay tests assert.
  *
  * Delivery semantics: checkpointed exactly-once (strictly stronger
  * than the reference's at-least-once, SURVEY §4.3#3); the mirror sink
  * stays correct under replay because the merge is idempotent —
  * matching the reference's ON DUPLICATE KEY UPDATE idempotency
  * (targetDB1/SyncService.py:87-146).
  */
object Pipelines {

  /** S1/S2/S3: Kafka CDC source. Production wiring — the test
    * environment has no broker, so correctness of the downstream DAG
    * is pinned via MemoryStream replay against the same transforms. */
  def kafkaCdcSource(spark: SparkSession, bootstrap: String, topic: String,
      startingOffsets: String = "latest"): DataFrame =
    Cdc.parse(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", startingOffsets)
        .load()
        .select(col("value").cast("string").as("value")),
      col("value"))

  /** A1 trending branch (AlertTopology.java:86-98): tumbling window
    * count over the key with a short watermark (no-grace parity,
    * SURVEY ST1). Works unchanged on batch input (watermark is a
    * no-op there). */
  def trendingAlerts(events: DataFrame, ts: String, key: String,
      windowDur: String = "30 minutes", threshold: Long = 10,
      watermark: String = "0 seconds"): DataFrame =
    events.withWatermark(ts, watermark)
      .groupBy(window(col(ts), windowDur), col(key).as("key"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
      .select(col("window.start").as("window_start"), col("key"), col("cnt"))

  /** A2/A8/A9 breaking branch (AlertTopology.java:49-75): volume +
    * distinct-source thresholds. collect_set keeps the aggregation
    * streaming-legal (countDistinct is not allowed in streaming
    * aggs); source cardinality is small and bounded. */
  def breakingAlerts(events: DataFrame, ts: String, key: String, source: String,
      windowDur: String = "5 minutes", minCount: Long = 3, minSources: Int = 2,
      watermark: String = "0 seconds"): DataFrame =
    events.withWatermark(ts, watermark)
      .groupBy(window(col(ts), windowDur), col(key).as("key"))
      .agg(count(lit(1)).as("cnt"), collect_set(col(source)).as("sources"))
      .filter(col("cnt") >= minCount && size(col("sources")) >= minSources)
      .select(col("window.start").as("window_start"), col("key"), col("cnt"),
        size(col("sources")).as("n_sources"))

  /** Stream-stream interval join (the attribution shape: each left
    * event matches right events with the same key whose event time
    * falls in [left.ts, left.ts + maxDelay]). Structured Streaming's
    * native interval-join contract — both sides watermarked so the
    * state store is BOUNDED: left rows are evicted once the watermark
    * passes left.ts + maxDelay, right rows once it passes right.ts.
    * Inner-join results emit as soon as both sides arrive (no
    * watermark wait), so stream and batch agree row-for-row.
    *
    * At scale this is one shuffle per side on the join key, identical
    * state keyed by (key, time-range) on every executor — the same
    * plan Spark uses for the batch range join, plus eviction. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String,
      maxDelay: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $maxDelay"))
      .select(col(s"l.$key").as(key),
        col(s"l.$leftTs").as("left_ts"), col(s"r.$rightTs").as("right_ts"))
  }

  /** §3.1 keyword dataflow head: quality filter → keyword fan-out.
    * `extract` is the U1 keyword column (array) for the row. */
  def keywordFanout(parsed: DataFrame, textCol: String,
      extract: org.apache.spark.sql.Column): DataFrame =
    parsed
      .filter(col(textCol).isNotNull && length(col(textCol)) >= 50)
      .select(col("*"), explode(extract).as("keyword"))

  /** S6: enriched keyword-event payload for the republish sink
    * (keyword_republisher.py:14-38,43-123 — FIXTURES A6): Kafka key
    * `article_{id}`, JSON value with the keyword array, per-keyword
    * classification map (SC7), extraction method and event time.
    * Pipe the result into writeStream.format("kafka"). */
  def republishKeywords(keywords: DataFrame, id: Column, ts: Column): DataFrame =
    keywords
      .groupBy(id.as("article_id"), ts.as("event_time"))
      .agg(array_distinct(collect_list(col("keyword"))).as("keywords"))
      .select(
        concat(lit("article_"), col("article_id")).as("key"),
        to_json(struct(
          col("article_id"),
          col("keywords"),
          map_from_arrays(col("keywords"),
            transform(col("keywords"), k => graft.functions.Text.classifyKeyword(k)))
            .as("keyword_classes"),
          lit("graft-regex").as("extraction_method"),
          date_format(col("event_time"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("timestamp")))
          .as("value"))

  /** SC14: the alert envelope the reference publishes
    * (cs/service/alert/AlertAnalyzer.java:54-58,83-89): UUID alert id,
    * alert type, severity constant (0.8 breaking / 0.5 trending),
    * detection time. uuid()/current_timestamp() are nondeterministic
    * by design — oracle-gated queries aggregate over the deterministic
    * columns and the spec pins id uniqueness + constants. */
  def alertEnvelope(alerts: DataFrame, alertType: String, severity: Double): DataFrame =
    alerts.select(
      expr("uuid()").as("alert_id"),
      lit(alertType).as("alert_type"),
      lit(severity).as("severity"),
      col("window_start"), col("key"), col("cnt"),
      current_timestamp().as("detected_at"))

  /** F9 streaming form: dedup by natural key (existsByLink,
    * ArticleRepository.java:21) on a stream. State is bounded by the
    * watermark: a key is remembered only while late duplicates can
    * still arrive. */
  def dedupByKey(df: DataFrame, keys: Seq[String], eventTime: String,
      watermark: String = "10 minutes"): DataFrame =
    df.withWatermark(eventTime, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Near-real-time EXACT content dedup on a stream: fingerprint the
    * normalized text (Text.fingerprint — md5 of lowercased, squeezed
    * content, so trivial re-encodings collapse) and drop duplicates
    * within the watermark. The streaming twin of Dedup.exact: state
    * holds one fingerprint per kept doc only while late duplicates can
    * still arrive, so it stays bounded at any ingest rate. */
  def dedupByContent(docs: DataFrame, textCol: String, eventTime: String,
      watermark: String = "10 minutes"): DataFrame = {
    // fingerprint uses the native graft_nfc function — register it so
    // the operator works on sessions not built via GraftSession.create
    graft.plans.GraftFunctions.register(docs.sparkSession)
    dedupByKey(
      docs.withColumn("_fp", graft.functions.Text.fingerprint(col(textCol))),
      Seq("_fp"), eventTime, watermark)
      .drop("_fp")
  }

  /** Mirror layout: `bucket = pmod(hash(table, id), nBuckets)` hive
    * partitions. Only buckets containing batch keys are merged and
    * swapped, so the per-micro-batch rewrite unit is
    * `mirror_size / nBuckets` — SIZE THE COUNT FROM THE MIRROR:
    *
    *   nBuckets ≈ mirror_size / target_rewrite_unit
    *
    * with the rewrite unit a few GB (one executor-friendly merge +
    * rename). 64 suits the test-scale mirrors here (≈ MBs/bucket); a
    * 1 TB mirror wants ~10³, a 100 TB mirror ~10⁴–10⁵ (optionally
    * composed with a `stored_date` partition level so old days freeze
    * out of the touched set entirely). The worst case — a batch whose
    * keys span every bucket — degrades to a full-mirror rewrite, so
    * the count must be high enough that a typical batch touches a
    * small fraction. Pass the count through `cdcMirrorSink`/
    * `applyCdcBatch` (`nBuckets`); it is a layout constant PER MIRROR
    * — changing it re-hashes every key, i.e. a full rewrite
    * migration. */
  val MirrorBuckets = 64

  /** Per-table CDC routing policy. The reference does NOT treat every
    * table uniformly (targetDB1/SyncService.py): `articles` deletes
    * run `UPDATE ... SET is_deleted = TRUE` (soft, :143),
    * `media` deletes run a real `DELETE FROM media` (hard, :144),
    * `article_changes` has upsert statements but NO delete statement —
    * its d-events are dropped (:257, `table_name not in
    * self.delete_queries`), and a table with no statements at all is
    * skipped entirely (:224). */
  sealed trait TablePolicy
  object TablePolicy {
    /** d-ops tombstone the row: kept in the mirror with is_deleted=true. */
    case object SoftDelete extends TablePolicy
    /** d-ops physically remove the row from the mirror. */
    case object HardDelete extends TablePolicy
    /** upserts apply; d-ops are ignored (no delete statement). */
    case object SkipDeletes extends TablePolicy
    /** every event for the table is dropped (unsupported table). */
    case object SkipTable extends TablePolicy
  }

  /** The reference's exact routing (SyncService.py:143-145,224,257);
    * the default policy (unknown table) is skip. */
  val ReferenceTablePolicy: Map[String, TablePolicy] = Map(
    "articles" -> TablePolicy.SoftDelete,
    "media" -> TablePolicy.HardDelete,
    "article_changes" -> TablePolicy.SkipDeletes)

  /** `table` matches policy value `p` (counting the default for tables
    * not in the map). Pure column predicate — the policy map is tiny
    * driver-side config, never row data. */
  private def policyPred(policy: Map[String, TablePolicy], default: TablePolicy,
      p: TablePolicy): Column = {
    val named = policy.collect { case (t, pol) if pol == p => t }.toSeq
    val inNamed = if (named.isEmpty) lit(false) else col("table").isin(named: _*)
    if (default == p) {
      if (policy.isEmpty) lit(true)
      else inNamed || !col("table").isin(policy.keys.toSeq: _*)
    } else inNamed
  }

  private def mirrorBucket(nBuckets: Int): Column =
    pmod(hash(col("table"), col("id")), lit(nBuckets))

  /** S8: apply one CDC micro-batch to a parquet mirror table —
    * idempotent last-writer-wins MERGE keyed on id, with per-table
    * delete routing (SyncService.py:87-146,222-283). The default
    * policy (empty map + SoftDelete) tombstones every table — pass
    * `ReferenceTablePolicy` with `defaultPolicy = SkipTable` for exact
    * reference parity. Used from foreachBatch; also callable on batch
    * data (tests).
    *
    * Incremental: only the hash buckets containing keys present in the
    * batch are read and rewritten (partition-pruned scan; the driver
    * materializes at most `nBuckets` small integers, never rows).
    *
    * Crash-atomic per bucket: merged output is staged under a hidden
    * `.staging` dir, then each touched bucket is [[publish]]ed with
    * `.bak/bucket=N` as its aside. A crash at any point leaves every
    * bucket recoverable: [[recoverMirror]] restores live data from
    * `.bak` on the next batch, and the
    * checkpointed source replays the interrupted batch, whose merge is
    * idempotent — so exactly-once state survives failure. */
  def applyCdcBatch(spark: SparkSession, parsed: DataFrame, mirrorPath: String,
      nBuckets: Int = MirrorBuckets,
      policy: Map[String, TablePolicy] = Map.empty,
      defaultPolicy: TablePolicy = TablePolicy.SoftDelete): Unit = {
    Pins { p =>
      // cached: the routed batch is consumed TWICE (touched-bucket
      // collect, then the merge) — without the cache a caller whose
      // `parsed` is itself an expensive lazy chain (JSON parse over a
      // synthesized batch) pays that chain once per consumer. Batch-
      // sized, freed when the scope ends.
      val incoming = p.cache(parsed.select(
        coalesce(col("after.id"), col("before.id")).as("id"),
        col("table"),
        col("ts_ms"),
        col("after.value").as("value"),
        (col("op") === "d").as("is_deleted"))
        .filter(col("id").isNotNull)
        // routing: unsupported tables drop entirely; d-events for
        // tables with no delete statement drop before the merge (the
        // previously-mirrored row, if any, stays live).
        .filter(!policyPred(policy, defaultPolicy, TablePolicy.SkipTable))
        .filter(!(col("is_deleted") &&
          policyPred(policy, defaultPolicy, TablePolicy.SkipDeletes)))
        .withColumn("bucket", mirrorBucket(nBuckets)))
      val root = new Path(mirrorPath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      recoverMirror(fs, root)
      // Bounded driver-side state: ≤ nBuckets ints, regardless of batch size.
      val touched = incoming.select("bucket").distinct()
        .collect().map(_.getInt(0)).sorted
      if (touched.nonEmpty) {
        val hasLiveBuckets = fs.exists(root) &&
          fs.listStatus(root).exists(_.getPath.getName.startsWith("bucket="))
        val existing =
          // read with the batch's schema (the mirror's own columns, in
          // order; `bucket` is the partition column): no per-trigger
          // parquet schema-inference job
          if (hasLiveBuckets)
            spark.read.schema(incoming.schema).parquet(mirrorPath)
              .filter(col("bucket").isin(touched.toIndexedSeq.map(Int.box): _*))
          else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            incoming.schema)
        // union → keep the newest (ts_ms) version per (table, id), ties
        // is_deleted-first — as ONE max-by aggregation (r21, guide §2.3:
        // aggregate before you shuffle). The former dropDuplicates +
        // row_number pipeline paid two wide shuffles plus a per-key sort;
        // the struct-max aggregation combines map-side, so the shuffle
        // carries one candidate row per (table, id) per map partition and
        // no sort at all. Winner identical: lexicographic struct max on
        // (ts_ms, is_deleted) is exactly the rank's (ts_ms DESC,
        // is_deleted DESC) head; rows tied on both were an arbitrary
        // winner before (documented: `value` is not asserted on ties) and
        // are now a deterministic max over the remaining fields. Replayed
        // duplicates collapse the same way (one winner per key).
        // FORMAT NOTE (r22, advisor): mirrors persisted at external
        // mirrorPath locations by pre-r21 builds may therefore carry
        // different tie-LOSER rows than a fresh rebuild would produce —
        // expected, not corruption (ties were never asserted).
        val merged = existing.unionByName(incoming)
          .groupBy(col("table"), col("id"))
          .agg(max(struct(col("ts_ms"), col("is_deleted"), col("value"),
            col("bucket"))).as("_w"))
          .select(col("id"), col("table"), col("_w.ts_ms").as("ts_ms"),
            col("_w.value").as("value"), col("_w.is_deleted").as("is_deleted"),
            col("_w.bucket").as("bucket"))
          // hard-delete tables: a winning d-event removes the row
          // physically instead of leaving a tombstone. (Same caveat as the
          // reference's DELETE: a later replay of an OLDER upsert can
          // resurrect the id, because no tombstone remains to outrank it.)
          .filter(!(col("is_deleted") &&
            policyPred(policy, defaultPolicy, TablePolicy.HardDelete)))
        val staging = new Path(root, ".staging")
        if (fs.exists(staging))
          require(fs.delete(staging, true), s"failed to clear $staging")
        // repartition on the bucket key before the partitionBy write: the
        // merge window leaves rows of one bucket spread over every task,
        // and partitionBy alone would then emit tasks×buckets small files
        // per micro-batch — a file-count explosion at 100 TB. One extra
        // exchange of the touched-buckets subset buys one file per bucket
        // (AQE coalesces the near-empty partitions). The within-partition
        // sort is the writeClustered mechanism applied to the mirror
        // (r13): leading with the partition column keeps the writer on
        // one open file, and (table, id) order gives every row group
        // tight min/max stats on the SERVING keys — a mirror range read
        // (q145's `table = x AND id BETWEEN lo AND hi`, the reference's
        // SyncService point-read shape) prunes row groups instead of
        // scanning whole buckets (hash bucketing spreads every id range
        // across ALL buckets, so dir-level pruning can't help there;
        // SCALE.md "Clustered layout ADOPTED: the CDC mirror", r13).
        // Files split at the session's per-file record cap (a
        // `spark.sql.files` conf; SyncMirrorSpec's sort pin lowers it to
        // surface multi-file row-group geometry at toy scale; at 100 TB
        // natural row-group segmentation provides it).
        merged.repartition(col("bucket"))
          .sortWithinPartitions(col("bucket"), col("table"), col("id"))
          .write.mode("overwrite")
          .partitionBy("bucket").parquet(staging.toString)
        val bak = new Path(root, ".bak")
        fs.mkdirs(bak)
        // a touched bucket with no staged dir (every row hard-deleted)
        // publishes as absent
        touched.foreach { b =>
          val name = s"bucket=$b"
          publish(fs, new Path(staging, name), new Path(root, name), new Path(bak, name))
        }
        require(fs.delete(bak, true), s"failed to clean $bak")
        if (fs.exists(staging))
          require(fs.delete(staging, true), s"failed to clean $staging")
      }
    }
  }

  /** Crash recovery for the bucket swap: a leftover `.bak/bucket=N`
    * means the previous batch died mid-swap; [[restore]] each one, then
    * drop `.bak`. The interrupted batch replays from the checkpoint
    * afterwards. */
  private def recoverMirror(fs: org.apache.hadoop.fs.FileSystem, root: Path): Unit = {
    val bak = new Path(root, ".bak")
    if (fs.exists(bak)) {
      fs.listStatus(bak).foreach(st =>
        restore(fs, new Path(root, st.getPath.getName), st.getPath))
      require(fs.delete(bak, true), s"failed to clean $bak")
    }
  }

  /** Publish `df` at `root/name` with NO lost-table crash window:
    * written to `.tmp-name`, then [[publish]]ed with `.old-name` as
    * the aside. A crash between the two renames leaves the previous
    * table recoverable at `.old-name`; [[restoreSwap]] (run by every
    * reader in the apply loop) renames it back, so an authoritative
    * long-lived table — the TTL loop's `counts`, whose idle keys are
    * NEVER re-emitted by update-mode state — cannot silently vanish
    * and restart empty. */
  private def writeSwap(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, name: String, df: DataFrame): Unit = {
    val tmp = new Path(root, s".tmp-$name")
    if (fs.exists(tmp)) require(fs.delete(tmp, true), s"failed to clear $tmp")
    df.write.mode("overwrite").parquet(tmp.toString)
    publish(fs, tmp, new Path(root, name), new Path(root, s".old-$name"))
  }

  /** Crash recovery for [[writeSwap]]. Idempotent; called before every
    * read of a swap-published table. */
  private def restoreSwap(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, name: String): Unit =
    restore(fs, new Path(root, name), new Path(root, s".old-$name"))

  /** The ONE publish step of this file (writeSwap, the clustered state
    * batches and the mirror's buckets all go through it): move `live`
    * ASIDE, rename `staged` in, drop the aside. `staged` absent
    * publishes `live` as absent. A stale aside on entry means an
    * earlier publish got past its first rename; `staged` supersedes
    * it, so it is cleared. Boolean returns checked: HDFS reports
    * rename/delete failure by RETURNING FALSE, and a silently failed
    * rename onto an existing dir would nest `staged` INSIDE `live`. */
  private def publish(fs: org.apache.hadoop.fs.FileSystem,
      staged: Path, live: Path, aside: Path): Unit = {
    if (fs.exists(aside)) require(fs.delete(aside, true), s"failed to clear $aside")
    if (fs.exists(live)) require(fs.rename(live, aside), s"failed to set aside $live")
    if (fs.exists(staged)) require(fs.rename(staged, live), s"failed to publish $live")
    if (fs.exists(aside)) require(fs.delete(aside, true), s"failed to drop $aside")
  }

  /** Crash recovery for [[publish]]: an aside left with no live dir
    * means the crash landed between the two renames, so the aside
    * copy moves back; an aside next to a live dir is a finished
    * publish's leftover and is dropped. */
  private def restore(fs: org.apache.hadoop.fs.FileSystem, live: Path, aside: Path): Unit =
    if (fs.exists(aside)) {
      if (fs.exists(live)) require(fs.delete(aside, true), s"failed to drop $aside")
      else require(fs.rename(aside, live), s"failed to restore $live from $aside")
    }

  /** The ONE foreachBatch sink preamble (r17 consolidation): every
    * foreachBatch-shaped sink in this file starts the same way —
    * checkpointed source replay + a per-trigger driver callback —
    * and used to repeat the five-line writeStream chain. What stays
    * IN each sink body on purpose: the empty-trigger guards and
    * misconfiguration requires, because they genuinely differ per
    * sink (dupClusterSink persists-then-counts, upsertSketchIndex
    * no-ops internally, vectorDeleteSink wants empty deletes to flow
    * — a uniform guard here would change semantics). */
  private def foreachBatchSink(src: DataFrame, checkpoint: String,
      trigger: Trigger, outputMode: String = "append")(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    src.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(body)
      .start()

  /** TTL-parity rank-delta loop (W2 + the reference's 7-day Redis
    * EXPIRE, advanced_trend_analyzer.py:89): per-key running counts
    * live in TTL-evicting keyed state (`Stateful.runningCountsEvicting`
    * — watermark-driven, RocksDB-partitioned, never driver-side), and
    * each trigger's UPDATE batch (changed totals + eviction
    * tombstones) folds into a persisted `stateDir/counts` table before
    * the usual top-N/delta/snapshot advance. On-disk state is O(live
    * keys) — an idle key leaves the state store after `ttlMs` of
    * event-time silence and drops from `counts` (and therefore from
    * the next snapshot) at its eviction trigger. */
  def rankDeltaSnapshotSinkTtl(spark: SparkSession, events: DataFrame,
      keyCol: String, tsCol: String, stateDir: String, checkpoint: String,
      ttlMs: Long = 7L * 24 * 3600 * 1000, topN: Int = 50,
      watermarkDelay: String = "0 seconds",
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    foreachBatchSink(
      Stateful.runningCountsEvicting(events, keyCol, tsCol, ttlMs,
        watermarkDelay).toDF(),
      checkpoint, trigger, outputMode = "update") { (batch, _) =>
      applyRankDeltaUpdates(spark, batch, stateDir, topN)
    }

  /** Fold one update batch (key, total, evicted) into the persisted
    * live-counts table, then advance the rank-delta snapshot loop
    * (W2, realtime_keyword_aggregator.py:358-383): the live counts are
    * limited to the top-`topN` (TakeOrderedAndProject — the
    * reference's candidate over-fetch), ranked against the PREVIOUS
    * trigger's persisted snapshot, the movement table is published to
    * `stateDir/delta`, and the snapshot at `stateDir/snapshot` is
    * advanced — all three through [[writeSwap]]. The merge is one
    * anti-join + union keyed on `key` — O(live keys) per trigger,
    * distributed, no driver-side rows; the snapshot and delta are
    * ≤ topN rows regardless of key cardinality. Replay-safe: totals
    * are absolute (last writer wins), evictions are idempotent, and a
    * replayed trigger recomputes the delta against the
    * already-advanced snapshot ("stable" movements) — the same
    * at-least-once display semantics as the reference's Redis loop.
    * A trigger with no update rows (the no-data batch Spark runs when
    * the watermark moves and nothing evicts) changes no count, so it
    * publishes nothing: the last movements stay in place. */
  def applyRankDeltaUpdates(spark: SparkSession, updates: DataFrame,
      stateDir: String, topN: Int = 50): Unit = {
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash recovery runs on every trigger, empty ones included: a
    // crash between a publish's two renames leaves the table aside
    Seq("counts", "snapshot", "delta").foreach(restoreSwap(fs, root, _))
    // persist + count: the emptiness probe and the merge read the
    // micro-batch once (applyClusteredStateBatch's move)
    Pins { p =>
      if (p.cache(updates).count() > 0L) {
        val countsPath = new Path(root, "counts")
        val prior =
          if (fs.exists(countsPath)) spark.read.parquet(countsPath.toString)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("key",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("cnt",
                org.apache.spark.sql.types.LongType))))
        writeSwap(fs, root, "counts", prior
          .join(updates.select(col("key")), Seq("key"), "left_anti")
          .unionByName(updates.filter(!col("evicted"))
            .select(col("key"), col("total").as("cnt"))))
        val snap = new Path(root, "snapshot")
        val current = spark.read.parquet(countsPath.toString)
          .orderBy(col("cnt").desc, col("key")).limit(topN)
        val previous =
          if (fs.exists(snap)) spark.read.parquet(snap.toString)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], current.schema)
        // delta reads the old snapshot, so publish it BEFORE the swap
        writeSwap(fs, root, "delta",
          graft.operators.TimeSeries.rankDelta(current, previous, topN = topN))
        writeSwap(fs, root, "snapshot", current)
      }
    }
  }

  /** One trigger's clustered state-table landing — the foreachBatch
    * body of [[clusteredStateSink]], factored out so probes and specs
    * exercise the exact production write (the q145/mirror lesson: one
    * code path behind the gate and the measurement).
    *
    * The writeClustered mechanism applied to an APPENDED state table:
    * range-partition the batch on the serving keys (write parallelism
    * scales with the batch; files are key-range-disjoint), sort within
    * partitions (tight per-row-group min/max on the serving keys), and
    * land in a `batch=N` dir with mode-overwrite — a redelivered
    * trigger overwrites its own dir, so replay is idempotent (the
    * corpusFactory landing contract). Readers `spark.read.parquet(path)`
    * and get `batch` as a partition column to drop. */
  def applyClusteredStateBatch(batch: DataFrame, path: String, batchId: Long,
      keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "applyClusteredStateBatch needs >=1 clustering key")
    // empty trigger = no dir: append-mode windowed aggregation emits
    // rows only when the watermark closes a window, so MOST triggers
    // produce nothing — writing batch=N anyway would grow the state
    // table by one empty partition dir per trigger forever (~17k/day
    // at 5 s), and every reader pays partition discovery over all of
    // them (the upsertSketchIndex empty-batch contract, mirrored).
    // persist + count(): the emptiness probe and the write are two
    // actions over the same micro-batch plan. count() (not isEmpty)
    // materializes EVERY partition into the cache — a limit-1 probe
    // would cache only the partitions it touched and the write would
    // silently recompute the stateful aggregation for the rest
    // (r15 advisor finding); the full pass costs nothing extra on an
    // empty trigger and is the price of one execution on a full one
    // (MEMORY_AND_DISK, so an oversized batch spills rather than
    // evicts).
    Pins { p =>
      if (p.cache(batch).count() > 0L) {
        val ks = keys.map(col)
        // STAGE + RENAME, never write into the live dir: the native
        // file sink this replaces gave readers atomic trigger
        // visibility via _spark_metadata; a plain multi-file write
        // into batch=N would let a concurrent serving read list a
        // SUBSET of the trigger's files (silently undercounted
        // windows). Dot-prefixed dirs are invisible to Spark's file
        // listing, so the staged write is never read; the rename is
        // the atomic publish, and a crash-replay swaps the redelivered
        // batch in whole (writeSwap). TWO residual
        // reader races exist, BOTH confined to crash-replay of an
        // already-published batch (first publish of batch=N has no
        // live dir to swap): (a) a reader that listed the OLD files
        // just before the swap hits FileNotFound mid-scan — loud, the
        // standard swap trade; (b) a reader whose ROOT listing lands
        // in the live→aside→live window sees no batch=N dir at all
        // and silently undercounts that one batch for that one read.
        // (b) is accepted for this tier: replay re-delivers the SAME
        // rows (deterministic per-batch recomputation), the window is
        // two renames wide, and it requires a crash between commit and
        // checkpoint — a dashboard read repeated a trigger later is
        // whole again. A tier where a transient whole-batch gap is
        // NOT acceptable should publish under versioned dir names
        // resolved through a pointer file instead.
        val root = new Path(path)
        val fs = root.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        writeSwap(fs, root, s"batch=$batchId",
          batch.repartitionByRange(ks: _*).sortWithinPartitions(ks: _*))
      }
    }
  }

  /** Clustered sink for events-derived STATE tables (the r13 mirror
    * layout adoption extended to the windowed-counts tier): each
    * trigger's append-mode output lands key-sorted via
    * [[applyClusteredStateBatch]] instead of the native file sink's
    * unsorted tasks×leaves files.
    *
    * Why not the native parquet streaming sink: Structured Streaming
    * rejects Sort outside Complete-mode aggregation, so the native
    * sink CANNOT cluster — every file's row groups span the whole key
    * space and a serving read (the dashboard shape: one key × a time
    * range, q15/q27/q140) scans everything the time-dir pruning
    * leaves. With key-leading sort order, row-group min/max confine
    * the scan to the requested key's groups — O(|answer| + files)
    * rows, not O(state table); SCALE.md "Clustered state tables"
    * records the measured factor. Exactly-once: checkpointed
    * offsets + per-batch dir overwrite (same contract as
    * [[corpusFactorySink]]). */
  def clusteredStateSink(counts: DataFrame, path: String, checkpoint: String,
      keys: Seq[String],
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    // NOT layout-compatible with a dir holding flat parquet files —
    // the native streaming file sink's layout (part files +
    // _spark_metadata) OR any batch job's: mixed depths fail
    // partition inference and metadata-log readers silently ignore
    // the new files. Refuse the in-place swap loudly; migrate to a
    // fresh directory. (Migration caveat the guard cannot see: a
    // fresh data dir with the OLD checkpoint resumes the watermark
    // past every already-emitted window — history is not re-emitted.
    // Migrate data dir and checkpoint together.)
    val root = new Path(path)
    val fs = root.getFileSystem(
      counts.sparkSession.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(root, "_spark_metadata")),
      s"$path was written by the native streaming file sink " +
        "(_spark_metadata present) — clusteredStateSink uses a " +
        "batch=N layout; point it at a fresh directory")
    if (fs.exists(root)) {
      val flat = fs.listStatus(root).filter(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
      require(flat.isEmpty,
        s"$path holds ${flat.length} flat parquet files — writing " +
          "batch=N subdirs next to them creates a mixed-depth layout " +
          "readers cannot infer; point clusteredStateSink at a fresh " +
          "directory")
    }
    foreachBatchSink(counts, checkpoint, trigger) { (batch, batchId) =>
      applyClusteredStateBatch(batch, path, batchId, keys)
    }
  }

  /** Training-data landing zone: the streaming curation funnel's keep
    * rows written per micro-batch as split/shard-partitioned parquet —
    * the layout a trainer consumes directly (deterministic split
    * membership, hash-sharded files). Every per-row transform here is
    * stateless (the funnel gates, the scrub, the split and shard
    * buckets are pure functions of the key), so the stream/batch
    * results are identical and exactly-once follows from the
    * checkpointed file sink.
    *
    * Layout caveat: the native file sink appends tasks × leaves files
    * per trigger and cannot sort (Structured Streaming rejects Sort /
    * range repartition outside Complete-mode aggregation), so a
    * long-running stream fragments the landing zone. For the
    * clustered layout (range-partitioned, doc_id-sorted,
    * bounded-file-count batches — the writeClustered mechanism) use
    * [[corpusFactorySink]], whose foreachBatch write applies it; this
    * sink is the lightweight stateless variant for consumers that
    * compact downstream. */
  def curatedLandingSink(docs: DataFrame, path: String, checkpoint: String,
      nShards: Int = 8,
      // optional learned gate (r19): the collected NB model rides the
      // funnel's per-row nbScoreExpr stage — stateless, so this sink
      // stays a pure append stream (the join-form gate for
      // corpus-scale vocabularies lives on corpusFactorySink, whose
      // foreachBatch can join)
      nbModel: Option[graft.functions.Text.NbModelLocal] = None,
      nbMinScore: Double = 0.0,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    import graft.operators.Curation
    val curated = Curation.curateStream(docs, col("doc_id"), col("text"),
        nbModel = nbModel, nbMinScore = nbMinScore)
      .filter(col("verdict") === "keep")
    Curation.withSplit(curated, col("doc_id"))
      .withColumn("shard", Curation.hashBucket(col("doc_id"), "shard", nShards))
      .select(col("doc_id"), col("scrubbed"), col("n_tok"), col("quality"),
        col("split"), col("shard"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .option("path", path)
      .partitionBy("split", "shard")
      .format("parquet")
      .trigger(trigger)
      .start()
  }

  /** The full streaming CORPUS FACTORY — the end-to-end composition a
    * continuously-crawled training corpus runs per micro-batch:
    *
    *   ingest → curation funnel (gates + PII scrub) → incremental
    *   near-dup dedup against the PERSISTED LSH index → index upsert →
    *   split/shard-partitioned landing zone.
    *
    * Semantics per batch:
    *  - only `verdict == keep` rows proceed (Curation.curateStream);
    *  - a kept doc is DROPPED when it near-dups (verified Jaccard ≥
    *    `threshold`, scrubbed text) either an already-indexed corpus
    *    doc or a LOWER-id doc of the same batch (greedy min-id-wins,
    *    the semanticDedup rule — within one batch a chain a~b~c keeps
    *    only a; cross-batch, first-indexed wins);
    *  - survivors upsert into the LSH index (`upsertLshIndex`: atomic
    *    versioned commit; re-ingested ids replace their old rows) and
    *    land under `landingPath/batch=<id>/split=…/shard=…`.
    *
    * Replay-idempotent without a transaction: survivors are
    * materialized (localCheckpoint) BEFORE the index commit, the
    * landing write overwrites the batch-scoped directory, and the
    * index upsert replaces the batch's ids — replaying a batch after
    * a crash at ANY point converges to the same corpus state (the
    * incremental join anti-joins the batch's own ids from the index
    * side, so a half-committed previous attempt changes nothing).
    *
    * Scale: every stage is the already-audited operator — the funnel
    * is stateless column algebra, the dedup join touches O(batch)
    * signatures plus index bucket probes, the index rewrite is one
    * version commit, the landing write shuffles only the batch. */
  def applyCorpusFactoryBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      indexPath: String, landingPath: String, nShards: Int = 8,
      threshold: Double = 0.8, minTokens: Int = 30, minQuality: Double = 0.65,
      nbGate: Option[(graft.functions.Text.NbModel, Double)] = None,
      dsirGate: Option[(Map[Long, Long], Long)] = None,
      bpeGate: Option[(Map[String, Long], Long)] = None): Unit = {
    import graft.operators.{Bpe, Curation, Dedup}
    val funneled = Curation.curateStream(batch, col("doc_id"), col("text"),
        minTokens = minTokens, minQuality = minQuality)
      .filter(col("verdict") === "keep")
    // optional learned quality gate (trained NB model + score floor) —
    // the CCNet order: heuristics shed volume first, the model filter
    // runs on survivors. This is the JOIN form (Text.nbScore): the
    // model's vocab-sized weights table joins the batch's token
    // stream, so corpus-scale vocabularies that the literal-map
    // per-row column refuses (collectNbModel's cap) gate here without
    // driver state — each micro-batch is a plain DataFrame inside
    // foreachBatch, so the explode/join/groupBy runs as-is per
    // trigger. Scored on the RAW text (the form the model trains on;
    // the funnel's per-row twin scores the same column).
    val nbAdmitted = nbGate.fold(funneled) { case (model, minScore) =>
      val admit = graft.functions.Text
        .nbScore(funneled, col("doc_id"), col("text"), model)
        .filter(col("score") >= lit(minScore))
        .select(col("doc_id"))
      funneled.join(admit, Seq("doc_id"), "left_semi")
    }
    // optional DSIR admission (fitted ratio map + micro-nat floor):
    // target-likeness gating as a stateless column — scored on the
    // scrubbed text, the same form the corpus persists
    val dsirAdmitted = dsirGate.fold(nbAdmitted) { case (ratios, floor) =>
      nbAdmitted.filter(
        Curation.dsirScore(col("scrubbed"), ratios) >= lit(floor))
    }
    // optional trained-tokenizer admission: the budget the trainer
    // actually pays is BPE tokens, not whitespace tokens — gate on
    // the literal-map count (Bpe.bpeTokenCount, word→n_sym from a
    // trained BpeState), stateless and streaming-legal like dsirScore
    val admitted = bpeGate.fold(dsirAdmitted) { case (wordNsym, minBpeTok) =>
      dsirAdmitted.filter(
        Bpe.bpeTokenCount(col("scrubbed"), wordNsym) >= lit(minBpeTok))
    }
    val curated = admitted
      .select(col("doc_id"), col("scrubbed"), col("n_tok"), col("quality"))
      // at-least-once sources redeliver: collapse duplicate doc_id
      // rows WITHIN the trigger (keep one arbitrary delivery — same-id
      // rows are the same document under redelivery) before the index
      // boundary, which validates unique ids loudly and would
      // otherwise turn a redelivered doc into a stream-killing raise
      .dropDuplicates(Seq("doc_id"))
      .localCheckpoint()
    val hasIndex = graft.operators.VersionedIndex.exists(spark, indexPath)
    val pairs =
      if (hasIndex) Dedup.incrementalLshPairsIndexed(curated, col("doc_id"),
        col("scrubbed"), indexPath, threshold = threshold)
      else Dedup.minhashLshPairs(curated, col("doc_id"), col("scrubbed"),
        threshold = threshold)
    val batchIds = curated.select(col("doc_id"))
    // every pair has ≥1 batch member. doc_b in batch → drop doc_b
    // (doc_a is older-indexed or the lower batch id); doc_a in batch
    // with an INDEXED doc_b → drop doc_a too (the corpus copy wins
    // regardless of id order).
    val dropB = pairs
      .join(batchIds.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
      .select(col("doc_b").as("_drop"))
    val dropA = pairs
      .join(batchIds.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
      .join(batchIds.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_anti")
      .select(col("doc_a").as("_drop"))
    // materialize BEFORE the index commit: the pair plan reads the
    // CURRENT index version, which the upsert's commit sweeps.
    val survivors = curated
      .join(dropB.union(dropA).distinct(), col("doc_id") === col("_drop"), "left_anti")
      .localCheckpoint()
    if (hasIndex)
      Dedup.upsertLshIndex(survivors, col("doc_id"), col("scrubbed"), indexPath)
    else Dedup.writeLshIndex(survivors, col("doc_id"), col("scrubbed"), indexPath)
    Curation.withSplit(survivors, col("doc_id"))
      .withColumn("shard", Curation.hashBucket(col("doc_id"), "shard", nShards))
      .select(col("doc_id"), col("scrubbed"), col("n_tok"), col("quality"),
        col("split"), col("shard"))
      // bounded, sorted landing files (the mirror sink's file-count
      // argument + Bucketing.writeClustered's pruning mechanism):
      // RANGE-partition on (split, shard, doc_id) so write parallelism
      // scales with the batch (a big leaf splits across tasks into
      // doc_id-range-DISJOINT files, never funnels through one task
      // per leaf), then sort within tasks — every landed file is
      // doc_id-sorted with tight row-group min/max on the primary
      // read key, and file count is ≤ shuffle partitions per batch,
      // not tasks × partitions
      .repartitionByRange(col("split"), col("shard"), col("doc_id"))
      .sortWithinPartitions(col("split"), col("shard"), col("doc_id"))
      .write.mode("overwrite").partitionBy("split", "shard")
      .parquet(s"$landingPath/batch=$batchId")
  }

  /** Streaming wrapper: Kafka-shaped (doc_id, text) stream →
    * applyCorpusFactoryBatch per trigger. Checkpointed source replay +
    * the batch's idempotence (see above) give exactly-once landing
    * state. */
  def corpusFactorySink(docs: DataFrame, indexPath: String, landingPath: String,
      checkpoint: String, nShards: Int = 8, threshold: Double = 0.8,
      minTokens: Int = 30, minQuality: Double = 0.65,
      nbGate: Option[(graft.functions.Text.NbModel, Double)] = None,
      dsirGate: Option[(Map[Long, Long], Long)] = None,
      bpeGate: Option[(Map[String, Long], Long)] = None,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    val spark = docs.sparkSession
    foreachBatchSink(docs, checkpoint, trigger) { (batch, batchId) =>
      applyCorpusFactoryBatch(spark, batch, batchId, indexPath, landingPath,
        nShards, threshold, minTokens, minQuality, nbGate, dsirGate, bpeGate)
    }
  }

  /** Streaming VECTOR ingestion into the persisted IVF index: each
    * micro-batch upserts atomically (one committed index version per
    * trigger — `Similarity.upsertIvfIndex`); the first batch
    * bootstraps the index and fixes the list geometry. Replay-safe:
    * an upsert of the same ids replaces the same rows, and a crashed
    * first build replays as an upsert of its own ids (same state).
    * The continuous-serving twin of the corpus factory's text side —
    * embeddings stream in, ANN search stays available on the last
    * committed version throughout.
    *
    * Drift policy: upserts pin the list geometry to the original
    * centroids, so a drifting stream skews the list histogram and
    * probe recall decays silently. Each upsert commit maintains the
    * histogram in the index params; when `rebuildSkewThreshold` is
    * set and `Similarity.ivfIndexStats` reports max/median ≥ the
    * threshold, the trigger re-centers with [[Similarity
    * .rebuildIvfIndex]] over the current rows — the documented
    * O(index) rebuild, amortized over the many O(batch) triggers
    * between rebuilds, after which search parity and balanced probes
    * are restored. For an IVF-PQ index the rebuild also retrains the
    * PQ codebook from the current corpus (pinned codewords drift
    * exactly like pinned centroids) — and since codewords can go
    * stale WITHOUT skewing the list histogram, `retrainErrRatio`
    * arms the second trigger: `Similarity.pqCodebookStats`'s
    * quantization-error EWMA vs the build-time baseline. And since
    * the GEOMETRY can go stale without skewing the histogram either
    * (ingest drifting toward list boundaries — recall decays, list
    * sizes stay balanced), `recenterExcess` arms the third trigger
    * for BOTH kinds: `Similarity.ivfCentroidStats`'s assigned-
    * centroid-distance EWMA vs its build baseline (the r18 axis —
    * every upsert maintains it; the check here is O(params)).
    *
    * Index access goes through ONE [[graft.operators.Index]] handle,
    * opened lazily after bootstrap and reused for every later trigger
    * (kind dispatch + params + the PQ codebook resolved once, not
    * per batch; a handle-initiated rebuild refreshes the preloaded
    * codebook in place). `pq = true` makes the BOOTSTRAP build an
    * IVF-PQ index — without it a sink pointed at a deleted/new path
    * that was meant to serve PQ would silently bootstrap plain IVF
    * and `retrainErrRatio` would never fire; setting `retrainErrRatio`
    * against a committed plain-IVF layout logs one WARN instead of
    * staying a silent no-op. */
  def vectorIngestSink(vectors: DataFrame, indexPath: String, checkpoint: String,
      nLists: Int = 16, rebuildSkewThreshold: Option[Double] = None,
      retrainErrRatio: Option[Double] = None, pq: Boolean = false,
      recenterExcess: Option[Double] = None,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    val spark = vectors.sparkSession
    import graft.operators.{Index, Similarity, VersionedIndex}
    var handle: Option[Index.Opened] = None // driver-side, one foreachBatch loop
    var warnedNoCodebook = false
    var warnedNoDistBaseline = false
    // centroid-staleness trigger, shared by both IVF kinds: armed only
    // once the index carries a usable ivfDist baseline (otherwise warn
    // once and stay unmonitored until a rebuild writes one); the
    // check itself reads params only
    def geometryStale(): Boolean = recenterExcess.exists { r =>
      // ONE params read serves the armed gate AND the excess math
      // (ivfCentroidStatsFrom): None = unarmed — no baseline (an empty
      // build corpus), or a degenerate (zero) baseline whose excess
      // would be garbage and could lock this trigger into
      // rebuild-every-batch; warn once, stay unmonitored until a
      // rebuild over real ingest writes a usable baseline
      val stats = Similarity.ivfCentroidStatsFrom(
        VersionedIndex.current(spark, indexPath), r)
      if (stats.isEmpty && !warnedNoDistBaseline) {
        warnedNoDistBaseline = true
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"vectorIngestSink: recenterExcess is set but the index at " +
            s"$indexPath has no usable centroid-fit baseline (missing " +
            "or degenerate ivfDistBuild) — geometry staleness is " +
            "unmonitored until the next rebuild")
      }
      stats.exists(_.needsRecenter)
    }
    foreachBatchSink(vectors, checkpoint, trigger) { (batch, _) =>
        if (!VersionedIndex.exists(spark, indexPath)) {
          if (pq) Similarity.buildIvfPqIndex(batch, nLists, indexPath)
          else Similarity.buildIvfIndex(batch, nLists, indexPath)
        } else {
          val h = handle.getOrElse {
            val o = Index.open(spark, indexPath); handle = Some(o); o
          }
          // two independent drift triggers, one O(params) check each:
          //  - list-histogram skew (geometry no longer balances lists)
          //  - codebook staleness (IVF-PQ only: new vectors no longer
          //    fit the pinned codewords — pqErrRecent EWMA vs build)
          // both answered by rebuild(), which re-centers, keeps the
          // PERSISTED nLists (the sink's nLists only sizes bootstrap)
          // and for IVF-PQ retrains + hot-swaps the handle's codebook
          h match {
            case i: Index.IvfPq =>
              i.upsert(batch)
              val skewed = rebuildSkewThreshold.exists(t => i.stats(t).needsRebuild)
              val stale = retrainErrRatio.exists(i.codebookStats(_).needsRetrain)
              if (skewed || stale || geometryStale()) i.rebuild()
            case i: Index.Ivf =>
              if (retrainErrRatio.isDefined && !warnedNoCodebook) {
                warnedNoCodebook = true
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  s"vectorIngestSink: retrainErrRatio is set but the index " +
                    s"at $indexPath is plain IVF (no PQ codebook) — the " +
                    "staleness trigger can never fire; bootstrap with " +
                    "pq = true if PQ serving is expected")
              }
              i.upsert(batch)
              if (rebuildSkewThreshold.exists(t => i.stats(t).needsRebuild) ||
                  geometryStale())
                i.rebuild()
            case other => sys.error(
              s"vectorIngestSink: cannot ingest vectors into a " +
                s"${other.kind} index at $indexPath")
          }
        }
    }
  }

  /** Streaming TAKEDOWN for the persisted IVF index: each micro-batch
    * of vec_ids deletes atomically (one committed index version per
    * trigger — `Similarity.deleteFromIvfIndex`), the opt-out /
    * right-to-be-forgotten stream a perpetually-ingesting corpus pairs
    * with [[vectorIngestSink]]. Replay-safe two ways: deleting
    * already-absent ids commits NOTHING (no new version), so an
    * at-least-once replay of a processed batch leaves the index
    * byte-identical; and a batch arriving before the index exists is
    * a no-op rather than an error (deletes of nothing). NOTE the
    * ordering requirement this implies: the checkpoint still advances
    * past such a batch, so ids deleted BEFORE the paired
    * [[vectorIngestSink]] bootstraps the index are never re-processed
    * — wire ingest before delete, or replay takedowns after
    * bootstrap. Skipped pre-index batches are not silent: each one
    * logs a WARN and bumps the `graft.vectorDeleteSink.skippedBatches`
    * accumulator (visible in the Spark UI / status API). O(batch) per
    * trigger end to end: discovery reads only the batch ids' vec_map
    * vb partitions and the commit rewrites only touched list/vb
    * partitions, everything else carried by manifest reference. */
  def vectorDeleteSink(deletes: DataFrame, indexPath: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    val spark = deletes.sparkSession
    import graft.operators.{Index, VersionedIndex}
    val skipped = spark.sparkContext
      .longAccumulator("graft.vectorDeleteSink.skippedBatches")
    var handle: Option[Index.Opened] = None // opened once, after the index exists
    foreachBatchSink(deletes, checkpoint, trigger) { (batch, batchId) =>
        if (VersionedIndex.exists(spark, indexPath)) {
          val h = handle.getOrElse {
            val o = Index.open(spark, indexPath); handle = Some(o); o
          }
          // handle dispatch makes the takedown stream kind-agnostic:
          // the same sink serves IVF, IVF-PQ and LSH indexes. The
          // sink's batch contract is a vec_id column; LSH tables key
          // on doc_id, so that arm renames positionally (any
          // single-id-column batch works)
          h match {
            case i: Index.IvfPq => i.delete(batch)
            case i: Index.Ivf => i.delete(batch)
            case i: Index.Sketch => i.delete(batch)
            case i: Index.Lsh =>
              val ids = if (batch.columns.contains("doc_id")) batch
                else batch.withColumnRenamed(batch.columns.head, "doc_id")
              i.delete(ids)
          }
        } else {
          skipped.add(1L)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"vectorDeleteSink: batch $batchId arrived before index " +
              s"$indexPath exists — takedown ids in it are DROPPED " +
              "(checkpoint advances; see the sink-ordering note)")
        }
    }
  }

  /** Streaming ingest for the persisted SKETCH index
    * ([[graft.operators.Similarity.writeSketchIndex]]): the first
    * NON-EMPTY batch bootstraps the index (dim/nBits pinned in its
    * params; an empty first batch is skipped so bootstrap never
    * commits a row-less layout), every later trigger upserts —
    * O(touched buckets) commit I/O through the partial-commit carry
    * chain, changed vec_ids superseded by their newest batch version.
    * Pair detection between triggers goes through
    * [[graft.operators.Index.Sketch.pairs]] (kernels on the probe
    * batch only); takedowns ride the kind-agnostic
    * [[vectorDeleteSink]] above, which dispatches the sketch arm. */
  def sketchIngestSink(vectors: DataFrame, indexPath: String,
      checkpoint: String, dim: Int, nBits: Int = 32,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    val spark = vectors.sparkSession
    import graft.operators.{Similarity, VersionedIndex}
    foreachBatchSink(vectors, checkpoint, trigger) { (batch, _) =>
      if (!VersionedIndex.exists(spark, indexPath)) {
        if (!batch.isEmpty) Similarity.writeSketchIndex(batch, indexPath, dim, nBits)
      } else Similarity.upsertSketchIndex(batch, indexPath)
    }
  }

  /** One [[dupClusterSink]] trigger, as a callable — the recurring
    * deployment round: detect the batch's near-dup pairs against the
    * indexed corpus (O(batch) kernels), RETRACT the batch ids' old
    * pairs from the accumulated pair set, re-close the clusters over
    * (kept ∪ new) pairs — graph-sized edges, never a corpus re-hash —
    * and upsert the batch into the sketch index so later rounds pair
    * against it. The first non-empty batch BOOTSTRAPS instead: full
    * block-less clustering + index build — q149's one-time cost.
    *
    * Retraction is what makes a CHANGED vector correct over time: the
    * state's `pairs` member ([[graft.operators.Dedup.writeClusterStateWithPairs]])
    * holds the exact pair history, so a re-embedded vector sheds every
    * membership its OLD embedding earned and keeps exactly what the
    * new detection re-establishes. The monotone fold
    * ([[graft.operators.Dedup.mergePairsIntoClusters]], q150's gated
    * one-shot form) cannot do this — star-compressed clusters are a
    * lossy summary — and would serve stale memberships forever.
    *
    * Ordering and idempotence (the crash-replay analysis, step by
    * step): state commits BEFORE the index upsert. A replayed batch's
    * ids supersede their own index rows inside detection (the
    * changed-vector contract), so the pair set recomputes IDENTICALLY
    * whether or not the previous attempt got as far as the upsert;
    * retraction-then-fold on the already-committed pair set removes
    * precisely what the replayed fold re-adds (every new pair touches
    * a batch id), so the re-commit writes the same value; the
    * re-upsert rewrites the same buckets to the same content. In the
    * bootstrap arm the same argument needs state-first too: were the
    * index committed first and the driver crashed, the replay would
    * take the incremental arm and read a state that never got
    * written. A quiet batch — nothing detected AND nothing revoked —
    * skips the state commit entirely (the graph-sized state table
    * would otherwise be rewritten with identical content every quiet
    * trigger) but ALWAYS upserts — the batch must enter the corpus
    * regardless. Empty triggers commit nothing on either path. */
  private[graft] def applyDupClusterBatch(batch: DataFrame,
      indexPath: String, statePath: String, threshold: Double,
      dim: Int, nBits: Int, tables: Int, window: Int,
      partialMinPairs: Long =
        graft.operators.Dedup.CcPartialCommitMinPairs): Unit = {
    val spark = batch.sparkSession
    import graft.operators.{Dedup, Similarity, VersionedIndex}
    // Dispatch on INDEX existence, but first reject the one
    // configuration the loop can never have produced: a sketch index
    // with NO cluster state. That is an offline-built index
    // (readClusterState would fail every Structured Streaming retry
    // with an error that never names the real problem — a permanently
    // wedged query), and its corpus-internal dups are ones no batch
    // probe will rediscover. The MIRROR case — state without index —
    // is legitimate: it is exactly the bootstrap crash window (state
    // commits first, below), and the re-bootstrap rewrites the same
    // value from the redelivered batch. A WARN names it in case it
    // was a misconfiguration instead (fresh index path over an old
    // state would discard its clusters).
    val haveIndex = VersionedIndex.exists(spark, indexPath)
    val haveState = VersionedIndex.exists(spark, statePath)
    require(!(haveIndex && !haveState),
      s"dupClusterSink: sketch index exists at $indexPath but no " +
        s"cluster state at $statePath — an offline-built index has " +
        "corpus-internal dups no batch probe will rediscover. " +
        "Bootstrap the state first (dupClusters over " +
        "embeddingNearDupSorted of the indexed corpus + " +
        "writeClusterState), or point the sink at fresh paths.")
    if (haveState && !haveIndex)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dupClusterSink: cluster state at $statePath but no index at " +
          s"$indexPath — re-bootstrapping (normal only as crash-replay " +
          "of an interrupted bootstrap; if these paths were meant to " +
          "pair an OLD state with a NEW index, stop: the re-bootstrap " +
          "replaces the state with this batch's clusters)")
    Pins { p =>
      // consumed by ≥2 actions below; count() probes all partitions
      if (p.cache(batch).count() > 0L) {
        if (!haveIndex) {
          // bootstrap: full block-less clustering PLUS the pair set it
          // was closed from — the retraction capital later rounds spend
          val p0 = p.checkpoint(Dedup.embeddingNearDupSorted(batch, threshold, dim,
              nBits = nBits, tables = tables, window = window)
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
          Dedup.writeClusterStateWithPairs(Dedup.dupClusters(p0), p0, statePath)
          p.release(p0)
          Similarity.writeSketchIndex(batch, indexPath, dim, nBits)
        } else {
          // RETRACTION before fold: a batch id's accumulated pairs are
          // revoked wholesale — a re-embedded vector must not keep
          // memberships its OLD embedding earned (the star-compressed
          // assignment can't revoke them; the pairs member can) — and
          // the batch's new detection re-establishes exactly what still
          // holds (embeddingNearDupIndexed covers batch-vs-corpus AND
          // within-batch, with batch versions superseding index rows).
          // A vector left with no pairs drops out of the state: absence
          // = "has no duplicates", the dupClusters node contract.
          // Replay-idempotent EXACTLY: every new pair touches a batch
          // id, so re-running retraction on an already-folded pair set
          // removes precisely what the replayed fold re-adds.
          // The trigger's checkpoints are released before the index upsert.
          Pins { q =>
            val newPairs = q.checkpoint(Dedup.embeddingNearDupIndexed(batch, indexPath,
                threshold, tables, window)
              .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
            val oldPairs = q.checkpoint(Dedup.readClusterPairs(spark, statePath).getOrElse(
              sys.error(s"dupClusterSink: state at $statePath has no pairs " +
                "member — it was committed by the pairs-less " +
                "writeClusterState (the monotone one-shot form), so " +
                "changed-vector retraction is impossible; re-bootstrap " +
                "the sink on fresh paths")))
            // ONE distinct over the persisted batch, CHECKPOINTED like its
            // sibling frames: consumed by both retraction anti-joins and
            // the re-close's dirty-id probes/joins — uncheckpointed, the
            // distinct shuffle would re-execute in every consuming action
            val ids = q.checkpoint(batch.select(col("vec_id")).distinct())
            val kept = q.checkpoint(oldPairs
              .join(ids.select(col("vec_id").as("doc_a")), Seq("doc_a"), "left_anti")
              .join(ids.select(col("vec_id").as("doc_b")), Seq("doc_b"), "left_anti"))
            // quiet-trigger skip: nothing detected AND nothing revoked —
            // the graph-sized state is not rewritten with identical
            // content (counts are metadata-cheap on checkpointed frames)
            val accPairCount = oldPairs.count()
            if (newPairs.count() > 0L || kept.count() < accPairCount) {
              // INCREMENTAL re-close + (past the crossover) PARTIAL
              // commit (r16): only components incident to the batch
              // (retracted memberships or new pairs) re-enter the
              // iterative CC; and once the accumulated graph outgrows
              // CcPartialCommitMinPairs, only the state buckets holding
              // an affected/re-closed label (or a moved pair) REWRITE —
              // untouched buckets carry in the manifest. Below the
              // crossover the whole write is measurably the cheaper
              // route (the partial path's fixed planning/bookkeeping
              // overhead exceeds a small graph's write — SCALE.md r16
              // growing-graph A/B), so the route is adaptive on the
              // pair count the quiet check already computed. Every
              // fallback (affected set over the cap, manifest unable to
              // carry, chain at the cap, small graph) is a whole
              // rewrite with identical content — route choices, never
              // semantic forks.
              // the accumulated-pair union in two forms: `fullPairs`
              // (lazy, uncheckpointed) for the arms that consume it at
              // most ONCE (the staged pairs member of the single-write
              // routes), and `acc` (forced-once CHECKPOINTED, released
              // with the trigger's other checkpoints) for the
              // RecloseFull route, whose two consumers (the full
              // re-close AND the staged member) would otherwise each
              // pay the graph-sized shuffle
              lazy val fullPairs = kept.unionByName(newPairs).distinct()
              lazy val acc = q.checkpoint(fullPairs)
              val prior = Dedup.readClusterState(spark, statePath)
              // layout is a one-way upgrade: once bucketed, stay
              // bucketed (downgrading would churn the whole state on a
              // shrinking graph for nothing)
              val committedBuckets = Dedup.ccStateBucketsOf(spark, statePath)
              val pastGate =
                committedBuckets.isDefined || accPairCount >= partialMinPairs
              // a whole rewrite PRESERVES a committed bucket count (a
              // caller may have chosen a custom one) and only ever
              // upgrades 0 → the default — both fallbacks must leave
              // the same layout or "route choice" becomes a layout fork
              val wholeBuckets = committedBuckets.getOrElse(
                if (pastGate) Dedup.CcStateBuckets else 0)
              Dedup.recloseParts(prior, kept, newPairs, ids,
                  accAll = Some(() => acc)) match {
                case full: Dedup.RecloseFull =>
                  Dedup.writeClusterStateWithPairs(
                    full.assignment, acc, statePath,
                    buckets = wholeBuckets)
                case inc: Dedup.RecloseIncremental if pastGate =>
                  Dedup.commitClusterStatePartial(spark, statePath,
                    inc.affectedLbls, inc.members, inc.reclosed, ids,
                    newPairs, fullPairs = fullPairs)
                case inc: Dedup.RecloseIncremental =>
                  Dedup.writeClusterStateWithPairs(
                    Dedup.assembleReclosed(prior, inc.affectedLbls,
                      inc.reclosed),
                    fullPairs, statePath)
              }
            }
          }
          Similarity.upsertSketchIndex(batch, indexPath)
        }
      }
    }
  }

  /** Streaming dup-cluster maintenance — the persisted-state CC
    * funnel (q150) as a sink, completing the curation loop's
    * streaming story: [[corpusFactorySink]] curates documents per
    * trigger, this maintains the EMBEDDING-side duplicate clusters
    * per trigger. Each micro-batch of (vec_id, embedding, …) rows
    * runs one [[applyDupClusterBatch]] round; serving reads the
    * accumulated assignment with
    * [[graft.operators.Dedup.readClusterState]] (and its health with
    * `Index.stats` — the `ccstate` kind). Per-trigger cost is the
    * O(batch)-kernel index probe + the INCREMENTAL re-close
    * ([[graft.operators.Dedup.recloseAffectedComponents]], r16):
    * iterative CC over batch-affected components only, untouched
    * assignment rows passing through as single columnar scans —
    * measured 1.19×/1.56× at ×10/×20 fixed-batch corpus growth
    * (SCALE.md r15) and, on the accumulated-graph axis the corpus
    * probe doesn't isolate, a fold that reads 1.44→2.43 s across
    * ×1→×20 graph growth where the full re-close read 3.49→10.16 s
    * (SCALE.md r16, "the growing-graph axis"). Never the corpus
    * re-hash of the one-shot form. The COMMIT is adaptive on the
    * accumulated pair count: small states whole-write the r15
    * unpartitioned layout (measured cheaper below the ≈12M-pair
    * crossover — a page-cached write beats partial-commit planning),
    * and past the gate the layout upgrades in place to label-hash
    * buckets and each trigger rewrites ONLY the buckets its affected
    * labels/pairs hash into, carrying the rest in the manifest
    * (measured 1.45× at 15M pairs, curve flat in graph size). What
    * remains per non-quiet trigger below the gate is single-pass
    * state IO with no iteration multiplier; above it, O(touched). */
  def dupClusterSink(vectors: DataFrame, indexPath: String,
      statePath: String, checkpoint: String, threshold: Double,
      dim: Int = 64, nBits: Int = 32, tables: Int = 4, window: Int = 16,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
      // the partial-commit crossover is a HOST property (measured on
      // local NVMe; real-IO clusters cross earlier) — deployments
      // lower it here without forking the sink
      partialMinPairs: Long =
        graft.operators.Dedup.CcPartialCommitMinPairs): StreamingQuery =
    foreachBatchSink(vectors, checkpoint, trigger) { (batch, _) =>
      applyDupClusterBatch(batch, indexPath, statePath, threshold,
        dim, nBits, tables, window, partialMinPairs)
    }

  /** The full sync pipeline: parsed CDC stream → idempotent mirror. */
  def cdcMirrorSink(spark: SparkSession, parsed: DataFrame, mirrorPath: String,
      checkpoint: String, trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
      policy: Map[String, TablePolicy] = Map.empty,
      defaultPolicy: TablePolicy = TablePolicy.SoftDelete,
      nBuckets: Int = MirrorBuckets): StreamingQuery =
    foreachBatchSink(parsed, checkpoint, trigger) { (batch, _) =>
      applyCdcBatch(spark, batch, mirrorPath, nBuckets, policy, defaultPolicy)
    }
}
