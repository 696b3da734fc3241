package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** ST6: explicit keyed state in the state store — the Spark analog of
  * the reference's in-memory per-keyword running maps with expiry
  * (realtime_keyword_aggregator.py:32-36,94-161). Built-in windowed
  * aggregations cover most of the surface; this operator exists for
  * state the built-ins can't express: a per-key running total that
  * lives across triggers and EVICTS after `ttl` of event-time silence
  * (the reference expires idle keyword entries the same way).
  *
  * Scale: state is per-key in the checkpointed state store (RocksDB
  * provider on a cluster), partitioned by the group key — no driver
  * state; eviction is watermark-driven so idle keys cannot accumulate
  * unboundedly.
  */
object Stateful {

  case class Keyed(key: String, ts: Timestamp)

  case class KeyUpdate(key: String, total: Long, evicted: Boolean)

  /** Per-key running event counts with event-time TTL (watermark
    * applied here, on the grouping input — a projection would drop a
    * caller-side watermark). Emits the updated total for a key
    * whenever the key receives events in a trigger. A key silent past
    * the watermark for longer than `ttlMs` emits one final
    * `KeyUpdate(key, 0, evicted = true)` tombstone as its state is
    * removed (its next event restarts from zero). Downstream sinks
    * that mirror the live totals (the rank-delta snapshot loop)
    * consume the tombstone to drop the key — the reference's Redis
    * buckets expire the same way (advanced_trend_analyzer.py:89,
    * 7-day EXPIRE). On batch input there is no watermark: one pass
    * emits each key's total once.
    *
    * STATE SCHEMA NOTE: the per-key state is `(total, maxTsEver)` —
    * a (Long, Long) tuple (the second slot anchors the TTL deadline
    * to the newest event ever seen). Checkpoints written by the
    * earlier Long-only shape are NOT compatible: restarting such a
    * query against this code fails to deserialize its state store —
    * discard the old checkpoint (accepting a state rebuild) before
    * upgrading a live query. */
  def runningCountsEvicting(events: DataFrame, keyCol: String, tsCol: String,
      ttlMs: Long, watermarkDelay: String = "0 seconds"): Dataset[KeyUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    // plain local val: the update closure runs on executors, where a
    // captured Dataset reference is unusable
    val streaming = events.isStreaming
    val projected = events.selectExpr(
      s"CAST($keyCol AS STRING) AS key",
      s"to_timestamp($tsCol) AS ts")
    val keyed = (if (streaming) projected.withWatermark("ts", watermarkDelay)
      else projected).as[Keyed]

    def update(key: String, rows: Iterator[Keyed],
        state: GroupState[(Long, Long)]): Iterator[KeyUpdate] = {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.single(KeyUpdate(key, 0L, evicted = true))
      } else {
        var n = 0L
        var maxTs = Long.MinValue
        rows.foreach { r => n += 1; maxTs = math.max(maxTs, r.ts.getTime) }
        val (prev, prevMaxTs) = state.getOption.getOrElse((0L, Long.MinValue))
        val total = prev + n
        // the deadline anchors to the newest event EVER seen, kept in
        // state — a late-but-in-watermark batch whose maxTs is older
        // must not SHRINK the key's ttl (Redis EXPIRE-on-touch parity)
        val maxTsEver = math.max(maxTs, prevMaxTs)
        state.update((total, maxTsEver))
        // Evict when the watermark passes the key's newest event + ttl.
        // (Batch execution has no watermark/timeouts; setting one there
        // is meaningless and throws, hence the streaming guard.)
        if (streaming) state.setTimeoutTimestamp(maxTsEver + ttlMs)
        Iterator.single(KeyUpdate(key, total, evicted = false))
      }
    }

    keyed.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(update)
  }

  case class BucketDoc(bucket: Long, docId: Long, bands: Seq[Long], ts: Timestamp)
  case class CandidatePair(doc_a: Long, doc_b: Long)

  /** STREAMING MinHash-LSH near-dup candidates: as documents arrive,
    * emit every pair that lands in the same LSH band bucket — the
    * continuous-ingestion form of batch near-dup dedup (exact-content
    * streaming dedup is `Pipelines.dedupByContent`; this catches
    * NEAR-duplicates). Emitted candidates feed exact-Jaccard
    * verification downstream (foreachBatch), exactly as the batch
    * candidates do.
    *
    * Construction parity with batch: the signature/banding column
    * expressions are `Dedup.sigArray`/`bandsFromSig` — the SAME values
    * the batch `lshCandidatePairs` computes — and each pair is emitted
    * exactly once, at the first band both signatures share (both full
    * band arrays ride in state, so the check is local).
    *
    * Scale: state is keyed by (band, bandHash) — the same key the
    * batch join shuffles on. Per-bucket state holds (docId, bands, ts)
    * for live docs, bounded two ways: event-time TTL eviction
    * (watermark-driven, like runningCountsEvicting) and `maxBucketSize` — a
    * bucket at cap stops admitting new docs; hot buckets are
    * boilerplate by definition and their pairs are better handled by
    * the batch tier.
    *
    * RECALL IS BEST-EFFORT under those bounds, by design: each pair is
    * emitted only from the FIRST band the two signatures share, so if
    * that specific bucket has hit `maxBucketSize` (or one member
    * already TTL-evicted from it) the pair is LOST even when both docs
    * still coexist in a LATER shared band's bucket — the first-band
    * check in the later bucket sees "not my band" and stays silent.
    * With cap/TTL never hit, replay equals the batch candidate stage
    * exactly (the spec pins this); with bounds active, treat the
    * stream as a low-latency prefilter and run the batch
    * `lshCandidatePairs`/`incrementalLshPairsIndexed` tier for the
    * authoritative sweep. */
  def lshCandidateStream(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, ttlMs: Long, numHashes: Int = 64, bands: Int = 16,
      maxBucketSize: Int = 64,
      watermarkDelay: String = "0 seconds"): Dataset[CandidatePair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.plans.GraftFunctions.register(spark)
    val streaming = docs.isStreaming
    val withBands = docs.select(
      col(idCol).cast("long").as("docId"),
      to_timestamp(col(tsCol)).as("ts"),
      graft.operators.Dedup.shingleArray(col(textCol)).as("_sh"))
      .withColumn("_sig", graft.operators.Dedup.sigArray(col("_sh"), numHashes))
      .withColumn("bands",
        graft.operators.Dedup.bandsFromSig(col("_sig"), numHashes, bands))
      .select(col("docId"), col("ts"), col("bands"),
        posexplode(col("bands")).as(Seq("band", "bucket_hash")))
      // one bucket key per (band, hash): band index in the high bits
      .select((col("band").cast("long") * lit(1L << 32) + col("bucket_hash")
          .bitwiseAND(lit(0xffffffffL))).as("bucket"),
        col("docId"), col("bands"), col("ts"))
    val keyed = (if (streaming) withBands.withWatermark("ts", watermarkDelay)
      else withBands)
      .select(col("bucket"), col("docId"), col("bands"), col("ts")).as[BucketDoc]

    def firstSharedBand(a: Seq[Long], b: Seq[Long]): Int =
      a.iterator.zip(b.iterator).indexWhere { case (x, y) => x == y }

    def update(bucket: Long, rows: Iterator[BucketDoc],
        state: GroupState[Seq[BucketDoc]]): Iterator[CandidatePair] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val band = (bucket >> 32).toInt
        var live = state.getOption.getOrElse(Seq.empty)
        val out = Seq.newBuilder[CandidatePair]
        var maxTs = live.foldLeft(Long.MinValue)((m, d) => math.max(m, d.ts.getTime))
        rows.foreach { d =>
          if (!live.exists(_.docId == d.docId) && live.size < maxBucketSize) {
            live.foreach { o =>
              // emit once globally: only from the first shared band
              if (firstSharedBand(d.bands, o.bands) == band) {
                val (a, b) = if (o.docId < d.docId) (o.docId, d.docId)
                  else (d.docId, o.docId)
                out += CandidatePair(a, b)
              }
            }
            live = live :+ d
            maxTs = math.max(maxTs, d.ts.getTime)
          }
        }
        state.update(live)
        if (streaming) state.setTimeoutTimestamp(maxTs + ttlMs)
        out.result().iterator
      }
    }

    keyed.groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(update)
  }
}
