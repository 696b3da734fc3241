package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — a broadcast of the query
  * vector against a single scan of the corpus (embarrassingly
  * parallel, no shuffle except the final top-k, which Spark plans as
  * TakeOrderedAndProject).
  *
  * Scale path: sign-bit LSH bucketing (Vectors.lshBucket) — vectors
  * co-partition by bucket; a query probes only its own bucket
  * (optionally multi-probe neighboring buckets). At 100 TB the bucket
  * column becomes the table's partition/bucketing key so candidate
  * search never shuffles the corpus.
  */
object Similarity {

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of ranked
    * candidate lists — the standard hybrid-retrieval combiner for
    * lexical (BM25) + dense (ANN) results: fused(id) =
    * Σ_lists 1/(k0 + rank_list(id)); ids absent from a list simply
    * contribute nothing, so no score normalization across
    * incomparable scales is needed.
    *
    * Determinism: each list ranks by (score desc, id) — the
    * engine-unambiguous ordering — and each contribution is a single
    * exact IEEE division; the fused sum is rounded to 6. Inputs are
    * bounded top-k lists (TakeOrderedAndProject upstream), so the
    * global rank windows here run over ≤k rows, never the corpus —
    * and the final top-k is itself a TakeOrderedAndProject.
    *
    * `weights` (empty = unweighted): one multiplier per list,
    * w_i/(k0 + rank_i) — the production norm for BM25-heavy corpora
    * where the lexical list deserves more credit than the dense one.
    * Each weighted contribution stays a single IEEE division
    * (w / (k0+r)), so cross-engine hash parity holds. */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, scoreCol: String,
      k0: Int = 60, k: Int = 10, weights: Seq[Double] = Seq.empty): DataFrame = {
    require(lists.nonEmpty)
    require(weights.isEmpty || weights.length == lists.length,
      s"${weights.length} weights for ${lists.length} lists")
    val ws = if (weights.isEmpty) Seq.fill(lists.length)(1.0) else weights
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_s").desc, col("_id"))
    val contribs = lists.zip(ws).map { case (df, wt) =>
      df.select(col(idCol).as("_id"), col(scoreCol).cast("double").as("_s"))
        .withColumn("_r", row_number().over(w))
        .select(col("_id"), (lit(wt) / (lit(k0.toDouble) + col("_r"))).as("_c"))
    }
    contribs.reduce(_.unionByName(_))
      .groupBy(col("_id"))
      .agg(round(sum(col("_c")), 6).as("rrf_score"), count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_score").desc, col("_id"))
      .limit(k)
      .withColumnRenamed("_id", idCol)
  }

  /** Cosine top-k against one query vector taken from the corpus. */
  def bruteForceTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    embeddings.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(Vectors.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Attach the LSH bucket id; downstream repartitions/bucketed-writes
    * on it for shuffle-free candidate generation. */
  def withLshBucket(embeddings: DataFrame, dim: Int, nBits: Int): DataFrame =
    embeddings.withColumn("bucket", Vectors.lshBucket(col("embedding"), dim, nBits))

  /** Bucketed ANN: top-k within the query vector's own bucket. Recall
    * is traded for a corpus-partition-local search. */
  def bucketedTopK(embeddings: DataFrame, dim: Int, nBits: Int,
      queryId: Long, k: Int): DataFrame = {
    val bucketed = withLshBucket(embeddings, dim, nBits)
    val q = bucketed.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), col("bucket").as("q_bucket"))
    bucketed.filter(col("vec_id") =!= queryId)
      .join(broadcast(q), col("bucket") === col("q_bucket"))
      .select(col("vec_id"), col("label"), col("bucket"),
        round(Vectors.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Multi-probe LSH ANN: also search the buckets reached by flipping
    * the query's lowest-margin sign bits — the standard recall knob
    * for sign-bit LSH without growing the index. Query planning (one
    * vector's margins) is driver-side by design; the corpus-side work
    * stays a bucket-pruned scan. */
  def multiProbeTopK(embeddings: DataFrame, dim: Int, nBits: Int,
      queryId: Long, k: Int, nProbe: Int): DataFrame = {
    // No cache: the query-row lookup is a vec_id-pruned scan and the
    // candidate pass re-derives buckets in one more scan — cheaper
    // than holding the bucketed corpus in storage (and leak-free).
    val bucketed = withLshBucket(embeddings, dim, nBits)
    val qRow = bucketed.filter(col("vec_id") === queryId)
      .select(col("embedding"), col("bucket")).head()
    val qEmb = qRow.getSeq[Float](0).toArray
    val qBucket = qRow.getLong(1)
    val margins = (0 until nBits).map { j =>
      val plane = Vectors.hyperplane(j, dim)
      j -> math.abs(qEmb.zip(plane).map { case (x, h) => x.toDouble * h }.sum)
    }
    val flips = margins.sortBy(_._2).map(_._1).take(math.max(0, nProbe - 1))
    val probes = (qBucket +: flips.map(j => qBucket ^ (1L << j))).distinct
    val q = bucketed.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    bucketed.filter(col("vec_id") =!= queryId && col("bucket").isin(probes: _*))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), col("bucket"),
        round(Vectors.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF (inverted-file) coarse quantization — the other standard ANN
    * layout. Centroids are a deterministic corpus sample (every
    * `stride`-th vector); a training pass (k-means) would slot in the
    * same contract. The centroid set is broadcast; assignment is one
    * scan. At 100 TB the list id becomes the partition key, so a query
    * touches only nprobe partitions.
    */
  /** Deterministic seed-centroid sample — (centroid_id, c_emb).
    *
    * Dense 0-based id corpora take every `stride`-th vector (the
    * replayable geometry every persisted-index oracle pins). Corpora
    * whose ids are NOT dense from 0 — 64-bit hash / snowflake ids, the
    * normal case at 100 TB — would match zero stride rows, so when the
    * stride sample comes up short the seeds fall back to the nLists
    * vectors with the smallest xxhash64(vec_id): layout-independent,
    * deterministic in any engine, and one bounded
    * TakeOrderedAndProject job (the same move the PQ codebook sampler
    * makes, Quantization.scala). Seed CHOICE is a recall knob, not a
    * correctness contract — assignment, probe and search semantics are
    * identical under either seed set. */
  private def ivfSeeds(embeddings: DataFrame, nLists: Int): DataFrame = {
    // ONE aggregation job: count + id range + distinct ids. The
    // distinct count makes vec_id uniqueness a VALIDATED hard corpus
    // contract in the scan the build already pays (no second corpus
    // pass): a corpus like {0,1,1,3} passes the count/min/max density
    // proof while the stride sample silently emits duplicate and
    // missing centroid_ids — and duplicate ids break far more than
    // seeding (windowed-argmin assignment, vec_map mutation
    // discovery, serving self-exclusion), so the build raises loudly
    // instead of committing broken geometry. With uniqueness proven,
    // min==0 && max==n-1 PROVES the corpus dense from 0, i.e. the
    // stride sample complete; only genuinely sparse/shifted id spaces
    // run the membership count.
    val r = embeddings.agg(count(lit(1)), min(col("vec_id")), max(col("vec_id")),
      count_distinct(col("vec_id")), count(col("vec_id"))).head()
    val n = r.getLong(0)
    // count_distinct ignores NULLs, so a NULL-id corpus must be named
    // as such — folding nulls into the duplicate delta would report a
    // misleading "duplicate vec_id rows" count
    require(r.getLong(4) == n,
      s"corpus has ${n - r.getLong(4)} NULL vec_id rows — vec_ids must " +
        "be non-null (NULL ids break list geometry, mutation discovery " +
        "and serving)")
    require(r.getLong(3) == n,
      s"corpus has ${n - r.getLong(3)} duplicate vec_id rows — vec_ids " +
        "must be unique (duplicates corrupt list geometry, mutation " +
        "discovery and serving)")
    val dense = n > 0 && !r.isNullAt(1) &&
      r.getLong(1) == 0L && r.getLong(2) == n - 1
    val stride = math.max(1L, n / nLists)
    val strided = embeddings
      .filter(col("vec_id") % stride === 0 && col("vec_id") < stride * nLists)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    // stride acceptance is EXACT count == expected, not >=: NEGATIVE
    // ids satisfy the stride predicate too (Spark's % keeps the
    // dividend's sign and any negative id is < stride·nLists), so a
    // negative-id corpus can over-collect — those take the
    // hash-ordered sample, whose limit() is exact by construction.
    // (Dense corpora are non-negative by the min==0 proof and skip
    // the membership count entirely.)
    if (dense || strided.count() == math.min(nLists.toLong, n)) strided
    else embeddings
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(nLists)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
  }

  /** Nearest-centroid assignment: one broadcast cross-join + windowed
    * argmin over the input — O(n·nLists) with no corpus shuffle.
    * Keeps `c_sim` (the winning centroid's cosine): the staged lists
    * drop it, but the centroid-staleness drift loop and the build
    * baseline average it — one assignment plan feeds both. */
  private def assignSeeded(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("c_sim").desc, col("centroid_id"))
    embeddings.crossJoin(broadcast(centroids))
      .withColumn("c_sim", Vectors.cosine(col("embedding"), col("c_emb")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("vec_id"), col("label"), col("embedding"),
        col("centroid_id").as("list_id"), col("c_sim"))
  }

  def ivfAssign(embeddings: DataFrame, nLists: Int): DataFrame =
    assignSeeded(embeddings, ivfSeeds(embeddings, nLists)).drop("c_sim")

  // ---- centroid-staleness drift (r18) -------------------------------
  // The plain-IVF regime axis the other mutable kinds already had
  // (sketch: flip rate; lsh: re-crawl Jaccard; ivf-pq: codebook-error
  // EWMA): the list geometry is PINNED at build, so drifting ingest
  // lands ever farther from its assigned centroid and probe recall
  // decays WITHOUT necessarily skewing the list histogram (drift
  // toward list boundaries, not into one list). Mean assigned-centroid
  // distance of recent ingest vs the build corpus makes it loud.

  /** Per-row integer micro-distance to the assigned centroid:
    * (1 − round₆(c_sim))·1e6 as a long — integer from the first row
    * on, so every downstream mean/EWMA/ratio is exact, locale-safe
    * and engine-replayable (q153 reproduces the same value in
    * DuckDB). The quantization is the suite's shared round-6 cosine
    * recipe, NOT a floor of the raw double: flooring (1−c_sim)·1e6
    * put the per-row integer on a raw-double boundary, where a 1-ulp
    * cross-engine cosine divergence flips it (r19, advisor) — here
    * the only boundary is round-6's own, the one every gated sim
    * column in the suite already stands on. The decimal cast recovers
    * the rounded value exactly, so the ·1e6 product is an exact
    * integer-valued decimal (no second float op). ONE definition
    * across the build baseline, the upsert EWMA and the q153 replay
    * surface. */
  private def distMicroCol: Column =
    ((lit(1.0) - round(col("c_sim"), 6))
      .cast(org.apache.spark.sql.types.DecimalType(16, 6)) * 1000000)
      .cast("long")

  /** (rows, mean micro-distance, batch signature) of an assigned
    * frame (needs the `c_sim` column) — one narrow aggregation; None
    * for an empty batch (nothing measured, the EWMA carries). The
    * signature (order-independent XOR of the id hashes, folded with
    * n and the mean) identifies a byte-identical re-delivery — the
    * EWMA's zero-evidence carry key (see [[ivfDistParams]]). */
  private def centroidDistValue(assigned: DataFrame): Option[(Long, Long, Long)] = {
    val r = assigned.agg(count(lit(1)).as("n"), sum(distMicroCol).as("s"),
      expr("bit_xor(xxhash64(vec_id))").as("x")).head()
    if (r.getLong(0) == 0L) None
    else Some((r.getLong(0), r.getLong(1) / r.getLong(0), r.getLong(2)))
  }

  /** Build-time baseline sample size. The baseline is measured over a
    * deterministic hash-ordered sample, NOT a second full-corpus
    * assignment pass: the build already pays one O(n·nLists)
    * assignment for the lists table, and re-running it for a scalar
    * would double build compute at 100 TB. 4096 rows pin the mean to
    * a small fraction of its spread — far tighter than the 1.5×
    * excess the staleness alarm fires at — and the recent side's
    * EWMA memory is only ~256 rows anyway. */
  private val IvfDistBaselineSample = 4096

  /** Excess of recent mean centroid distance over the build baseline
    * that flags the geometry stale — recent ingest sits ≥1.5× as far
    * from its assigned centroids as the build corpus did (the PQ
    * retrain ratio's threshold, on the centroid axis). */
  val DefaultIvfStaleExcess: Double = 0.5

  private def ivfDistBaseline(embeddings: DataFrame,
      seeds: DataFrame): Map[String, String] = {
    val sample = embeddings
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(IvfDistBaselineSample)
    centroidDistValue(assignSeeded(sample, seeds)).map { case (_, v, _) =>
      Map("ivfDistBuild" -> v.toString, "ivfDistRecent" -> v.toString,
        // full-memory start (the pqErrWindow contract): the baseline
        // represents ≥ windowCap rows, so the first small batch must
        // not dominate the recent signal
        "ivfDistWindow" -> PqErrWindowCap.toString)
    }.getOrElse(Map.empty)
  }

  /** Centroid-staleness params for one upsert batch: fold the batch's
    * mean micro-distance into the `ivfDist` EWMA, judge the excess
    * over the build baseline, and persist the ok/stale state through
    * the shared [[VersionedIndex.Drift]] machine (boundary crossings
    * carried, WARN on entering stale). An index without a baseline
    * (an empty build corpus) measures nothing (no denominator) until
    * its next full rebuild writes one. */
  private def ivfDistParams(assigned: DataFrame,
      params: Map[String, String], path: String): Map[String, String] =
    centroidDistValue(assigned).map { case (n, v, x) =>
      // ZERO-EVIDENCE CARRY (the sketch/lsh probes' replay contract,
      // which an unconditional fold would violate HERE because this
      // probe measures batch-vs-geometry, not batch-vs-stored-rows —
      // a crash-replay of a committed upsert re-measures the
      // identical (ids, n, mean) and would double-fold it, moving
      // the EWMA and possibly logging a phantom ok->stale crossing
      // with no new data): the persisted signature of the LAST
      // folded batch gates the fold. A false match requires the same
      // id set at the same count and same mean fit — which is a
      // re-delivery in every sense that matters, so carrying is
      // correct there too. Returning empty carries: the IVF commit
      // paths pass ALL prior params through statsParams.
      val sig = s"$n:$v:$x"
      if (params.get("ivfDistSig").contains(sig)) Map.empty[String, String]
      else {
      val ew = VersionedIndex.Drift.ewma(params, "ivfDist", n, v,
        PqErrWindowCap) + ("ivfDistSig" -> sig)
      params.get("ivfDistBuild").map(_.toLong).filter(_ > 0L) match {
        case None => ew
        case Some(b) =>
          val excess = ew("ivfDistRecent").toLong.toDouble / b - 1.0
          val state = if (excess >= DefaultIvfStaleExcess) "stale" else "ok"
          // the alarm also fires on a FIRST stale measurement (no
          // prior state → no crossing), so it sits outside
          // Drift.record's onCross hook — the lsh alarm's contract
          if (state == "stale" && !params.get("driftState").contains("stale"))
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              f"ivf index $path: centroid staleness — recent ingest " +
                f"sits ${excess * 100}%.1f%% farther from its assigned " +
                "centroids than the build corpus did (threshold " +
                f"${DefaultIvfStaleExcess * 100}%.0f%%); probe recall is " +
                "degrading silently — re-center with rebuildIvfIndex " +
                "(which also retrains the PQ codebook, if present)")
          ew ++ VersionedIndex.Drift.record(params, "driftState", state,
            Map("driftDistExcess" -> excess.toString))
      }
      }
    }.getOrElse(VersionedIndex.Drift.carried(params))

  /** Per-row centroid fit of the corpus against its stride-seeded
    * geometry — (vec_id, list_id, dist_micro): [[ivfAssign]]'s exact
    * argmax assignment (ties → lowest centroid id) with the integer
    * micro-distance the centroid-staleness drift loop averages. The
    * oracle surface q153 replays per-row in DuckDB — the same
    * kernel, the same floor. */
  def centroidFit(embeddings: DataFrame, nLists: Int): DataFrame =
    assignSeeded(embeddings, ivfSeeds(embeddings, nLists))
      .select(col("vec_id"), col("list_id").cast("long").as("list_id"),
        distMicroCol.as("dist_micro"))

  /** Centroid-staleness health of a persisted IVF / IVF-PQ index —
    * the GEOMETRY-axis twin of [[pqCodebookStats]]: `buildDist` is
    * the corpus mean assigned-centroid micro-distance at build time
    * (sampled baseline), `recentDist` the batch-weighted EWMA over
    * upserted batches, `excess` their ratio − 1 (the
    * `Index.stats(...).drift` value for the plain-IVF kind), and
    * `needsRecenter` fires at `staleExcess` — recent ingest no longer
    * fits the pinned list geometry, and the answer is
    * [[rebuildIvfIndex]] exactly like the codebook signal's. Reads
    * PARAMS only (no data scan — a monitoring loop polls it for
    * free); `state`/`boundary` surface the persisted ok/stale machine
    * (None until an upsert has measured). Errors loudly on an index
    * without a usable baseline — its next full rebuild writes one.
    * DELETES leave the signal untouched by design: it measures how
    * recent INGEST fits the pinned geometry. */
  final case class IvfCentroidStats(buildDist: Long, recentDist: Long,
      excess: Double, needsRecenter: Boolean,
      state: Option[String], boundary: Option[String])

  /** [[ivfCentroidStats]] over an already-read params map — None when
    * the baseline is absent OR degenerate (≤ 0: a corpus whose sampled
    * rows ARE their centroids measures a zero baseline, and a
    * recent/0 excess is garbage that would lock an automated trigger
    * into rebuild-every-batch — the same `> 0` arming gate
    * `ivfDistParams` and `Index.stats` apply). ONE params read serves
    * the armed check and the stats — the sink's per-trigger path. */
  private[graft] def ivfCentroidStatsFrom(params: Map[String, String],
      staleExcess: Double): Option[IvfCentroidStats] =
    params.get("ivfDistBuild").map(_.toLong).filter(_ > 0L).map { build =>
      val recent = params.get("ivfDistRecent").map(_.toLong).getOrElse(build)
      val excess = recent.toDouble / build - 1.0
      IvfCentroidStats(build, recent, excess, excess >= staleExcess,
        params.get("driftState"), params.get("driftBoundary"))
    }

  def ivfCentroidStats(spark: org.apache.spark.sql.SparkSession,
      path: String,
      staleExcess: Double = DefaultIvfStaleExcess): IvfCentroidStats = {
    ivfCentroidStatsFrom(VersionedIndex.current(spark, path), staleExcess).getOrElse(
      sys.error(s"index at $path has no usable centroid-fit baseline " +
        "(ivfDistBuild missing — an empty build corpus — or " +
        "degenerate: the sampled build corpus fit its centroids " +
        "exactly); a full rebuild over real ingest writes one"))
  }

  /** Ad-hoc IVF search: rank centroids for the query, scan the
    * top-`nprobe` lists, cosine top-k within them. Builds the
    * assignment in-flight — fine for one-off/spec use; a serving path
    * should build the index ONCE with [[buildIvfIndex]] and query it
    * with [[ivfSearchIndexed]] (partition-pruned, no per-query driver
    * work). The small top-k result is checkpointed eagerly so the
    * assignment cache can be released before returning (no storage
    * leak in a long-lived session). */
  def ivfSearch(embeddings: DataFrame, nLists: Int, nProbe: Int,
      queryId: Long, k: Int): DataFrame = Pins { p =>
    val assigned = p.cache(ivfAssign(embeddings, nLists))
    val (q, probeLists) = ivfProbe(assigned, queryId, nProbe)
    assigned.filter(col("vec_id") =!= queryId)
      .join(broadcast(probeLists), col("list_id") === col("probe_list"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), col("list_id"),
        round(Vectors.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
      .localCheckpoint() // ≤ k rows, materialized before the release
  }

  /** The query row (`q_emb`) of an in-flight assignment, and the
    * `nProbe` lists (`probe_list`) whose centroid rows rank highest by
    * cosine to it — the coarse-quantizer step of [[ivfSearch]] and
    * [[ivfPqTopK]]. */
  private def ivfProbe(assigned: DataFrame, queryId: Long,
      nProbe: Int): (DataFrame, DataFrame) = {
    val q = assigned.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    val probeLists = assigned
      .select(col("list_id"), col("vec_id"), col("embedding")).as("c")
      .join(broadcast(q))
      .filter(col("vec_id") === col("list_id")) // centroid rows only
      .withColumn("c_sim", Vectors.cosine(col("embedding"), col("q_emb")))
      .orderBy(col("c_sim").desc, col("list_id"))
      .limit(nProbe)
      .select(col("list_id").as("probe_list"))
    (q, probeLists)
  }

  /** Default hive-bucket count for the `vec_map` side table. Each
    * bucket holds ~n/B 16-byte (vec_id, list_id) rows — at 10¹¹
    * vectors and B=64 that is ~25 GB per partition; a deployment at
    * that scale raises B so one discovery read stays a few GB. */
  val DefaultVecMapBuckets = 64

  /** vec_map bucket key — [[VersionedIndex.bucketCol]] of the vec id
    * cast to long, so int and long batches of one id share a bucket. */
  private def vbCol(id: Column, buckets: Int): Column =
    VersionedIndex.bucketCol(id.cast("long"), buckets)

  /** Derived-table writer for `vec_map`: a column-pruned projection of
    * the lists table STAGED THIS COMMIT — the expensive assignment
    * plan is not recomputed; the read touches only bytes already
    * written by this commit. */
  private def deriveVecMap(spark: org.apache.spark.sql.SparkSession,
      buckets: Int)(staging: String): DataFrame =
    spark.read.parquet(s"$staging/lists")
      .select(col("vec_id"), col("list_id").cast("long").as("list_id"))
      .withColumn("vb", vbCol(col("vec_id"), buckets))

  /** Derived-table writer for `list_sizes`: the per-list histogram of
    * the staged lists, aggregated over the PARTITION COLUMN only —
    * parquet answers it from file metadata, no vector data I/O. */
  private def deriveListSizes(spark: org.apache.spark.sql.SparkSession)(
      staging: String): DataFrame =
    spark.read.parquet(s"$staging/lists")
      .groupBy(col("list_id").cast("long").as("list_id"))
      .agg(count(lit(1)).as("n"))

  private def sizesDf(spark: org.apache.spark.sql.SparkSession,
      sizes: Map[Long, Long]): DataFrame = {
    import spark.implicits._
    sizes.toSeq.sorted.toDF("list_id", "n")
  }

  /** Build and persist the IVF index: the assignment laid out as one
    * hive partition per inverted list, committed through the
    * [[VersionedIndex]] layout (`<path>/v=N/lists/list_id=…` + commit
    * marker) — a crashed rebuild leaves the previous index current and
    * readable, exactly like the LSH index (a plain overwrite would
    * delete live data before the replacement exists). The
    * `embeddings.count()` inside ivfAssign is a build-time-only cost —
    * queries against the persisted index never run driver actions over
    * the corpus. At 100 TB this table is additionally bucketed within
    * each list partition; the layout contract (probe touches only its
    * partitions) is what LayoutSpec asserts.
    *
    * Side tables committed in the same transaction:
    *  - `vec_map` — (vec_id, list_id) partitioned by
    *    `vb = pmod(xxhash64(vec_id), vecMapBuckets)`, giving upsert /
    *    delete O(batch) mutation discovery (they read only the batch
    *    ids' vb partitions, never the whole index);
    *  - `list_sizes` — the nLists-row histogram behind
    *    [[ivfIndexStats]], maintained incrementally by mutations. */
  def buildIvfIndex(embeddings: DataFrame, nLists: Int, path: String,
      vecMapBuckets: Int = DefaultVecMapBuckets): Unit = {
    val spark = embeddings.sparkSession
    val seeds = ivfSeeds(embeddings, nLists)
    VersionedIndex.commit(spark, path,
      Seq("lists" -> assignSeeded(embeddings, seeds).drop("c_sim"),
        "centroids" -> seeds.select(
          col("centroid_id").cast("long").as("list_id"), col("c_emb"))),
      Map("nLists" -> nLists.toString,
        "vecMapBuckets" -> vecMapBuckets.toString) ++
        ivfDistBaseline(embeddings, seeds),
      partitionBy = Map("lists" -> Seq("list_id"), "vec_map" -> Seq("vb")),
      derive = Seq("vec_map" -> deriveVecMap(spark, vecMapBuckets),
        "list_sizes" -> deriveListSizes(spark)))
  }

  /** Current committed lists table, manifest-resolved (partial commits
    * leave untouched list partitions in earlier versions). */
  private def readIvfLists(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    VersionedIndex.readTable(spark, path, "lists")

  /** The index's list GEOMETRY — (list_id, c_emb), nLists rows. The
    * authoritative `centroids` member table makes probe selection an
    * O(nLists) read instead of an O(index) lists scan, and survives
    * DELETION of seed vectors (a takedown removes the data row from
    * `lists`; the geometry row here is not corpus data and stays). */
  def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    VersionedIndex.readTable(spark, path, "centroids")

  /** Mutation-discovery read: index rows whose vec_id is in `ids`, as
    * (vec_id, list_id, vb), plus the batch's vb partition set. Reads
    * ONLY those vb partitions of the vec_map side table — O(batch) per
    * trigger, with the vb literals in PartitionFilters (LayoutSpec
    * asserts the pruning) — never the lists table. */
  private[graft] def vecMapHits(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, buckets: Int): (DataFrame, Seq[Int]) = {
    val vbs = ids.select(vbCol(col("vec_id"), buckets).as("vb"))
      .distinct().collect().map(_.getInt(0)).toSeq // ≤ buckets values
    val hits = VersionedIndex.readTable(spark, path, "vec_map")
      .filter(col("vb").isin(vbs.map(Int.box): _*))
      .join(broadcast(ids.select(col("vec_id"))), Seq("vec_id"))
    (hits, vbs)
  }

  /** UPSERT a batch of vectors into a persisted IVF index — the
    * per-crawl-round form of buildIvfIndex, the ANN twin of
    * `Dedup.upsertLshIndex`: new vectors assign to the nearest
    * EXISTING centroid (the list geometry is stable across rounds;
    * re-centering is a full rebuild), re-ingested vec_ids replace
    * their old rows, and the result commits atomically as one new
    * version. A re-ingested CENTROID vector keeps its own list id —
    * its row anchors the list and must stay discoverable by the
    * `vec_id == list_id` centroid scan.
    *
    * Scale: the batch cross-joins only the broadcast centroid set
    * (O(batch·nLists) with a windowed argmin over the batch), and the
    * commit is PARTIAL — only list partitions the batch touches (lists
    * receiving new rows, plus lists holding superseded rows of
    * re-ingested ids) are rewritten; every other partition is carried
    * by manifest reference from the version that last wrote it,
    * byte-untouched. Per-trigger write I/O is O(touched lists), not
    * O(index). Superseded-row DISCOVERY is O(batch) too: the `vec_map`
    * side table is partitioned by a pure function of vec_id, so the
    * read prunes to the batch ids' vb partitions — no per-trigger
    * index scan (the LSH `idx_bucket` contract). vec_map itself
    * commits partially in the same transaction: only the batch's vb
    * partitions rewrite, the rest carry. At the compaction point
    * ([[VersionedIndex.MaxVersionChain]]) the upsert takes one full
    * rewrite, bounding read fan-out and letting old versions sweep. */
  def upsertIvfIndex(newEmb: DataFrame, path: String): Unit = {
    val spark = newEmb.sparkSession
    val params = VersionedIndex.current(spark, path)
    val centroids = readIvfCentroids(spark, path)
      .select(col("list_id").as("centroid_id"), col("c_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("c_sim").desc, col("centroid_id"))
    val centroidIds = centroids
      .select(col("centroid_id").as("vec_id")).withColumn("_isc", lit(true))
    Pins { p =>
      val assignedNew = p.cache(newEmb
        .select(col("vec_id"), col("label"), col("embedding"))
        .crossJoin(broadcast(centroids))
        .withColumn("c_sim", Vectors.cosine(col("embedding"), col("c_emb")))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .join(broadcast(centroidIds), Seq("vec_id"), "left")
        // c_sim stays on the cached frame: the centroid-staleness drift
        // probe averages it (one narrow agg over the batch, no second
        // kernel pass); the staged lists drop it at the write sites
        .select(col("vec_id"), col("label"), col("embedding"),
          when(col("_isc"), col("vec_id")).otherwise(col("centroid_id"))
            .cast("long").as("list_id"), col("c_sim")))
      val newIds = newEmb.select(col("vec_id")).distinct()
      val buckets = params("vecMapBuckets").toInt
      // per-list adds/removes of this batch — bounded by nLists, so
      // the collects are driver-side plan steps; they yield BOTH the
      // touched-partition set and the incrementally-maintained list
      // histogram persisted for drift detection (ivfIndexStats).
      // Discovery is vb-pruned through vec_map — O(batch), never an
      // index scan.
      val (hits, vbs) = vecMapHits(spark, path, newIds, buckets)
      val adds = assignedNew.groupBy(col("list_id")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val removes = hits
        .groupBy(col("list_id")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val prevSizes = ivfListSizes(spark, path)
      val newSizes = (prevSizes.keySet ++ adds.keySet).map { l =>
        l -> (prevSizes.getOrElse(l, 0L) - removes.getOrElse(l, 0L) +
          adds.getOrElse(l, 0L))
      }.toMap.filter(_._2 > 0)
      // IVF-PQ layer: new rows code against the PINNED codebook (like
      // assignment against pinned centroids); re-training is a rebuild
      val pqCb = pqCodebookOf(spark, path, params)
      // codebook-staleness EWMA (shared batch-weighted fold,
      // [[VersionedIndex.Drift.ewma]]) — O(batch), no index scan;
      // pqCodebookStats turns it into the needsRetrain signal
      val pqErrParams = pqCb.flatMap { cb =>
        pqMeanErr(assignedNew.select(col("vec_id"), col("embedding")), cb)
          .map { case (n, be) =>
            VersionedIndex.Drift.ewma(params, "pqErr", n, be, PqErrWindowCap)
          }
      }.getOrElse(Map.empty)
      // centroid-staleness EWMA + ok/stale state (r18): the same
      // batch, measured against the PINNED list geometry — the drift
      // axis Index.stats surfaces for the plain-IVF kind
      val distParams = ivfDistParams(assignedNew, params, path)
      // touched lists = lists gaining rows ∪ lists losing superseded
      // rows; touched vb partitions = the batch ids' vb values, known
      // from the batch alone
      commitIvfMutation(spark, path, pqCb,
        params ++ skewParam(newSizes) ++ pqErrParams ++ distParams,
        newSizes, (adds.keySet ++ removes.keySet).toSeq, vbs,
        _.join(newIds, Seq("vec_id"), "left_anti")
          .unionByName(assignedNew.drop("c_sim")),
        _.join(newIds, Seq("vec_id"), "left_anti")
          .unionByName(assignedNew.select(col("vec_id"), col("list_id"))
            .withColumn("vb", vbCol(col("vec_id"), buckets))))
    }
  }

  /** The pinned codebook of an IVF-PQ index; None for plain IVF. */
  private def pqCodebookOf(spark: org.apache.spark.sql.SparkSession,
      path: String, params: Map[String, String]): Option[Quantization.PqCodebook] =
    if (params.contains("pqM")) Some(readPqCodebook(spark, path)) else None

  /** ONE commit of an IVF mutation (upsert or delete). PARTIAL when the
    * manifest allows it ([[VersionedIndex.canCarry]] over `lists`,
    * `vec_map` and, for IVF-PQ, `pq`): only the `touched` list
    * partitions (and their `pq` code partitions, derived from the
    * staged lists bytes) and the `vbs` vec_map partitions rewrite —
    * each read partition-pruned and passed through `mergeLists` /
    * `mergeVecMap` — and every other partition carries by manifest
    * reference, byte-identical ([[VersionedIndex.carryUntouched]]). A
    * full rewrite of every member (`mergeLists` over the whole lists
    * table, vec_map and pq derived from it) happens at the compaction
    * point ([[VersionedIndex.MaxVersionChain]]) or when a full
    * takedown left whole-table members. An empty `touched` set
    * commits nothing on the partial route. */
  private def commitIvfMutation(spark: org.apache.spark.sql.SparkSession,
      path: String, pqCb: Option[Quantization.PqCodebook],
      params: Map[String, String], newSizes: Map[Long, Long],
      touched: Seq[Long], vbs: Seq[Int],
      mergeLists: DataFrame => DataFrame,
      mergeVecMap: DataFrame => DataFrame): Unit = {
    val mf = VersionedIndex.manifest(spark, path)
    val raw = readIvfLists(spark, path)
    def rows(lists: DataFrame): DataFrame =
      lists.select(col("vec_id"), col("label"), col("embedding"),
        col("list_id").cast("long").as("list_id"))
    val partitionBy = Map("lists" -> Seq("list_id"), "vec_map" -> Seq("vb"),
      "pq" -> Seq("list_id"))
    val derivePqTable = pqCb.map(cb => "pq" -> derivePq(spark, cb) _).toSeq
    if (!VersionedIndex.canCarry(mf, Seq("lists", "vec_map") ++ derivePqTable.map(_._1)))
      VersionedIndex.commit(spark, path,
        Seq("lists" -> mergeLists(rows(raw)),
          "centroids" -> readIvfCentroids(spark, path),
          "list_sizes" -> sizesDf(spark, newSizes)) ++
          pqCb.map(cb => "pq_codebook" -> codebookDf(spark, cb)).toSeq,
        params, partitionBy,
        derive = Seq("vec_map" -> deriveVecMap(spark, params("vecMapBuckets").toInt) _) ++
          derivePqTable)
    else if (touched.nonEmpty) {
      // prune on the RAW partition column with literals of its exact
      // type — a CAST on the partition column would defeat pruning
      val inVals: Seq[Any] =
        if (raw.schema("list_id").dataType == org.apache.spark.sql.types.IntegerType)
          touched.map(v => Int.box(v.toInt))
        else touched.map(Long.box)
      VersionedIndex.commit(spark, path,
        Seq("lists" -> mergeLists(rows(raw.filter(col("list_id").isin(inVals: _*)))),
          "list_sizes" -> sizesDf(spark, newSizes),
          "vec_map" -> mergeVecMap(VersionedIndex.readTable(spark, path, "vec_map")
            .filter(col("vb").isin(vbs.map(Int.box): _*)))),
        params, partitionBy,
        // pq mirrors lists partition-for-partition: derive codes from
        // the staged (touched-only) lists bytes, carry the rest
        derive = derivePqTable,
        carry = Map("lists" -> VersionedIndex.carryUntouched(mf, "lists", "list_id", touched),
          "centroids" -> mf.getOrElse("centroids", Map.empty),
          "vec_map" -> VersionedIndex.carryUntouched(mf, "vec_map", "vb", vbs),
          "pq" -> VersionedIndex.carryUntouched(mf, "pq", "list_id", touched),
          "pq_codebook" -> mf.getOrElse("pq_codebook", Map.empty)).filter(_._2.nonEmpty))
    }
  }

  /** DELETE vectors from a persisted IVF index — the takedown/opt-out
    * path a perpetually-ingesting corpus needs as much as upsert. The
    * commit is PARTIAL like upsert's: touched lists (those holding any
    * deleted id) are rewritten minus the ids; every other partition is
    * carried by manifest reference, byte-identical, so a takedown of b
    * documents costs O(lists holding them), not O(index). Discovery of
    * those lists is O(batch): the `vec_map` side table prunes to the
    * deleted ids' vb partitions. vec_map partitions actually HOLDING
    * deleted rows rewrite minus the ids in the same transaction; the
    * rest carry. Deleting a seed vector removes its DATA row; the list
    * geometry lives in the authoritative `centroids` table and is
    * unaffected (probes of its list keep working). A later upsert of a
    * deleted vec_id re-inserts it — deletion removes current rows, it
    * is not a tombstone. The list-size histogram and skew stats update
    * incrementally, same as upsert. */
  def deleteFromIvfIndex(deleteIds: DataFrame, path: String): Unit = {
    val spark = deleteIds.sparkSession
    val params = VersionedIndex.current(spark, path)
    val ids = deleteIds.select(col("vec_id")).distinct()
    // (list_id, vb, n) of rows holding deleted ids — bounded by
    // touched lists × touched buckets; vb-pruned through vec_map
    val pairs = vecMapHits(spark, path, ids, params("vecMapBuckets").toInt)._1
      .groupBy(col("list_id"), col("vb")).count()
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val removes = pairs.groupBy(_._1).map { case (l, es) =>
      l -> es.map(_._3).sum
    }
    if (removes.isEmpty) return // nothing present to delete
    val newSizes = ivfListSizes(spark, path).map { case (l, n) =>
      l -> (n - removes.getOrElse(l, 0L))
    }.filter(_._2 > 0)
    // only vb partitions that actually HELD deleted rows rewrite (a
    // pure delete adds nothing elsewhere); the rest carry
    commitIvfMutation(spark, path, pqCodebookOf(spark, path, params),
      params ++ skewParam(newSizes), newSizes,
      removes.keySet.toSeq, pairs.map(_._2).distinct.toSeq,
      _.join(ids, Seq("vec_id"), "left_anti"),
      _.join(ids, Seq("vec_id"), "left_anti"))
  }

  /** The committed index's vector rows (vec_id, label, embedding) —
    * what a re-centering rebuild feeds back into [[buildIvfIndex]].
    * LAZY, bound to the current version's files: feeding it straight
    * into a rebuild is safe (the commit's staged write executes before
    * superseded versions sweep), but reusing the returned frame AFTER
    * a subsequent commit reads swept files — `localCheckpoint()` it
    * first if it must outlive the next commit. */
  def readIvfIndexRows(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    readIvfLists(spark, path)
      .select(col("vec_id"), col("label"), col("embedding"))

  /** Health of a persisted IVF index under perpetual streaming upsert:
    * the list geometry is pinned to the original centroids, so months
    * of drifting ingest skew the list histogram and probe recall
    * decays SILENTLY — this is the statistic that makes it loud.
    * `skew` = max/median list cardinality; `needsRebuild` is the
    * documented rebuild trigger (re-centering is a full
    * [[buildIvfIndex]] over the current rows — wired optionally into
    * `Pipelines.vectorIngestSink`). */
  final case class IvfStats(listSizes: Map[Long, Long], maxSize: Long,
      medianSize: Long, skew: Double, needsRebuild: Boolean)

  /** The skew scalar every index mutation commits to `params`. The
    * full histogram lives in the `list_sizes` member table — a params
    * text line would be an O(nLists) string parsed on the driver each
    * commit, fine at 10³ lists and wrong at 10⁵. */
  private def skewParam(newSizes: Map[Long, Long]): Map[String, String] = {
    val sorted = newSizes.values.toSeq.sorted
    val skew =
      if (sorted.isEmpty) 1.0
      else sorted.last.toDouble / math.max(sorted(sorted.size / 2), 1L)
    Map("listSkew" -> f"$skew%.3f")
  }

  /** Per-list cardinalities of the committed index: the `list_sizes`
    * member table (≤ nLists rows), maintained incrementally from each
    * batch's adds and removes — O(batch), never an index scan. */
  def ivfListSizes(spark: org.apache.spark.sql.SparkSession,
      path: String): Map[Long, Long] =
    VersionedIndex.readTable(spark, path, "list_sizes")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap // ≤ nLists rows

  /** Skew statistic + rebuild decision for the committed IVF index. */
  /** The rebuild trigger's default: max/median list skew beyond this
    * means the pinned geometry no longer balances the corpus. ONE
    * definition — every stats surface (`ivfIndexStats`, the handles,
    * `Index.stats`) references it, so the health endpoint and the
    * rebuild decision can never disagree about the threshold. */
  val DefaultIvfSkewThreshold: Double = 4.0

  def ivfIndexStats(spark: org.apache.spark.sql.SparkSession, path: String,
      skewThreshold: Double = DefaultIvfSkewThreshold): IvfStats = {
    val sizes = ivfListSizes(spark, path)
    require(sizes.nonEmpty, s"no lists in IVF index at $path")
    ivfStatsFrom(sizes, skewThreshold)
  }

  /** Balance math over an already-read histogram — THE single
    * median/clamp/skew definition. `Index.stats` computes its common
    * core from the same one read it uses for the emptiness decision
    * (re-reading would both double poll I/O and open a version-skew
    * window where emptiness and balance describe different commits). */
  private[operators] def ivfStatsFrom(sizes: Map[Long, Long],
      skewThreshold: Double): IvfStats = {
    require(sizes.nonEmpty, "ivfStatsFrom needs a non-empty histogram")
    val vals = sizes.values.toSeq.sorted
    val max = vals.last
    val med = math.max(vals(vals.size / 2), 1L)
    val skew = max.toDouble / med
    IvfStats(sizes, max, med, skew, skew >= skewThreshold)
  }

  /** Re-center the persisted index from its CURRENT rows — the
    * documented O(index) answer to `needsRebuild`, amortized across
    * the many O(batch) mutations between rebuilds. Layout-aware: a
    * plain IVF index rebuilds with [[buildIvfIndex]]; an IVF-PQ index
    * rebuilds with [[buildIvfPqIndex]], which RETRAINS the PQ
    * codebook from the current corpus (same m and persisted `pqK`,
    * training rounds and sample). The codebook is pinned at build time
    * exactly like the centroid geometry, so the drift policy must
    * refresh both: after heavy upsert drift the old codewords
    * describe a corpus that no longer exists and ADC quality degrades
    * silently. Deterministic end to end (hash-ordered sampling,
    * integer Lloyd training, seeded assignment): the rebuilt index
    * answers queries identically to a fresh build over the same rows
    * (LayoutSpec pins ADC parity).
    *
    * `nLists = None` (the default) keeps the index's PERSISTED list
    * count — the safe choice for drift triggers, where a caller-side
    * constant would silently resize the geometry of an index built
    * elsewhere (and with it the rewrite-unit sizing). Pass Some(n) to
    * deliberately re-shard. */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, nLists: Option[Int] = None): Unit = {
    val params = VersionedIndex.current(spark, path)
    val rows = readIvfIndexRows(spark, path)
    val buckets = params("vecMapBuckets").toInt
    val lists = nLists.getOrElse(params("nLists").toInt)
    if (params.contains("pqM"))
      buildIvfPqIndex(rows, lists, path, pqM = params("pqM").toInt,
        pqK = params("pqK").toInt, vecMapBuckets = buckets,
        trainRounds = params("pqTrainRounds").toInt,
        trainSample = params("pqTrainSample").toInt)
    else buildIvfIndex(rows, lists, path, vecMapBuckets = buckets)
  }

  /** Search the persisted index. Centroid ranking (the rows where
    * vec_id == list_id — centroids need no side table) picks `nProbe`
    * lists; the probe set is collected as nProbe integers (a bounded
    * driver-side plan step, like multi-probe's margin planning) so the
    * corpus scan carries a literal partition filter — static partition
    * pruning, only the probed list partitions are read. */
  def ivfSearchIndexed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      nProbe: Int, queryId: Long, k: Int,
      centroids: Option[DataFrame] = None): DataFrame = {
    val index = readIvfLists(spark, indexPath)
    val q = index.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    // probe selection reads the nLists-row centroids table, never the
    // lists data; a handle passes its preloaded geometry instead
    val probes = centroids.getOrElse(readIvfCentroids(spark, indexPath))
      .crossJoin(broadcast(q))
      .withColumn("c_sim", Vectors.cosine(col("c_emb"), col("q_emb")))
      .orderBy(col("c_sim").desc, col("list_id"))
      .limit(nProbe)
      .select(col("list_id"))
      .collect().map(_.getAs[Number]("list_id").longValue())
    // Match the literal type to the discovered partition-column type so
    // the IN lands in PartitionFilters uncast (a CAST on the partition
    // column would defeat pruning).
    val inVals: Seq[Any] =
      if (index.schema("list_id").dataType == org.apache.spark.sql.types.IntegerType)
        probes.toSeq.map(p => Int.box(p.toInt))
      else probes.toSeq.map(Long.box)
    index.filter(col("vec_id") =!= queryId && col("list_id").isin(inVals: _*))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), col("list_id").cast("long").as("list_id"),
        round(Vectors.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Derived-table writer for the persisted PQ code table: codes of
    * the lists rows STAGED THIS COMMIT, partitioned by list_id like
    * lists itself — so partial commits touch exactly the same
    * partition set and probes prune identically. */
  private def derivePq(spark: org.apache.spark.sql.SparkSession,
      cb: Quantization.PqCodebook)(staging: String): DataFrame =
    Quantization.withPqCodes(
        spark.read.parquet(s"$staging/lists")
          .select(col("vec_id"), col("embedding"),
            col("list_id").cast("long").as("list_id")), cb)
      .select(col("vec_id"), col("pq"), col("list_id"))

  /** The m×kPq codeword rows serialized as a member table. */
  private def codebookDf(spark: org.apache.spark.sql.SparkSession,
      cb: Quantization.PqCodebook): DataFrame = {
    import spark.implicits._
    (for (j <- cb.codes.indices; t <- cb.codes(j).indices)
      yield (j, t, cb.codes(j)(t))).toDF("j", "t", "cw")
  }

  private def pqParams(cb: Quantization.PqCodebook): Map[String, String] =
    Map("pqM" -> cb.m.toString, "pqSubDim" -> cb.subDim.toString)

  /** Rows the staleness EWMA remembers at steady state. "Recent"
    * means the last ~256 ingested vectors: batch MEANS are already
    * low-variance, so a short memory stays stable while flipping
    * within a few hundred drifted rows; any batch larger than the
    * window rightly dominates it (weight n/(W+n) → 1), and a
    * single-row outlier moves the signal by at most 1/257 of its
    * excess. */
  private val PqErrWindowCap = 256L

  /** Mean integer quantization error of `rows` under `cb`: (row
    * count, per-vector ADC self-distance ‖q8u − codeword(pq)‖²
    * floor-averaged) — the statistic behind codebook-staleness
    * detection. One aggregation job over `rows`; exact (sums <
    * 2⁵³). None for an empty batch. */
  private def pqMeanErr(rows: DataFrame,
      cb: Quantization.PqCodebook): Option[(Long, Long)] = {
    val r = Quantization.withPqCodes(rows, cb)
      .agg(count(lit(1)).as("n"),
        floor(sum(Quantization.adcDistVsQuery(cb, col("q8u"))) /
          count(lit(1))).as("e"))
      .head()
    if (r.getLong(0) == 0L) None else Some((r.getLong(0), r.getLong(1)))
  }

  /** Codebook health of a persisted IVF-PQ index. The codebook is
    * pinned at build time like the centroid geometry, but it can go
    * stale WITHOUT skewing the list histogram (drift WITHIN lists) —
    * so staleness gets its own signal: `buildErr` is the corpus mean
    * quantization error at build time, `recentErr` a BATCH-SIZE-
    * weighted integer EWMA over upserted batches — err' =
    * ⌊(W·err + n·batchErr)/(W + n)⌋ with memory W capped at
    * ~PqErrWindowCap rows — both maintained in params with no index
    * scan. `needsRetrain` fires when recentErr ≥ ratio × buildErr —
    * newly ingested vectors no longer fit the codewords — and the
    * answer is [[rebuildIvfIndex]], which retrains. DELETES leave the
    * signal untouched by design: it measures how recent INGEST fits
    * the pinned codewords, and removing rows changes neither the
    * codewords nor the incoming distribution (post-takedown fit of
    * the remaining corpus is the rebuild's own errBuild baseline). */
  final case class PqDriftStats(buildErr: Long, recentErr: Long,
      ratio: Double, needsRetrain: Boolean)

  def pqCodebookStats(spark: org.apache.spark.sql.SparkSession, path: String,
      retrainRatio: Double = 1.5): PqDriftStats = {
    val params = VersionedIndex.current(spark, path)
    val build = params.getOrElse("pqErrBuild",
      sys.error(s"index at $path has no codebook error baseline " +
        "(not an IVF-PQ index)")).toLong
    val recent = params.get("pqErrRecent").map(_.toLong).getOrElse(build)
    val ratio = recent.toDouble / math.max(build, 1L)
    PqDriftStats(build, recent, ratio, ratio >= retrainRatio)
  }

  /** Build the PERSISTED IVF-PQ index: [[buildIvfIndex]]'s layout plus
    * two member tables committed in the same transaction —
    *  - `pq` (vec_id, pq, list_id), the 16-byte-per-vector code table
    *    partitioned by list_id exactly like `lists` (derived from the
    *    staged lists bytes via the commit's derive hook, so the
    *    expensive assignment never recomputes);
    *  - `pq_codebook` (j, t, cw), the m×kPq codewords — pinned at
    *    build time like the centroid geometry; mutations code new
    *    vectors against it, re-centering/re-training is a rebuild.
    * A query probes nProbe partitions of the CODE table (~16 B/vector
    * read), reranks from the lists partitions — [[ivfPqSearchIndexed]].
    * Upsert/delete maintain `pq` partially alongside `lists` (same
    * touched-partition set, untouched byte-identical). */
  def buildIvfPqIndex(embeddings: DataFrame, nLists: Int, path: String,
      pqM: Int = 16, pqK: Int = 16,
      vecMapBuckets: Int = DefaultVecMapBuckets,
      trainRounds: Int = 2, trainSample: Int = 4096): Unit = {
    val spark = embeddings.sparkSession
    val cb = Quantization.pqCodebook(embeddings, m = pqM, kPq = pqK,
      trainRounds = trainRounds, trainSample = trainSample)
    val seeds = ivfSeeds(embeddings, nLists)
    // the corpus quantization error under the fresh codebook — the
    // staleness baseline (one build-time aggregation; mutations keep
    // an EWMA against it, pqCodebookStats reads it)
    val errBuild = pqMeanErr(
      embeddings.select(col("vec_id"), col("embedding")), cb)
      .map(_._2).getOrElse(0L)
    VersionedIndex.commit(spark, path,
      Seq("lists" -> assignSeeded(embeddings, seeds).drop("c_sim"),
        "centroids" -> seeds.select(
          col("centroid_id").cast("long").as("list_id"), col("c_emb")),
        "pq_codebook" -> codebookDf(spark, cb)),
      Map("nLists" -> nLists.toString,
        "vecMapBuckets" -> vecMapBuckets.toString,
        "pqK" -> pqK.toString,
        "pqTrainRounds" -> trainRounds.toString,
        "pqTrainSample" -> trainSample.toString,
        "pqErrBuild" -> errBuild.toString,
        "pqErrRecent" -> errBuild.toString,
        // full-corpus baseline → the EWMA starts at full memory
        "pqErrWindow" -> PqErrWindowCap.toString) ++ pqParams(cb) ++
        ivfDistBaseline(embeddings, seeds),
      partitionBy = Map("lists" -> Seq("list_id"), "vec_map" -> Seq("vb"),
        "pq" -> Seq("list_id")),
      derive = Seq("vec_map" -> deriveVecMap(spark, vecMapBuckets),
        "list_sizes" -> deriveListSizes(spark),
        "pq" -> derivePq(spark, cb)))
  }

  /** The persisted codebook of an IVF-PQ index. */
  def readPqCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String): Quantization.PqCodebook = {
    val params = VersionedIndex.current(spark, path)
    val m = params.getOrElse("pqM",
      sys.error(s"index at $path has no PQ layer (pqM missing)")).toInt
    val subDim = params("pqSubDim").toInt
    val rows = VersionedIndex.readTable(spark, path, "pq_codebook")
      .collect().map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Int](2).toIndexedSeq)) // ≤ m·kPq rows, loud shape check
    val codes = IndexedSeq.tabulate(m)(j =>
      rows.filter(_._1 == j).sortBy(_._2).map(_._3).toIndexedSeq)
    require(codes.forall(_.nonEmpty), s"pq_codebook at $path missing subspaces")
    Quantization.PqCodebook(m, subDim, codes)
  }

  /** Sentinel for "derive the ADC shortlist from the corpus" — the
    * [[Index.IvfPq]] handle's default. */
  val AutoShortlist: Int = -1

  /** The measured shortlist policy (SCALE.md recall ladders, r10-r11):
    * two-stage recall is a function of the shortlist/CANDIDATE-SET
    * ratio, not of the shortlist/k multiple — a fixed `shortlist=100`
    * that recovers 9.5/10 at sf0.01 silently decays as the corpus
    * grows (6.3/10 at 5×k by sf0.1). Target ratio: 1/8 of the probed
    * candidates (12.5%, inside the measured 8-20% band where trained-2
    * recall holds 9.0-9.3/10 across both measured SFs). */
  val ShortlistRatioDen = 8L

  /** Absolute floor — the pre-r12 fixed default, so corpora small
    * enough that 100 already exceeds the target ratio behave exactly
    * as before. */
  val ShortlistFloor = 100

  /** Absolute cap: the shortlist rides a per-query broadcast
    * (|queries| × shortlist rows in the batched plan), so the derived
    * default stops growing at 10⁴ — a 10⁹-vector deployment that
    * genuinely wants a 10⁷-row rerank passes it explicitly and owns
    * the broadcast budget. */
  val ShortlistCap = 10000

  /** ADC shortlist for a corpus of `nVectors` searched with
    * `nProbe`-of-`nLists` probing: 1/[[ShortlistRatioDen]] of the
    * expected probed candidate count (nVectors·nProbe/nLists),
    * clamped to [[ShortlistFloor]]/[[ShortlistCap]] and never below
    * k. Derived at the [[Index]] handle from the maintained
    * `list_sizes` histogram — the index knows its corpus size, the
    * caller doesn't have to. */
  def autoShortlist(nVectors: Long, nLists: Int, nProbe: Int, k: Int): Int = {
    val probed = nVectors.toDouble *
      math.min(math.max(nProbe, 1), math.max(nLists, 1)) / math.max(nLists, 1)
    val target = math.ceil(probed / ShortlistRatioDen).toLong
    math.max(k,
      math.min(math.max(target, ShortlistFloor.toLong), ShortlistCap.toLong)).toInt
  }

  /** Search the persisted IVF-PQ index: probe selection from the
    * nLists-row centroids table (as [[ivfSearchIndexed]]), then ADC
    * over ONLY the probed partitions of the `pq` CODE table — a scan
    * of ~16 B/vector with a static list_id partition filter, never
    * touching embeddings — then an exact-cosine rerank that reads the
    * `lists` partitions pruned to the same probes and semi-joined to
    * the shortlist. The per-query driver work (centroid ranking,
    * query-code table) is bounded by nLists + m·kPq, and is ONE job:
    * the query's unit-int8 codes ride the probe-selection plan (the
    * same column arithmetic the code table was built with — no
    * hand-rolled driver reimplementation to drift), so a query costs
    * two driver round-trips — codebook read + plan job — or one when
    * the caller passes a preloaded `codebook` (the `Index.open`
    * serving shape). */
  def ivfPqSearchIndexed(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, nProbe: Int, queryId: Long, k: Int,
      shortlist: Int,
      codebook: Option[Quantization.PqCodebook] = None,
      centroids: Option[DataFrame] = None): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    val cb = codebook.getOrElse(readPqCodebook(spark, indexPath))
    val lists = readIvfLists(spark, indexPath)
    val q = lists.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    // ONE bounded plan job: centroid ranking picks the nProbe lists
    // AND carries the query's q8u codes on every ranked row (the
    // cross join is 1 × nLists)
    val planRows = centroids.getOrElse(readIvfCentroids(spark, indexPath))
      .crossJoin(broadcast(Quantization.withUnitInt8(
          lists.filter(col("vec_id") === queryId).select(col("embedding")))
        .select(col("embedding").as("q_emb"), col("q8u"))))
      .withColumn("c_sim", Vectors.cosine(col("c_emb"), col("q_emb")))
      .orderBy(col("c_sim").desc, col("list_id"))
      .limit(nProbe)
      .select(col("list_id"), col("q8u"))
      .collect() // ≤ nProbe rows, loud cap
    require(planRows.nonEmpty, s"query $queryId not found in index $indexPath")
    val probes = planRows.map(_.getAs[Number]("list_id").longValue())
    val qq8 = planRows.head.getSeq[Int](1).toIndexedSeq
    def pruneVals(df: DataFrame): Seq[Any] =
      if (df.schema("list_id").dataType == org.apache.spark.sql.types.IntegerType)
        probes.toSeq.map(p => Int.box(p.toInt))
      else probes.toSeq.map(Long.box)
    val codesTable = VersionedIndex.readTable(spark, indexPath, "pq")
    val cand = codesTable
      .filter(col("list_id").isin(pruneVals(codesTable): _*) &&
        col("vec_id") =!= queryId)
      .withColumn("adc_dist", Quantization.adcDist(cb, qq8))
      .orderBy(col("adc_dist").asc, col("vec_id"))
      .limit(shortlist)
      .select(col("vec_id"))
    lists
      .filter(col("list_id").isin(pruneVals(lists): _*))
      .join(broadcast(cand), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(Vectors.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** BATCHED plain-IVF serving: the whole query SET against the
    * persisted index as ONE plan — [[ivfSearchIndexedBatch]] is to
    * [[ivfSearchIndexed]] what [[ivfPqSearchIndexedBatch]] is to the
    * PQ path, minus the ADC stage (exact cosine over every member of
    * the probed lists — right when lists fit the scan budget and the
    * 16-byte code tier isn't built). `queries` is (query_id,
    * embedding); output (query_id, vec_id, label, sim), each query's
    * rows row-identical to the single-query API. Probe selection is a
    * broadcast against the nLists centroid table; the member scan is
    * DPP-pruned via the broadcast (query, list) probe set on the
    * partition column; per-query top-k runs through the heap
    * TopKPerGroupExec on the native (sim DESC, vec_id ASC) composite
    * ordering — ids are full 64-bit, no packing contract. */
  def ivfSearchIndexedBatch(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, nProbe: Int, queries: DataFrame,
      k: Int, centroids: Option[DataFrame] = None): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    val lists = readIvfLists(spark, indexPath)
      .select(col("vec_id"), col("label"), col("embedding"),
        col("list_id").cast("long").as("list_id"))
    val qs = queries.select(col("query_id"), col("embedding").as("q_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("c_sim").desc, col("list_id"))
    val probes = qs
      .crossJoin(broadcast(centroids.getOrElse(readIvfCentroids(spark, indexPath))))
      .select(col("query_id"), col("list_id").cast("long").as("list_id"),
        Vectors.cosine(col("c_emb"), col("q_emb")).as("c_sim"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= nProbe)
      .select(col("query_id"), col("list_id"))
    val scored = lists
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(qs), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        round(Vectors.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
    graft.plans.GraftOps.topKPerGroupOrdered(scored, Seq("query_id"),
        Seq("sim" -> false, "vec_id" -> true), k)
      .select(col("query_id"), col("vec_id"), col("label"), col("sim"))
  }

  /** BATCHED IVF-PQ serving: the whole query SET runs as one
    * declarative plan — no per-query driver round-trips at all (the
    * single-query API costs 1-2 collects per query; an evaluation or
    * serving batch of thousands of queries would pay thousands).
    *
    * `queries` is (query_id: long, embedding); each query's result
    * rows equal [[ivfPqSearchIndexed]] for that id (self-matches
    * excluded). Output: (query_id, vec_id, label, sim).
    *
    * Stages, all set-at-a-time (the knnGraph shape):
    *  1. probe selection — the nLists-row centroid table BROADCAST
    *     against all queries; per-query top-nProbe via a row_number
    *     window whose groups are nLists rows (bounded, never a global
    *     sort), on narrow (query_id, list_id, c_sim) rows;
    *  2. ADC — the code table joined to the broadcast probe set on
    *     `list_id` (the partition column, so dynamic partition
    *     pruning limits the scan to probed partitions) and to the
    *     broadcast per-query distance TABLES ([[Quantization
    *     .pqLutCol]], computed once per query); each candidate pays
    *     m lookups ([[Quantization.pqAdcCol]]) — factored ADC;
    *  3. per-query shortlist — heap-based TopKPerGroupExec on the
    *     native (adc_dist ASC, vec_id ASC) composite ordering (any
    *     64-bit id, any distance magnitude — no packing contract);
    *  4. exact re-rank — `lists` joined to the broadcast shortlist on
    *     (vec_id, list_id) (DPP again), cosine against the broadcast
    *     query embeddings, per-query top-k on (sim DESC, vec_id ASC)
    *     (ties on the 6-dp ROUNDED sim resolve to the lowest vec_id,
    *     exactly the single-query ordering).
    * Broadcast sizes: nLists centroids, |queries| codes/embeddings,
    * |queries|·shortlist shortlist rows — serving-batch-bounded,
    * independent of corpus size. Cost per ADDITIONAL query is the
    * marginal rows it adds to stages 2-4, not a new plan + 2 jobs —
    * measured sub-linear vs the per-query loop (SCALE.md). */
  def ivfPqSearchIndexedBatch(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, nProbe: Int, queries: DataFrame, k: Int,
      shortlist: Int,
      codebook: Option[Quantization.PqCodebook] = None,
      centroids: Option[DataFrame] = None): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    val cb = codebook.getOrElse(readPqCodebook(spark, indexPath))
    val lists = readIvfLists(spark, indexPath)
    val qs = Quantization.withUnitInt8(
        queries.select(col("query_id"), col("embedding")))
      .select(col("query_id"), col("embedding").as("q_emb"), col("q8u"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("c_sim").desc, col("list_id"))
    val probes = qs.select(col("query_id"), col("q_emb"))
      .crossJoin(broadcast(centroids.getOrElse(readIvfCentroids(spark, indexPath))))
      .select(col("query_id"), col("list_id").cast("long").as("list_id"),
        Vectors.cosine(col("c_emb"), col("q_emb")).as("c_sim"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= nProbe)
      .select(col("query_id"), col("list_id"))
    val codesTable = VersionedIndex.readTable(spark, indexPath, "pq")
      .select(col("vec_id"), col("pq"), col("list_id").cast("long").as("list_id"))
    // factored ADC: the m×kPq distance TABLE is computed once per
    // query on the broadcast side (PqLut), and each candidate pays m
    // array lookups (PqAdcLookup) instead of m·subDim multiply-adds —
    // the per-candidate term is the one that scales with corpus size
    val cand = codesTable
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(qs.select(col("query_id"),
        Quantization.pqLutCol(cb, col("q8u")).as("_lut"))), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("list_id"),
        Quantization.pqAdcCol(cb, col("_lut"), col("pq")).as("adc_dist"))
    val sl = graft.plans.GraftOps.topKPerGroupOrdered(
        cand, Seq("query_id"), Seq("adc_dist" -> true, "vec_id" -> true), shortlist)
      .select(col("query_id"), col("vec_id"), col("list_id"))
    val reranked = lists
      .select(col("vec_id"), col("label"), col("embedding"),
        col("list_id").cast("long").as("list_id"))
      .join(broadcast(sl), Seq("vec_id", "list_id"))
      .join(broadcast(qs.select(col("query_id"), col("q_emb"))), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        round(Vectors.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
    graft.plans.GraftOps.topKPerGroupOrdered(reranked, Seq("query_id"),
        Seq("sim" -> false, "vec_id" -> true), k)
      .select(col("query_id"), col("vec_id"), col("label"), col("sim"))
  }

  /** IVF-PQ: the full ANN serving composition — the coarse quantizer
    * prunes the corpus to `nProbe` inverted lists, PQ/ADC ranks
    * WITHIN the probed lists from 16-byte integer codes, and exact
    * float cosine re-ranks only the ADC shortlist. Ad-hoc (in-flight
    * assignment) form mirroring [[ivfSearch]]; a serving deployment
    * stores the PQ codes as a column of the persisted lists table, so
    * a probe reads nProbe partitions of the CODE column only — corpus
    * I/O per query ≈ nProbe/nLists × 16 B/vector, with the two
    * expensive reads (query planning against nLists centroids,
    * codebook literals) bounded and driver-side. The query vector's
    * own list is always probed (it is the rank-1 centroid by the same
    * argmin that assigned it), so the query's codes resolve within
    * the probed subset. */
  def ivfPqTopK(embeddings: DataFrame, nLists: Int, nProbe: Int,
      cb: Quantization.PqCodebook, queryId: Long, k: Int,
      shortlist: Int): DataFrame = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    Pins { p =>
      val assigned = p.cache(ivfAssign(embeddings, nLists))
      val (q, probeLists) = ivfProbe(assigned, queryId, nProbe)
      val members = assigned
        .join(broadcast(probeLists), col("list_id") === col("probe_list"))
        .select(col("vec_id"), col("label"), col("embedding"))
      val cand = Quantization.pqAdcTopK(members, cb, queryId, shortlist)
        .select(col("vec_id"))
      members.join(broadcast(cand), "vec_id")
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"),
          round(Vectors.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(k)
        .localCheckpoint() // ≤ k rows, materialized before the release
    }
  }

  /** k-NN graph: the top-`k` cosine neighbors of EVERY corpus vector —
    * the batch counterpart of the single-query searches above (used for
    * SemDeDup-style analysis, recall evaluation, graph-based pruning).
    *
    * `block = None` is the exactness baseline: an all-pairs join (q37's
    * shape generalized to every query vector). `block = Some(col)` is
    * the scale path — pairs only form inside a block (LSH bucket, IVF
    * list, shard), turning n² into Σ block² with the block as the one
    * shuffle key, exactly the entity-resolution blocking move the
    * dedup operators use.
    *
    * Per-node top-k runs through the heap-based TopKPerGroupExec on
    * the native (sim DESC, nbr ASC) composite ordering — the
    * n·(block−1) pair stream is never globally sorted, and ids are
    * full 64-bit (no packing contract). Ties on the 6-dp rounded sim
    * resolve to the lowest neighbor id in any engine, which is what
    * makes the result oracle-comparable. Norms are computed once per
    * vector ahead of the join, so each pair costs one fused dot
    * product. */
  /** Size-capped LSH-bucketed k-NN graph — [[knnGraph]]'s blocked form
    * with the hot-bucket quadratic tamed. Plain blocking is Σ block²:
    * one hot bucket dominates, and measured at ×10 data the pair
    * volume grew 100× for q96's shape (SCALE.md r12). This variant
    * REFINES any bucket above `maxBlock` rows with additional
    * deterministic sign bits — the same hyperplane family, planes
    * nBits, nBits+1, … — so the split is SIMILARITY-AWARE (near
    * vectors keep landing together, unlike a random secondary hash),
    * and recovers boundary recall with Hamming-1 multi-probe over the
    * refinement bits (each vector also probes every single-bit flip
    * of its refinement code — the q62 move, margin-free so any engine
    * replays it).
    *
    * Exactness ladder, pinned in SimilaritySpec:
    *  - buckets ≤ maxBlock: e = 0 refinement bits — plain in-bucket
    *    all-pairs, IDENTICAL to `knnGraph(emb, k, Some(lshBucket))`;
    *  - buckets ≤ 2·maxBlock: e = 1 — Hamming-1 probing over one bit
    *    covers every sub-block pair, output still IDENTICAL (the cap
    *    engages with zero recall cost until a bucket doubles it);
    *  - larger buckets: e = ⌈log₂(size/maxBlock)⌉ (≤ maxExtraBits) —
    *    neighbors missing in ≥2 refinement bits are dropped; for
    *    near-duplicate similarity each refinement-bit disagreement
    *    costs ~θ/π, so the dropped pairs are O((θ/π)²) of the near
    *    pairs — the measured recall floor is pinned in SimilaritySpec.
    *
    * Per-bucket join volume falls from b² toward (e+1)·b²∕2^e — but
    * ONLY as far as the data's intrinsic cluster structure allows: a
    * hot bucket that is a genuine dense cluster keeps landing on the
    * same side of the refinement planes too (measured on the ×10
    * probe corpus: a 646-row bucket's hottest e=4 sub-block still
    * holds 343 rows, so the total pair-volume cut saturates at ~1.3×
    * where a uniform split would give 2.9× — SCALE.md r12). That
    * saturation is a FEATURE of similarity-aware splitting, not a
    * bug: the un-splittable residue is precisely the mutual-near-
    * neighbor set the k-NN graph exists to find, and shattering it
    * with a random secondary hash would trade exactly those edges
    * away. Use this operator when hot buckets are hash-collision
    * noise (near-uniform sub-codes → real linear win); when they are
    * intrinsic clusters, the quadratic core is the answer itself and
    * plain [[knnGraph]] blocking is cheaper by the capped plan's
    * fixed overhead — which is why the fall-through below returns
    * the plain plan untouched whenever no bucket exceeds 2·maxBlock.
    *
    * Matching is exact-once by construction: a candidate pair differs
    * in ≤1 refinement bit, so exactly one probe row of the lower-id
    * side hits the higher-id side's residence (its own code when
    * equal, the single flipped bit otherwise) — no distinct() after
    * the join, and each pair is scored once then mirrored, exactly
    * like [[knnGraph]]. */
  def knnGraphBucketedCapped(emb: DataFrame, k: Int, dim: Int, nBits: Int,
      maxBlock: Int = 32, maxExtraBits: Int = 6): DataFrame = {
    require(maxBlock > 0 && maxExtraBits >= 1 && nBits + maxExtraBits <= 62)
    graft.plans.GraftFunctions.register(emb.sparkSession)
    val bucketCol = Vectors.lshBucket(col("embedding"), dim, nBits)
    // ONE bounded aggregation (≤ 2^nBits rows, cached — it also
    // feeds the e-ladder join below, so the corpus is bucket-scanned
    // once, not twice) decides the plan: with every bucket ≤
    // 2·maxBlock the capped construction is output-identical to plain
    // blocking (e ≤ 1, Hamming-1 covers all pairs) but pays real plan
    // overhead — so it short-circuits to the plain blocked graph and
    // the cap costs nothing until a bucket actually doubles it.
    //
    // Unlike the lazy [[knnGraph]], the size aggregation EXECUTES at
    // call time to decide the plan. The eager/unpersist contract is
    // CAPPED-BRANCH ONLY: there the result is materialized below so
    // the cached intermediates can be unpersisted before returning
    // (repeated calls in a long-lived session leave only the n·k
    // result blocks). The short-circuit below returns knnGraph's
    // LAZY plan untouched — that path caches no intermediates, so
    // eager materialization would buy nothing and cost the caller
    // plan composability; its bucket column is recomputed at
    // execution (one kernel pass, the plain graph's normal cost).
    Pins { p =>
      val sizes = p.cache(emb.select(bucketCol.as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("_bn")))
      val maxRow = sizes.agg(max(col("_bn"))).head()
      // null on an EMPTY corpus (max of no rows): degrade like knnGraph
      // (empty result), never an NPE
      val maxBucket = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
      if (maxBucket <= 2L * maxBlock) knnGraph(emb, k, Some(bucketCol))
      else {
        val base = emb.select(col("vec_id"), col("embedding"))
          .withColumn("bucket", bucketCol)
          .withColumn("nrm", Vectors.norm2(col("embedding")))
        // e = smallest e ≤ maxExtraBits with size ≤ maxBlock·2^e — an
        // exact integer ladder (a float log₂ would be off-by-one on exact
        // powers).
        val eExpr = (maxExtraBits - 1 to 0 by -1).foldLeft(lit(maxExtraBits): Column) {
          (acc, i) => when(col("_bn") <= lit(maxBlock.toLong << i), lit(i)).otherwise(acc)
        }
        val withE = base.join(broadcast(sizes.select(col("bucket"), eExpr.as("_e"))),
          "bucket")
        // refinement code: sign bits of planes nBits … nBits+e−1, masked
        // to this bucket's e (e is a pure function of the bucket, so both
        // join sides agree on the mask)
        val subExpr = (0 until maxExtraBits).map { j =>
          val plane = typedlit(Vectors.hyperplane(nBits + j, dim).toSeq)
          when(lit(j) < col("_e") &&
            graft.plans.GraftFunctions.dot(col("embedding"), plane) >= 0.0,
            lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _)
        // materialize ONCE: the bucketed+refined corpus view feeds BOTH
        // sides of the candidate self-join (and the sizes aggregation
        // inside each side would otherwise re-scan the corpus twice
        // more). cache (not localCheckpoint) so it can be unpersisted
        // once the result below is materialized; the probe explode is
        // over the cheap _sub/_e columns the cached projection already
        // computed, so no expensive chain can be inlined into the
        // InMemoryTableScan by generate-filter pushdown.
        val subbed = p.cache(withE.select(col("vec_id"), col("embedding"), col("nrm"),
          col("bucket"), col("_e"), subExpr.as("_sub")))
        // probe set: own code + each single-bit flip within e bits
        val probesExpr = filter(array((0 to maxExtraBits).map {
          case 0 => col("_sub")
          case i => when(lit(i) <= col("_e"),
            col("_sub").bitwiseXOR(lit(1L << (i - 1)))).otherwise(lit(null))
        }: _*), x => x.isNotNull)
        val probing = subbed.select(col("vec_id"), col("embedding"), col("nrm"),
          col("bucket"), explode(probesExpr).as("_probe"))
        val scored = probing.as("a").join(subbed.as("b"),
            col("a.bucket") === col("b.bucket") && col("a._probe") === col("b._sub") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
            round(graft.plans.GraftFunctions.dot(col("a.embedding"), col("b.embedding"))
              / (col("a.nrm") * col("b.nrm")), 6).as("sim"))
        // n·k rows, materialized before the scope releases the caches
        mirrorTopK(scored, k).localCheckpoint()
      }
    }
  }

  /** Mirror each once-scored (va, vb, sim) pair into both directed
    * orientations and take the per-node top-k on the native
    * (sim DESC, nbr ASC) composite ordering — the SHARED tail of
    * every k-NN graph variant (the capped operator's e≤1 exactness
    * pin in SimilaritySpec relies on both variants rounding,
    * tie-breaking and mirroring identically, so there is exactly one
    * definition). */
  private def mirrorTopK(scored: DataFrame, k: Int): DataFrame = {
    val pairs = scored.select(explode(array(
        struct(col("va").as("vec_id"), col("vb").as("nbr"), col("sim")),
        struct(col("vb").as("vec_id"), col("va").as("nbr"), col("sim")))).as("e"))
      .select(col("e.vec_id"), col("e.nbr"), col("e.sim"))
    graft.plans.GraftOps.topKPerGroupOrdered(pairs, Seq("vec_id"),
        Seq("sim" -> false, "nbr" -> true), k)
      .select(col("vec_id"), col("nbr"), col("sim"))
  }

  def knnGraph(emb: DataFrame, k: Int, block: Option[Column] = None): DataFrame = {
    graft.plans.GraftFunctions.register(emb.sparkSession)
    // fan-out (r21), BLOCKLESS PATH ONLY: the O(n²) kernel evaluation
    // runs in the non-equi join's stream-side stage — a single-split
    // input (one-row-group parquet) would run the whole pair scan on
    // one core (measured 3.1 s single-task at sf0.1; q95 4.76 → 1.60
    // with the fan-out); no-op when the input is already parallel.
    // The BLOCKED path deliberately skips it: its pair kernel runs
    // AFTER the _blk exchange (already parallel), only the cheap
    // norm/bucket projections sit pre-shuffle, and the extra
    // round-robin shuffle measured as a pure regression there
    // (q96 suite medians 0.63 → 1.19 with the unconditional fan-out,
    // back to baseline without it).
    val projected = emb.select(col("vec_id") +: col("embedding") +:
      block.map(_.as("_blk")).toSeq: _*)
    val base = (if (block.isEmpty) graft.sources.Tables.fanOutForKernels(projected)
      else projected)
      .withColumn("nrm", Vectors.norm2(col("embedding")))
    // Each UNORDERED pair is scored once (a < b) and mirrored — the
    // fused dot loop and the norm product are bitwise-commutative, so
    // halving the scored pairs cannot change any sim value. The
    // mirror explode doubles rows only AFTER the expensive kernel.
    val joinCond = block match {
      case Some(_) => col("a._blk") === col("b._blk") && col("a.vec_id") < col("b.vec_id")
      case None => col("a.vec_id") < col("b.vec_id")
    }
    val scored = base.as("a").join(base.as("b"), joinCond)
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        round(graft.plans.GraftFunctions.dot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm")), 6).as("sim"))
    mirrorTopK(scored, k)
  }

  /** Approximate k-NN graph with NO quadratic term in cluster size —
    * the sub-quadratic alternative the exact tier (q95/q96/q142)
    * cannot offer on intrinsically dense corpora, where exact graph
    * cost is Ω(cluster²) by definition (SCALE.md r12: a 646-row hot
    * bucket's densest refined sub-block still holds 343 rows, so no
    * similarity-aware split can cap it).
    *
    * Construction — multi-table sorted LSH sketches (the public
    * sorted-fingerprint principle of Manku/Jain/Das Sarma, WWW'07,
    * §3, applied to sign-bit codes; Charikar STOC'02 for the codes
    * themselves): each of `tables` deterministic bit-permutations
    * re-orders the corpus's `nBits`-bit sign-bit LSH code; sorting by
    * a permuted code places vectors agreeing on a long permuted
    * prefix adjacently, and each vector scores only its `window`
    * sort-successors per table. Near-identical vectors (a dense
    * cluster) disagree on ~1% of sign bits, so in each table a pair
    * lands adjacent unless one of its few differing bits permutes
    * into the high positions — independent permutations drive the
    * all-tables miss probability down geometrically. Candidates are
    * deduplicated before the kernel, so the exact-cosine cost is
    * ≤ tables·n·window scored pairs — linear in n for fixed (T, w) —
    * and every shuffle key (range of (t, code, id); (t, block);
    * pair ids) is narrow integer data.
    *
    * Semantics: per-node top-k by (sim DESC, nbr ASC) over the
    * candidate set, mirrored exactly like [[knnGraph]] — with
    * `window` ≥ n−1 every pair is adjacent in every table and the
    * output EQUALS the exact graph (SimilaritySpec pins this
    * degeneracy, plus the dense-regime recall floor on a replicated
    * corpus). On a corpus with NO neighbor structure (isotropic
    * random vectors — the raw testdata at small SF), exact-edge
    * recall necessarily tracks the scanned fraction T·w/n; measured
    * honestly in SCALE.md r13. The operator's regime is the clustered
    * corpus, where recall is a function of cluster geometry, not n.
    *
    * Determinism: bit permutations and hyperplanes are plan-time
    * integer arithmetic (the [[Vectors.hyperplane]] family), ranks
    * are pure functions of (t, code, vec_id), so an external engine
    * replays the whole construction (q143's DuckDB oracle). */
  def knnGraphSorted(emb: DataFrame, k: Int, dim: Int, nBits: Int = 32,
      tables: Int = 4, window: Int = 16): DataFrame =
    mirrorTopK(scoredSortedSketchPairs(emb, dim, nBits, tables, window), k)

  /** The sorted-sketch candidate core shared by [[knnGraphSorted]] and
    * [[Dedup.embeddingNearDupSorted]]: every unordered pair
    * rank-adjacent (difference ≤ window) in ≥1 permuted-code table,
    * deduplicated, then scored ONCE with exact cosine — (va, vb, sim)
    * with va < vb, ≤ tables·n·window kernel evaluations. */
  private[operators] def scoredSortedSketchPairs(emb: DataFrame, dim: Int,
      nBits: Int, tables: Int, window: Int): DataFrame =
    scoreSketchPairs(emb,
      sortedSketchCandidates(emb, dim, nBits, tables, window))

  /** Exact-cosine scoring of an unordered candidate pair list against
    * the corpus — the shared tail of every sorted-sketch operator
    * (and the reason incremental variants can filter candidates
    * BEFORE the kernel: this is where the per-pair cost lives). */
  private[operators] def scoreSketchPairs(emb: DataFrame,
      cand: DataFrame): DataFrame = {
    // BOTH sides of the scoring join consume this frame, so the
    // pruned (vec_id, embedding) scan + norm kernel execute twice —
    // a DELIBERATE trade, unlike the canon checkpoint: checkpointing
    // here would pin a full corpus-width copy in executor storage per
    // call with no unpersist point (this is a lazy plan-building
    // API), which at scale costs more than the second columnar scan
    // of exactly two columns; the norm is one fused kernel per row.
    val base = emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", Vectors.norm2(col("embedding")))
    cand
      .join(base.as("ea"), col("va") === col("ea.vec_id"))
      .join(base.as("eb"), col("vb") === col("eb.vec_id"))
      .select(col("va"), col("vb"),
        round(graft.plans.GraftFunctions.dot(col("ea.embedding"), col("eb.embedding"))
          / (col("ea.nrm") * col("eb.nrm")), 6).as("sim"))
  }

  /** Unordered (va < vb) candidate pairs rank-adjacent in ≥1 permuted
    * sorted-sketch table, deduplicated, UNSCORED. */
  private[operators] def sortedSketchCandidates(emb: DataFrame, dim: Int,
      nBits: Int, tables: Int, window: Int): DataFrame = {
    graft.plans.GraftFunctions.register(emb.sparkSession)
    // ONE evaluation of the nBits plane-dot kernels per row,
    // materialized narrow (vec_id, canonical code = 16 bytes): every
    // downstream code/rank/pair step is integer arithmetic, and the
    // localCheckpoint is the projection-collapse barrier (r12
    // playbook) keeping the kernel out of the T-way fan-out and the
    // generate's pushed filter. Input fan-out (r21): the checkpoint
    // materializes inside the rank pass's FIRST job, which inherits
    // the scan's split count — a single-row-group input would run the
    // whole plane-dot kernel on one core (no-op at real scale, and no
    // racing consumers below: the rank pipeline is the checkpoint's
    // sole first consumer).
    val canon = graft.sources.Tables.fanOutForKernels(emb)
      .select(col("vec_id"),
        Vectors.lshBucket(col("embedding"), dim, nBits).as("_canon"))
      .localCheckpoint(eager = false)
    candidatesFromCodes(canon, nBits, tables, window)
  }

  /** [[sortedSketchCandidates]] restricted to batch-incident pairs —
    * the canon kernel still runs once per union row (the in-memory
    * incremental form must hash the whole union), but the pair dedup
    * shuffle shrinks to O(batch·tables·window) via
    * [[batchIncidentCandidatesFromCodes]]. */
  private[operators] def batchIncidentSortedCandidates(emb: DataFrame,
      newIds: DataFrame, dim: Int, nBits: Int, tables: Int,
      window: Int): DataFrame = {
    graft.plans.GraftFunctions.register(emb.sparkSession)
    // same input fan-out rationale as [[sortedSketchCandidates]]
    val canon = graft.sources.Tables.fanOutForKernels(emb)
      .select(col("vec_id"),
        Vectors.lshBucket(col("embedding"), dim, nBits).as("_canon"))
      .localCheckpoint(eager = false)
    batchIncidentCandidatesFromCodes(canon, newIds, nBits, tables, window)
  }

  /** The integer half of the sorted-sketch core, from PRECOMPUTED
    * canonical codes — (vec_id, _canon) rows, e.g. read back from a
    * persisted [[writeSketchIndex]] table (the kernel pass already
    * paid at build time). */
  private[operators] def candidatesFromCodes(canon: DataFrame,
      nBits: Int, tables: Int, window: Int): DataFrame =
    // across tables AND orientations: one kernel eval per pair. The
    // dedup shuffle is O(tables·n·window) pairs — correct for the
    // full-corpus operators; incremental callers use the RAW stream
    // and dedup AFTER their batch-incident filter instead, so the
    // only O(corpus) shuffle they pay is the narrow rank pass.
    rawAdjacentPairs(canon, nBits, tables, window).distinct()

  /** [[candidatesFromCodes]] WITHOUT the final dedup: the raw
    * (va, vb) adjacency stream, one row per (table, orientation)
    * match — duplicates possible across tables. The pair fan-out
    * (tables·n·window rows) stays INSIDE whole-stage codegen here
    * (banded broadcast-free equi-join, no shuffle after the rank);
    * callers that filter the stream (batch-incidence) must dedup
    * after filtering. */
  private[operators] def rawAdjacentPairs(canon: DataFrame,
      nBits: Int, tables: Int, window: Int): DataFrame = {
    require(nBits >= 1 && nBits <= 62, "nBits must be in [1, 62]")
    require(tables >= 1 && window >= 1)
    val codes = (0 until tables).map { t =>
      bitOrder(t, nBits).zipWithIndex.map { case (j, r) =>
        shiftright(col("_canon"), j).bitwiseAND(lit(1L)) * lit(1L << (nBits - 1 - r))
      }.reduce(_ + _)
    }
    val stacked = canon.select(col("vec_id"),
      posexplode(array(codes: _*)).as(Seq("t", "code")))
    val ranked = globalRankPerTable(stacked)
    // adjacency pairs (rank difference in [1, window]) as an
    // equi-join: each left row probes its own rank-block and the next
    // one — a banded join on integer keys, never a range nested loop.
    val withBlk = ranked.withColumn("_blk", floor(col("rn") / lit(window.toLong)))
    val probes = withBlk.select(col("t"), col("vec_id"), col("rn"),
      explode(array(col("_blk"), col("_blk") + 1)).as("_pblk"))
    val cand = probes.as("a").join(withBlk.as("b"),
        col("a.t") === col("b.t") && col("a._pblk") === col("b._blk") &&
          col("b.rn") - col("a.rn") >= 1 && col("b.rn") - col("a.rn") <= window &&
          // duplicate-id input rows sort rank-adjacent (identical
          // (code, vec_id) keys) — without this guard they would emit
          // a (x, x) self-pair scored at 1.0
          col("a.vec_id") =!= col("b.vec_id"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("va"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vb"))
    cand
  }

  /** Hard cap on ids the incident-marker broadcast will carry: 1M ids
    * ≈ 8 MB of longs — far inside driver comfort, far outside any
    * sane per-round batch. */
  private val MaxIncidentBatchIds = 1000000

  /** Batch-incident variant of [[sortedSketchCandidates]] /
    * [[candidatesFromCodes]]: adjacency pairs with ≥1 endpoint in
    * `newIds`, deduplicated AFTER the incidence filter — so the
    * O(tables·n·window) pair fan-out never hits a shuffle (it is
    * filtered to O(batch·tables·window) rows inside the same codegen
    * stage as the banded join), and the only corpus-proportional
    * shuffles left in an incremental round are the narrow (16 B/row)
    * rank passes. Incidence = two broadcast marker joins + an OR
    * filter, one pass over the raw stream (the union-of-semi-joins
    * alternative would re-execute the candidate subtree per branch). */
  private[operators] def batchIncidentCandidatesFromCodes(canon: DataFrame,
      newIds: DataFrame, nBits: Int, tables: Int, window: Int): DataFrame = {
    // Explicit batch-size guard BEFORE the unbounded broadcast hints
    // below: without it, a pathological multi-million-id "batch"
    // would likely die of driver memory pressure while BUILDING the
    // broadcast — an opaque OOM, not a diagnostic. The probe is
    // LIMIT-bounded (cap+1), so it stops at the cap even when the
    // mis-routed "batch" is billions of rows — it never scans what
    // it is about to reject. Unconditional BY DESIGN: a plan-stats
    // skip was tried and rejected — the optimizer's sizeInBytes
    // estimate for a distinct-over-projection UNDERSHOOTS on exactly
    // the oversized batches the guard exists for (a 1M+1-id frame
    // estimated under the bound in the pinning spec), and a guard
    // that silently skips its dangerous case is worse than one small
    // scheduled job per round (~0.2 s at toy scale, noise at any
    // real batch size).
    require(newIds.limit(MaxIncidentBatchIds + 1).count() <= MaxIncidentBatchIds,
      s"batch-incident candidates got over $MaxIncidentBatchIds batch " +
        "ids (the cap): a batch this size is a bulk build mis-routed " +
        "through the per-round API — run embeddingNearDupSorted over " +
        "the union instead")
    rawAdjacentPairs(canon, nBits, tables, window)
      // broadcast FORCED, not left to AQE: the raw stream's
      // plan-time size statistic is unknown, so without the hint a
      // non-adaptive session would sort-merge — shuffling the whole
      // O(n·T·w) fan-out TWICE, worse than the pre-filter distinct
      // this path exists to avoid. The hint is deliberately UNBOUNDED
      // by autoBroadcastJoinThreshold — degrading to the double
      // shuffle of the fan-out would be a silent quadratic-cost
      // cliff — and the limit-bounded guard above is what keeps
      // "unbounded" honest (the contract violation fails with its own
      // error, not a driver OOM mid-broadcast-build).
      .join(broadcast(newIds.select(col("vec_id").as("va"), lit(true).as("_an"))),
        Seq("va"), "left")
      .join(broadcast(newIds.select(col("vec_id").as("vb"), lit(true).as("_bn"))),
        Seq("vb"), "left")
      .filter(col("_an").isNotNull || col("_bn").isNotNull)
      .select(col("va"), col("vb"))
      .distinct()
  }

  /** Bit order of sorted-sketch table `t` (plan-time constants; the
    * oracle SQL bakes the emitted sequence, so the only contract is
    * determinism).
    *
    * TWO families by design (r16). Tables 0–7 keep the original
    * multiplicative-hash ranking — measured fact about it: sorting an
    * ARITHMETIC PROGRESSION mod p yields (three-distance theorem) a
    * small set of cyclic orders, so all eight are ROTATIONS of one
    * cyclic sequence, and tables 8+ under the same formula are exact
    * DUPLICATES of earlier ones (t=8≡3, 9≡1, 10≡2, …) — "raise T"
    * silently ceilinged at eight tables, extra tables paying full
    * kernel/rank/join cost for zero new candidates. The rotations are
    * kept for t<8 both for hash stability (every gated sorted-sketch
    * query runs T=4) and because they MEASURE BETTER at small T than
    * random permutations (each rotation leads with a disjoint span of
    * the bit cycle — structured prefix coverage; numpy A/B at 10%
    * flips: T=8/w=32 rotations 0.973 vs avalanche 0.931). Tables 8+
    * rank by a splitmix64-style avalanche of (t·64+j): 16/16 distinct
    * non-rotation permutations, extending recall past the rotation
    * ceiling (hybrid T=12/w=32 at 14% flips: 0.976 vs the T=8 0.957;
    * SCALE.md r16, "The 10–15% flip band measured"). Unsigned
    * comparison via the sign-bit flip. */
  private[graft] def bitOrder(t: Int, nBits: Int): Seq[Int] =
    if (t < 8)
      (0 until nBits).sortBy(j => (((t * 64L + j) * 2654435761L) % 1000003L, j.toLong))
    else {
      def mix(x0: Long): Long = {
        val x = x0 + 0x9E3779B97F4A7C15L
        var z = x
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        z
      }
      (0 until nBits).sortBy(j => (mix(t * 64L + j) ^ Long.MinValue, j.toLong))
    }

  /** Measured per-bit sign-flip rate between two embedding VERSIONS
    * of the same items — the input the sorted-sketch production
    * sizing rule needs (SCALE.md mid-noise sweep, "raise T, not w").
    * `oldVecs`/`newVecs` carry (vec_id, embedding) with vec_id
    * identifying the ITEM (a re-crawled doc, a re-embedded chunk);
    * only ids present on BOTH sides contribute — in a crawl round,
    * feed it the batch's re-embedded docs joined to the index's prior
    * vectors for the same ids. The rate is the mean Hamming fraction
    * between the versions' canonical nBits hyperplane codes — exactly
    * the bits whose flips scatter a pair across the sketch sort
    * order, so it IS the regime parameter the recall sweep measured
    * (0.069 on the ±0.05-jitter sweep corpus, SCALE.md "Mid-noise
    * recall sweep"; its headline rate went through this method).
    * Cost: one plane-dot kernel pass per side over the paired ids +
    * one narrow join; run it on a sample — a few thousand pairs pin
    * the rate to well under a point. */
  def estimateFlipRate(oldVecs: DataFrame, newVecs: DataFrame,
      dim: Int = 64, nBits: Int = 32): Double = {
    graft.plans.GraftFunctions.register(oldVecs.sparkSession)
    // dim mismatch must be LOUD: the plane-dot kernel returns null on
    // a width mismatch, lshBucket maps null dots to all-zero codes,
    // and two all-zero sides XOR to a flip rate of 0.0 — silently
    // UNDERSIZING the sketch, the exact failure this API exists to
    // prevent. One sampled row per side is enough (the guard is
    // against a wrong dim PARAMETER, not ragged rows).
    for (side <- Seq(oldVecs, newVecs);
         r <- side.select(size(col("embedding"))).take(1))
      require(r.getInt(0) == dim,
        s"estimateFlipRate called with dim=$dim on ${r.getInt(0)}-wide " +
          "embeddings — pass the real width or every code degenerates to 0")
    def codes(df: DataFrame, c: String) = df.select(col("vec_id"),
      Vectors.lshBucket(col("embedding"), dim, nBits).as(c))
    val row = codes(oldVecs, "c0").join(codes(newVecs, "c1"), "vec_id")
      .agg(avg(bit_count(col("c0").bitwiseXOR(col("c1")))).as("h"),
        count(lit(1)).as("n")).head()
    require(row.getLong(1) > 0,
      "estimateFlipRate needs at least one vec_id present in BOTH versions")
    row.getDouble(0) / nBits
  }

  /** A sorted-sketch size: `tables` independent bit permutations,
    * `window` adjacent ranks per table (candidates/node ≈ 2·T·w). */
  final case class SketchSizing(tables: Int, window: Int)

  /** [[recommendSketch]]'s bands as a TOTAL label function — the ≥15%
    * arm names the IVF handoff instead of erroring, because the drift
    * MONITOR must keep reporting in exactly the regime where
    * recommendSketch refuses to size. Band edges are the measured
    * sweep boundaries (SCALE.md r14 + r16), shared with the lookup. */
  private[graft] def sizingBand(flipRate: Double): String =
    if (flipRate < 0.03) "T4/w16"
    else if (flipRate < 0.10) "T8/w32"
    else if (flipRate < 0.15) "T12/w32"
    else "ivf"

  /** Below this many overlapping ids a batch's measured rate is too
    * noisy to re-band on (±1 flipped code among 8 pairs moves the
    * rate by ~half a band) — the prior drift state carries instead. */
  private[graft] val DriftMinPairs = 16L

  /** The production sizing rule as a lookup, pinned to the measured
    * noise sweeps (SCALE.md r14 + the r16 handoff bracketing): below
    * ~3% per-bit flips the default T=4/w=16 stands (0.989 recall at
    * the 1.3%-flip regime); through the mid-noise regime raise TABLES
    * first — distinct permutations compound recall as 1−(1−p)^T,
    * while a wider window only helps when flips leave a pair within
    * 2w ranks of the SAME permutation, a chance that decays once
    * codes scatter (measured at 6.9% flips: T=8/w=16 0.872 beats
    * T=4/w=32 0.864 at EQUAL candidate volume; T=8/w=32 reads 0.936)
    * → T=8/w=32 to 10%. The 10–15% band was MEASURED in r16 (it
    * previously rode on one sweep's extrapolation): T=8/w=32 decays
    * to 0.886/0.852 at 10.0%/13.0% flips, while T=12/w=32 — possible
    * only after the bitOrder hybrid ended the 8-table rotation
    * ceiling — holds 0.931/0.905 at 1.5× the candidate volume →
    * T=12/w=32 through the band. At the ≥15% edge the REGIME itself
    * degenerates (the 15.2%-flip sweep corpus retains 192 of the
    * mid-noise 7,500 ground-truth pairs — duplication this noisy is
    * mostly no longer duplication); the require names the IVF tier
    * instead of returning a sizing that would silently miss. */
  def recommendSketch(flipRate: Double): SketchSizing = {
    require(flipRate >= 0.0 && flipRate <= 1.0,
      s"flipRate is a fraction of bits, got $flipRate")
    // band edges live ONLY in sizingBand — the drift monitor and the
    // sizing lookup must never disagree about where a boundary sits
    // (a re-measured sweep edits one definition, not two)
    sizingBand(flipRate) match {
      case "T4/w16" => SketchSizing(4, 16)
      case "T8/w32" => SketchSizing(8, 32)
      case "T12/w32" => SketchSizing(12, 32)
      case _ => throw new IllegalArgumentException(
        f"at ${flipRate}%.3f per-bit flips sign-sketch adjacency " +
          "degrades toward the isotropic floor — use the IVF ANN tier " +
          "(buildIvfIndex + ivfSearchIndexed) for candidates instead")
    }
  }

  /** Deterministic 1-based global rank of each (t, code, vec_id) row
    * within its table `t` by (code, vec_id) — the scalable
    * zipWithIndex: range-partition on the full sort key, rank within
    * each partition, add the row count of earlier partitions of the
    * same table (one tiny aggregation + broadcast join). Never a
    * single-partition global window. The rank is a pure function of
    * the (code, vec_id) ordering no matter where the sampled range
    * boundaries fall, but both consumers (the per-partition counts
    * and the rank projection) must observe the SAME physical
    * partitioning — hence the localCheckpoint freezing it. */
  private def globalRankPerTable(stacked: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parted = stacked
      .repartitionByRange(col("t"), col("code"), col("vec_id"))
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(eager = false)
    val counts = parted.groupBy(col("_pid"), col("t")).agg(count(lit(1)).as("_n"))
    val offW = Window.partitionBy(col("t")).orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = counts
      .withColumn("_off", coalesce(sum(col("_n")).over(offW), lit(0L)))
      .select(col("_pid"), col("t"), col("_off"))
    val rankW = Window.partitionBy(col("_pid"), col("t"))
      .orderBy(col("code"), col("vec_id"))
    parted.join(broadcast(offs), Seq("_pid", "t"))
      .withColumn("rn", row_number().over(rankW).cast("long") + col("_off"))
      .select(col("t"), col("vec_id"), col("rn"))
  }

  // ---- persisted sorted-sketch index --------------------------------
  // One member table `sketch` (vec_id, canon, embedding), hash-
  // bucketed by vec_id for O(touched) mutations — the LSH index's
  // partial-commit layout on a single table. The canonical code is a
  // pure function of the embedding under the stored (dim, nBits), so
  // it is computed ONCE at write/upsert and serves ANY
  // (tables, window) at query time; per-round detection pays the
  // plane-dot kernel only on the batch
  // ([[Dedup.embeddingNearDupIndexed]]).

  private def sketchRows(emb: DataFrame, dim: Int, nBits: Int,
      nBuckets: Int): DataFrame =
    emb.select(col("vec_id"),
        graft.functions.Vectors.lshBucket(col("embedding"), dim, nBits).as("canon"),
        col("embedding"))
      .withColumn("idx_bucket", VersionedIndex.bucketCol(col("vec_id"), nBuckets))

  private def commitSketchVersion(spark: org.apache.spark.sql.SparkSession,
      path: String, sketch: DataFrame, dim: Int, nBits: Int, idxBuckets: Int,
      carry: Map[String, Map[String, Int]] = Map.empty,
      extraParams: Map[String, String] = Map.empty): Unit =
    VersionedIndex.commit(spark, path, Seq("sketch" -> sketch),
      Map("dim" -> dim.toString, "nBits" -> nBits.toString,
        "idxBuckets" -> idxBuckets.toString) ++ extraParams,
      partitionBy = Map("sketch" -> Seq("idx_bucket")),
      carry = carry)

  /** Manifest-resolved read of the sketch member table, without the
    * internal `idx_bucket` partition column. A committed-but-EMPTIED
    * index reads as zero typed rows, never an error — the
    * VersionedIndex commit stages an emptied partitioned table as an
    * empty unpartitioned one precisely so every reader and every
    * later mutation keeps working (full takedown → re-ingest). */
  def readSketchTable(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    VersionedIndex.readTable(spark, path, "sketch")
      .select(col("vec_id"), col("canon"), col("embedding"))

  /** Persist the sketch index: the corpus's canonical codes + vectors,
    * so per-round near-dup detection pays O(batch) kernels — the
    * corpus is never re-hashed. */
  def writeSketchIndex(emb: DataFrame, path: String, dim: Int,
      nBits: Int = 32, idxBuckets: Int = 64): Unit = {
    require(nBits >= 1 && nBits <= 62)
    graft.plans.GraftFunctions.register(emb.sparkSession)
    VersionedIndex.requireUniqueIds(emb, "vec_id", "writeSketchIndex")
    commitSketchVersion(emb.sparkSession, path,
      sketchRows(emb, dim, nBits, idxBuckets), dim, nBits, idxBuckets)
  }

  /** Per-batch embedding-regime drift (r17, the sizing loop closed
    * operationally): when an upsert RE-EMBEDS ids the index already
    * holds, the per-bit sign-flip rate between the index's prior
    * codes and the batch's fresh codes for those ids is ONE narrow
    * join away — both sides' canonical codes already exist (the index
    * stores `canon`; the upsert computes the batch's), so the probe
    * is one overlap join + one aggregation with NO extra kernel pass.
    * The rate is [[estimateFlipRate]]'s definition on the stored
    * codes, mapped to [[sizingBand]]; a band CHANGE against the
    * previously persisted band is the regime-drift event the
    * reference's anomaly alerting applies to index health (detection
    * quietly degrading because the embedding regime moved is a
    * silent-wrong-answer class) — logged loudly and recorded as
    * `driftBoundary` ("T8/w32->T12/w32"), carried until the next
    * crossing replaces it. Returns the `drift*` params to persist:
    * the measured state, or the carried prior when the batch has too
    * few overlapping ids to re-band on OR the overlap is
    * code-identical (zero regime evidence — see the carry note in
    * the body; this is also what makes a crash-replay of an
    * already-committed upsert params-idempotent). */
  private def measureSketchDrift(prior: DataFrame, fresh: DataFrame,
      nBits: Int, params: Map[String, String],
      path: String): Map[String, String] = {
    // The FULL overlap is measured — no sampling: the probe join has
    // the same O(touched ⋈ batch) shape as the commit's own
    // anti-join, its columns are two longs, and the aggregation over
    // the joined rows is free relative to the reads — while a
    // batch-proportional sample would silently STARVE the
    // measurement on mixed bulk ingest (200k new ids + 2k re-embeds
    // would sample ~10 overlap pairs, under the noise floor, forever
    // carrying stale drift). The reading is a pure function of
    // (batch, index state).
    val r = prior.select(col("vec_id"), col("canon").as("_c0"))
      .join(fresh.select(col("vec_id"), col("canon").as("_c1")), "vec_id")
      .agg(count(lit(1)).as("n"),
        sum(bit_count(col("_c0").bitwiseXOR(col("_c1")))).as("flips"))
      .head()
    val n = r.getLong(0)
    // min-evidence and ZERO-EVIDENCE (code-identical overlap) both
    // carry — the shared [[VersionedIndex.Drift]] contract: a carry
    // keeps the last real reading AND makes the persisted state
    // idempotent under crash-replay of a committed upsert (the
    // replay measures the batch against its own rows).
    if (n < DriftMinPairs || r.getLong(1) == 0L)
      VersionedIndex.Drift.carried(params)
    else {
      val rate = r.getLong(1).toDouble / (n * nBits)
      val band = sizingBand(rate)
      val log = org.slf4j.LoggerFactory.getLogger(getClass)
      if (band == "ivf") log.warn(
        f"sketch index $path: batch flip rate $rate%.4f is past the " +
          "15%% sign-sketch cliff — adjacency degrades toward the " +
          "isotropic floor; use the IVF ANN tier (buildIvfIndex + " +
          "ivfSearchIndexed) for candidate generation in this regime")
      VersionedIndex.Drift.record(params, "driftBand", band,
        // Double.toString — Drift.record's locale contract
        Map("driftFlipRate" -> rate.toString, "driftPairs" -> n.toString),
        c => log.warn(
          f"sketch index $path: embedding-regime drift crossed a sizing " +
            f"boundary — batch flip rate $rate%.4f over $n%d re-embedded " +
            f"ids moved the recommendSketch band $c; re-size detection " +
            "queries accordingly (SCALE.md sizing table)"))
    }
  }

  /** UPSERT a batch: batch rows REPLACE previously-indexed versions of
    * the same vec_ids, new ids append — O(touched buckets) through the
    * shared bucket rewrite ([[VersionedIndex.bucketRewrite]]), exactly
    * the LSH index's move. Survives the committed-but-emptied state
    * (full takedown → re-ingest rewrites over the empty read). An
    * empty batch commits nothing: a streaming ingest sink receiving
    * empty micro-batches must not grow the version chain. Every upsert
    * also measures the batch's embedding-regime drift against the
    * prior codes of its re-embedded ids ([[measureSketchDrift]]) and
    * persists it in the version params — `Index.stats`/
    * [[sketchIndexStats]] surface it, and a sizing-band crossing logs
    * loudly. Probe cost: one narrow overlap join over the (cached)
    * prior rows the commit reads anyway, plus one re-execution of the
    * batch-sized code kernel. */
  def upsertSketchIndex(newVecs: DataFrame, path: String): Unit = {
    val spark = newVecs.sparkSession
    graft.plans.GraftFunctions.register(spark)
    val params = VersionedIndex.current(spark, path)
    val (dim, nBits) = (params("dim").toInt, params("nBits").toInt)
    val nBuckets = params("idxBuckets").toInt
    VersionedIndex.requireUniqueIds(newVecs, "vec_id", "upsertSketchIndex")
    val newIds = newVecs.select(col("vec_id")).distinct()
    VersionedIndex.bucketRewrite(spark, path, nBuckets,
        Seq(Seq("sketch") -> newIds)).foreach { rw =>
      // the prior rows have TWO consumers — the drift probe and the
      // commit's anti-join — so they are cached across the two jobs
      // instead of scanning them twice per trigger on the streaming
      // hot path; every re-embedded id hashes into a touched bucket,
      // so the probe reads only what the rewrite reads anyway
      Pins { p =>
        val prior = p.cache(rw.prior("sketch"))
        val fresh = sketchRows(newVecs, dim, nBits, nBuckets)
        commitSketchVersion(spark, path,
          prior.join(newIds, Seq("vec_id"), "left_anti").unionByName(fresh),
          dim, nBits, nBuckets, rw.carry,
          measureSketchDrift(prior, fresh, nBits, params, path))
      }
    }
  }

  /** DELETE vec_ids (takedown): O(touched buckets) through the shared
    * bucket rewrite; params carry forward unchanged. Deleting only
    * absent ids — from an emptied index included — commits nothing,
    * never an error. */
  def deleteFromSketchIndex(deleteIds: DataFrame, path: String): Unit = {
    val spark = deleteIds.sparkSession
    val params = VersionedIndex.current(spark, path)
    val ids = deleteIds.select(col("vec_id")).distinct()
    VersionedIndex.bucketRewrite(spark, path, params("idxBuckets").toInt,
        Seq(Seq("sketch") -> ids)).foreach { rw =>
      val prior = rw.prior("sketch")
      // deleting only ABSENT ids commits NOTHING (no new version) — the
      // replay/no-op contract the streaming takedown sink documents; the
      // presence probe is one bounded semi-join over the rows the
      // rewrite reads anyway (the IVF delete's discovery move)
      if (!prior.join(ids, Seq("vec_id"), "left_semi").isEmpty)
        commitSketchVersion(spark, path, prior.join(ids, Seq("vec_id"), "left_anti"),
          params("dim").toInt, params("nBits").toInt, params("idxBuckets").toInt,
          rw.carry,
          // a takedown measures no drift; the last regime reading carries
          VersionedIndex.Drift.carried(params))
    }
  }

  /** Operational health of a persisted sketch index — the vector-tier
    * parity of [[Dedup.lshIndexStats]], answering the three questions
    * that index's stats answered for the r12 capped-kNN decision:
    *
    *  - **vec_id-hash bucket skew**: `maxBucket`/`medianBucket`/`skew`
    *    over the `idx_bucket` occupancy. Unlike LSH band buckets
    *    (content-driven, legitimately skewed by boilerplate), these
    *    buckets are `xxhash64(vec_id) % idxBuckets` — skew here means
    *    a pathological id population (e.g. mass-upserts of sequential
    *    synthetic ids colliding) and directly multiplies the
    *    O(touched-bucket) mutation cost on the hot buckets.
    *  - **per-commit carry depth**: `carryDepth` = current version −
    *    oldest version still referenced by the manifest (0 = fully
    *    self-owned, e.g. a fresh build or post-full-rewrite), and
    *    `carriedParts` = manifest entries owned by older versions.
    *    Deep chains mean many small partial commits since the last
    *    full rewrite — each version dir must survive until
    *    unreferenced, so depth bounds both sweep debt and the
    *    worst-case read fan-out (one parquet leg per referenced
    *    version in [[VersionedIndex.readTable]]).
    *  - **emptied state**: `emptied` is the committed-but-emptied
    *    recovery form (a full takedown re-staged as an empty
    *    unpartitioned table) — readable, mutable, but serving zero
    *    vectors; a monitoring loop should treat it as "index
    *    intentionally empty", not "index missing".
    *
    * One bounded aggregation over the narrow (idx_bucket) projection —
    * column pruning keeps the embedding bytes unread. */
  final case class SketchStats(nVecs: Long, nOccupiedBuckets: Long,
      idxBuckets: Int, maxBucket: Long, medianBucket: Long, skew: Double,
      carryDepth: Int, carriedParts: Int, emptied: Boolean,
      // the r17 regime-drift loop: last measured re-embed flip rate,
      // its recommendSketch band, and the last band CROSSING (e.g.
      // "T8/w32->T12/w32") — None until an upsert has measured one
      driftFlipRate: Option[Double] = None,
      driftBand: Option[String] = None,
      driftBoundary: Option[String] = None)

  def sketchIndexStats(spark: org.apache.spark.sql.SparkSession,
      path: String): SketchStats = {
    val params = VersionedIndex.current(spark, path)
    val idxBuckets = params("idxBuckets").toInt
    val (dRate, dBand, dCross) = (params.get("driftFlipRate").map(_.toDouble),
      params.get("driftBand"), params.get("driftBoundary"))
    val (carryDepth, carriedParts) = VersionedIndex.carryOf(spark, path, Seq("sketch"))
    val sizes = VersionedIndex.readTable(spark, path, "sketch")
      .groupBy(col("idx_bucket")).agg(count(lit(1)).as("n"))
    // exact median would be a sort over ≤idxBuckets narrow rows; the
    // approx form keeps the stat one cheap pass at any index size
    // (the lshIndexStats trade, verbatim)
    val r = sizes.agg(count(lit(1)), max(col("n")),
      percentile_approx(col("n"), lit(0.5), lit(1000)).cast("long"),
      sum(col("n"))).head()
    if (r.getLong(0) == 0L)
      SketchStats(0L, 0L, idxBuckets, 0L, 0L, 1.0,
        carryDepth, carriedParts, emptied = true,
        driftFlipRate = dRate, driftBand = dBand, driftBoundary = dCross)
    else {
      val med = math.max(r.getLong(2), 1L)
      SketchStats(nVecs = r.getLong(3), nOccupiedBuckets = r.getLong(0),
        idxBuckets = idxBuckets, maxBucket = r.getLong(1),
        medianBucket = r.getLong(2), skew = r.getLong(1).toDouble / med,
        carryDepth = carryDepth, carriedParts = carriedParts, emptied = false,
        driftFlipRate = dRate, driftBand = dBand, driftBoundary = dCross)
    }
  }
}
