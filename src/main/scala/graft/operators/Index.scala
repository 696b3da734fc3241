package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, percentile_approx}

/** Unified open/dispatch for the persisted [[VersionedIndex]]
  * layouts — the user-facing entry point a serving layer actually
  * calls. `Index.open(spark, path)` inspects the committed manifest
  * (member tables + params) ONCE and returns a handle of the right
  * kind with the right search/mutate functions bound, with any
  * driver-side index state (the PQ codebook, nLists) preloaded — so
  * per-query work starts at the single bounded plan job, never a
  * re-dispatch or a codebook re-read (the `ivfPqSearchIndexed` job
  * ladder measured in SimilaritySpec).
  *
  * Kinds, by manifest evidence:
  *  - `pq` member table →
  *    [[Index.IvfPq]] — ADC serving, batch serving, mutations, drift
  *    stats, codebook-retraining rebuild;
  *  - `lists` member table → [[Index.Ivf]] — exact-cosine probe
  *    serving, mutations, drift stats, re-centering rebuild;
  *  - `shingles`/`bands` member tables → [[Index.Lsh]] — incremental
  *    near-dup pairs against the corpus, upsert, takedown;
  *  - `sketch` member table → [[Index.Sketch]] — per-round embedding
  *    near-dup pairs against the corpus, upsert, takedown.
  * Opening reads only the manifest, params and — for IVF-PQ — the
  * bounded driver-side serving state it pins: the ≤ m·kPq codebook
  * rows, the ≤ nLists centroid-geometry rows and the ≤ nLists
  * list-size histogram (the ratio-derived shortlist default). It
  * never reads VECTOR data. An index in another on-disk format is
  * refused ([[VersionedIndex.current]]).
  */
object Index {

  sealed trait Opened {
    def path: String
    def kind: String
  }

  /** Geometry preload shared by both IVF handle kinds: ≤ nLists
    * centroid rows collected once, served back as a LocalRelation so
    * searches skip the per-call manifest resolution + parquet read. */
  private def loadCentroids(spark: SparkSession, path: String): DataFrame = {
    val src = Similarity.readIvfCentroids(spark, path)
    val rows = src.collect() // ≤ nLists rows, loud cap
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), src.schema)
  }

  /** Persisted IVF-PQ index handle: the codebook is read once at open
    * and every search reuses it (1 driver job per single query, one
    * plan for a whole query batch). [[rebuild]] RETRAINS the
    * persisted codebook, so it also refreshes this handle's preloaded
    * copy in place — a post-rebuild search through a stale copy would
    * score the new code table against the old codewords, every code
    * still in range, silently wrong (no guard can catch it).
    *
    * The default `shortlist` is DERIVED from the corpus
    * ([[Similarity.autoShortlist]]): the measured recall curve tracks
    * the shortlist/candidate-set RATIO, so an absolute default that
    * was tuned at build scale silently loses recall as the index
    * grows 100×. The handle reads the corpus size from the maintained
    * `list_sizes` histogram at open (≤ nLists rows) and refreshes it
    * on every mutation through this handle; pass an explicit
    * `shortlist` to override. */
  final class IvfPq private[Index] (spark: SparkSession, val path: String,
      initialCodebook: Quantization.PqCodebook, val nLists: Int,
      initialNVectors: Long) extends Opened {
    val kind = "ivf-pq"
    @volatile private var cb: Quantization.PqCodebook = initialCodebook
    @volatile private var nVec: Long = initialNVectors
    // the list GEOMETRY preloaded like the codebook: pinned at open
    // (SCALE.md "ANN / similarity", round 12: the probe stage is the
    // serving-latency floor, and the per-call centroids read is most
    // of it). Geometry
    // is pinned across upsert/delete; rebuild() through THIS handle
    // refreshes it — a rebuild by ANOTHER writer requires re-opening,
    // exactly the codebook's documented coherence contract.
    @volatile private var cents: DataFrame = Index.loadCentroids(spark, path)
    private[graft] def centroidsFrame: DataFrame = cents
    def codebook: Quantization.PqCodebook = cb
    /** Indexed corpus size as of open / the last mutation or rebuild
      * through THIS handle (mutations by other writers are seen at
      * their next open). */
    def nVectors: Long = nVec
    private def resolve(shortlist: Int, nProbe: Int, k: Int): Int =
      if (shortlist == Similarity.AutoShortlist)
        Similarity.autoShortlist(nVec, nLists, nProbe, k)
      else shortlist
    private def refreshSize(): Unit =
      nVec = Similarity.ivfListSizes(spark, path).values.sum
    def search(queryId: Long, k: Int, nProbe: Int = 4,
        shortlist: Int = Similarity.AutoShortlist): DataFrame =
      Similarity.ivfPqSearchIndexed(spark, path, nProbe, queryId, k,
        resolve(shortlist, nProbe, k), Some(cb), Some(cents))
    def searchBatch(queries: DataFrame, k: Int, nProbe: Int = 4,
        shortlist: Int = Similarity.AutoShortlist): DataFrame =
      Similarity.ivfPqSearchIndexedBatch(spark, path, nProbe, queries, k,
        resolve(shortlist, nProbe, k), Some(cb), Some(cents))
    /** Query by an ARBITRARY embedding (need not be indexed) — what a
      * serving layer actually receives (a fresh text/image embedding).
      * Rides the batch plan with a sentinel query_id (−1, impossible
      * for corpus vec_ids, so nothing is self-excluded). */
    def searchVector(embedding: Seq[Float], k: Int, nProbe: Int = 4,
        shortlist: Int = Similarity.AutoShortlist): DataFrame = {
      import spark.implicits._
      val q = Seq((-1L, embedding)).toDF("query_id", "embedding")
      Similarity.ivfPqSearchIndexedBatch(spark, path, nProbe, q, k,
          resolve(shortlist, nProbe, k), Some(codebook), Some(cents))
        .select(col("vec_id"), col("label"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
    }
    def upsert(vectors: DataFrame): Unit = {
      Similarity.upsertIvfIndex(vectors, path); refreshSize()
    }
    def delete(ids: DataFrame): Unit = {
      Similarity.deleteFromIvfIndex(ids, path); refreshSize()
    }
    def stats(skewThreshold: Double = Similarity.DefaultIvfSkewThreshold): Similarity.IvfStats =
      Similarity.ivfIndexStats(spark, path, skewThreshold)
    /** Codebook-staleness signal (quantization-error EWMA vs build). */
    def codebookStats(retrainRatio: Double = 1.5): Similarity.PqDriftStats =
      Similarity.pqCodebookStats(spark, path, retrainRatio)
    /** Centroid-staleness signal (geometry-fit EWMA vs build) — the
      * same axis exists under the PQ layer: codewords can fit while
      * the pinned LIST geometry no longer balances recall. */
    def centroidStats(staleExcess: Double = Similarity.DefaultIvfStaleExcess): Similarity.IvfCentroidStats =
      Similarity.ivfCentroidStats(spark, path, staleExcess)
    /** Re-centers lists AND retrains the codebook (the drift policy);
      * refreshes this handle's preloaded codebook so subsequent
      * searches score against the retrained geometry. */
    def rebuild(): Unit = {
      Similarity.rebuildIvfIndex(spark, path)
      cb = Similarity.readPqCodebook(spark, path)
      cents = Index.loadCentroids(spark, path) // re-centering moved the geometry
      refreshSize()
    }
  }

  /** Persisted plain-IVF index handle (exact cosine within probed
    * lists). Preloads the centroid geometry exactly like [[IvfPq]] —
    * the probe stage is the serving-latency floor, and the per-call
    * centroids read is most of it. Same coherence contract: pinned at
    * open, refreshed by rebuild() through THIS handle; a rebuild by
    * another writer requires re-opening. */
  final class Ivf private[Index] (spark: SparkSession, val path: String,
      val nLists: Int) extends Opened {
    val kind = "ivf"
    @volatile private var cents: DataFrame = Index.loadCentroids(spark, path)
    def search(queryId: Long, k: Int, nProbe: Int = 4): DataFrame =
      Similarity.ivfSearchIndexed(spark, path, nProbe, queryId, k, Some(cents))
    def searchBatch(queries: DataFrame, k: Int, nProbe: Int = 4): DataFrame =
      Similarity.ivfSearchIndexedBatch(spark, path, nProbe, queries, k,
        Some(cents))
    /** Query by an arbitrary (un-indexed) embedding — see
      * [[IvfPq.searchVector]]. */
    def searchVector(embedding: Seq[Float], k: Int,
        nProbe: Int = 4): DataFrame = {
      import spark.implicits._
      val q = Seq((-1L, embedding)).toDF("query_id", "embedding")
      Similarity.ivfSearchIndexedBatch(spark, path, nProbe, q, k, Some(cents))
        .select(col("vec_id"), col("label"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
    }
    def upsert(vectors: DataFrame): Unit = Similarity.upsertIvfIndex(vectors, path)
    def delete(ids: DataFrame): Unit = Similarity.deleteFromIvfIndex(ids, path)
    def stats(skewThreshold: Double = Similarity.DefaultIvfSkewThreshold): Similarity.IvfStats =
      Similarity.ivfIndexStats(spark, path, skewThreshold)
    /** Centroid-staleness signal (geometry-fit EWMA vs build) — the
      * drift WITHIN lists that the skew histogram cannot see. */
    def centroidStats(staleExcess: Double = Similarity.DefaultIvfStaleExcess): Similarity.IvfCentroidStats =
      Similarity.ivfCentroidStats(spark, path, staleExcess)
    def rebuild(): Unit = {
      Similarity.rebuildIvfIndex(spark, path)
      cents = Index.loadCentroids(spark, path) // re-centering moved the geometry
    }
  }

  /** Persisted text-LSH near-dup index handle. Banding/shingling
    * parameters come from the index's own params — callers never
    * re-supply (or mis-supply) them. */
  final class Lsh private[Index] (spark: SparkSession, val path: String,
      n: Int, numHashes: Int, bands: Int) extends Opened {
    val kind = "lsh"
    /** Verified near-dup pairs of `newDocs` vs the indexed corpus +
      * within the batch — O(batch) per round. */
    def pairs(newDocs: DataFrame, id: Column, text: Column,
        threshold: Double = 0.8): DataFrame =
      Dedup.incrementalLshPairsIndexed(newDocs, id, text, path,
        n, numHashes, bands, threshold)
    def upsert(newDocs: DataFrame, id: Column, text: Column): Unit =
      Dedup.upsertLshIndex(newDocs, id, text, path, n, numHashes, bands)
    def delete(ids: DataFrame): Unit = Dedup.deleteFromLshIndex(ids, path)
    /** Band-bucket health — `pairVolume` is the next full banded
      * join's exact match volume (the Σ bucket² cost driver; an upper
      * bound on distinct candidates, which dedup to the first shared
      * band); hot buckets are boilerplate concentrations. */
    def stats(hotThreshold: Long = 64): Dedup.LshStats =
      Dedup.lshIndexStats(spark, path, hotThreshold)
  }

  /** Build-side counterparts of [[open]] — one front door for index
    * CREATION too, so a user never hunts across operators for the
    * three builders. Each commits the full VersionedIndex layout and
    * returns the opened handle, ready to serve. */
  def buildIvf(embeddings: DataFrame, nLists: Int, path: String): Ivf = {
    Similarity.buildIvfIndex(embeddings, nLists, path)
    open(embeddings.sparkSession, path).asInstanceOf[Ivf]
  }

  def buildIvfPq(embeddings: DataFrame, nLists: Int, path: String,
      pqM: Int = 16, pqK: Int = 16, trainRounds: Int = 2): IvfPq = {
    Similarity.buildIvfPqIndex(embeddings, nLists, path, pqM = pqM,
      pqK = pqK, trainRounds = trainRounds)
    open(embeddings.sparkSession, path).asInstanceOf[IvfPq]
  }

  def buildLsh(docs: DataFrame, id: Column, text: Column, path: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16): Lsh = {
    Dedup.writeLshIndex(docs, id, text, path, n, numHashes, bands)
    open(docs.sparkSession, path).asInstanceOf[Lsh]
  }

  /** THE manifest → kind resolver behind [[open]] and [[stats]]:
    * `ivf-pq`, `ivf`, `lsh`, `sketch`, or `ccstate` (the dup-cluster
    * state layout); anything else is an unrecognized layout, reported
    * with its member tables. */
  private def kindOf(path: String, mf: Map[String, Map[String, Int]]): String =
    Seq("pq" -> "ivf-pq", "lists" -> "ivf", "shingles" -> "lsh",
      "sketch" -> "sketch", "clusters" -> "ccstate")
      .collectFirst { case (t, k) if mf.contains(t) => k }
      .getOrElse(sys.error(s"unrecognized index layout at $path: " +
        s"tables=${mf.keys.toSeq.sorted.mkString(",")}"))

  /** Open whatever index lives at `path`; throws naming the layout if
    * nothing servable is committed there. */
  def open(spark: SparkSession, path: String): Opened = {
    val params = VersionedIndex.current(spark, path)
    def p(key: String): Int = params.getOrElse(key,
      sys.error(s"index at $path missing $key")).toInt
    kindOf(path, VersionedIndex.manifest(spark, path)) match {
      case "ivf-pq" =>
        new IvfPq(spark, path, Similarity.readPqCodebook(spark, path), p("nLists"),
          // corpus size from the maintained histogram (≤ nLists rows) —
          // feeds the ratio-derived shortlist default
          Similarity.ivfListSizes(spark, path).values.sum)
      case "ivf" => new Ivf(spark, path, p("nLists"))
      case "lsh" => new Lsh(spark, path, p("n"), p("numHashes"), p("bands"))
      case "sketch" => new Sketch(spark, path, p("dim"), p("nBits"))
      case k => sys.error(s"index at $path is a $k layout, which open does not " +
        "serve: read it through Dedup.readClusterState")
    }
  }

  /** Persisted sorted-sketch embedding near-dup index handle —
    * the vector tier's [[Lsh]]: per-round pair detection pays
    * plane-dot kernels only on the batch; (dim, nBits) come from the
    * index's own params, while (tables, window) stay query-time knobs
    * (the canonical code serves any permutation set). */
  final class Sketch private[Index] (spark: SparkSession, val path: String,
      val dim: Int, val nBits: Int) extends Opened {
    val kind = "sketch"
    /** ≥ `threshold` pairs of `newVecs` vs the indexed corpus + within
      * the batch — O(batch) kernels per round; changed vec_ids are
      * fully superseded by their batch version. */
    def pairs(newVecs: DataFrame, threshold: Double,
        tables: Int = 4, window: Int = 16): DataFrame =
      Dedup.embeddingNearDupIndexed(newVecs, path, threshold, tables, window)
    def upsert(vectors: DataFrame): Unit =
      Similarity.upsertSketchIndex(vectors, path)
    def delete(ids: DataFrame): Unit =
      Similarity.deleteFromSketchIndex(ids, path)
    /** Bucket balance + carry depth + emptied state (r14 surface,
      * exposed on the handle r15 for parity with the other kinds). */
    def stats: Similarity.SketchStats =
      Similarity.sketchIndexStats(spark, path)
  }

  def buildSketch(embeddings: DataFrame, path: String, dim: Int,
      nBits: Int = 32): Sketch = {
    Similarity.writeSketchIndex(embeddings, path, dim, nBits)
    open(embeddings.sparkSession, path).asInstanceOf[Sketch]
  }

  /** The operational core every index kind answers with one schema —
    * the questions a monitoring loop actually polls: how many items
    * the index serves (`rows`), how the probe-cost partitions are
    * balanced (`partitions`/`maxPartition`/`medianPartition`/`skew` =
    * max/median — the rebuild trigger's input), how deep the
    * partial-commit carry runs (`carryDepth` = versions since the
    * oldest still-carried leg, `carriedParts` = legs not at the
    * current version — a carry that only deepens means full rewrites
    * have stopped happening), and whether the index is committed but
    * intentionally EMPTY (`emptied`: takedowns drained it — readable,
    * mutable, serving nothing; distinct from "missing"). What a
    * partition IS varies by kind (IVF list, LSH band bucket, sketch
    * id-bucket, cluster) but the skew/carry/emptied judgment reads
    * the same. Kind-specific detail stays on the handles/operators
    * ([[Similarity.IvfStats]], [[Dedup.LshStats]],
    * [[Similarity.SketchStats]]). */
  final case class IndexStats(kind: String, rows: Long, partitions: Long,
      maxPartition: Long, medianPartition: Long, skew: Double,
      carryDepth: Int, carriedParts: Int, emptied: Boolean,
      // regime drift, uniform 0-is-healthy direction across EVERY
      // mutable kind (r17 sketch/lsh, r18 ivf): sketch = last
      // measured re-embed flip rate; lsh = 1 − mean re-crawl
      // Jaccard; ivf = centroid-staleness excess
      // (ivfDistRecent/ivfDistBuild − 1); ivf-pq = codebook-error
      // excess (pqErrRecent/pqErrBuild − 1). None until a mutation
      // has measured one (and for an IVF build with no baseline).
      // Band/boundary/alarm detail stays kind-specific on
      // [[Similarity.SketchStats]]/[[Dedup.LshStats]]/params.
      drift: Option[Double] = None)

  /** ONE health entry point for every persisted index kind — the same
    * manifest evidence [[open]] dispatches on, mapped onto the common
    * [[IndexStats]] core. Unlike [[open]], loads NO driver-side
    * serving state (no codebook, no centroid preload): a monitoring
    * loop polls it at manifest-read + one-bounded-aggregation cost.
    * Covers the cluster-state layout ([[Dedup.writeClusterState]])
    * too — the one committed layout [[open]] deliberately doesn't
    * serve (its front door is [[Dedup.readClusterState]]). */
  def stats(spark: SparkSession, path: String): IndexStats = {
    val params = VersionedIndex.current(spark, path)
    val kind = kindOf(path, VersionedIndex.manifest(spark, path))
    val isPq = kind == "ivf-pq"
    if (isPq || kind == "ivf") {
      // carry is judged over EVERY partitioned member leg an IVF
      // partial commit touches independently — lists, the vec_map
      // side table, and (ivf-pq) the pq code table: a batch can own
      // all its list legs at the new version while most vb buckets
      // stay carried, and that is exactly the signal carryDepth
      // exists to keep honest (the LSH branch counts both its member
      // tables for the same reason)
      val (cd, cp) = VersionedIndex.carryOf(spark, path, Seq("lists", "vec_map", "pq"))
      // drift for the PQ kind: the codebook-error EWMA's excess over
      // the build baseline (pqErrRecent/pqErrBuild − 1; 0 = recent
      // ingest fits the pinned codewords exactly like the build
      // corpus did) — the signal retrainErrRatio alarms on, in the
      // same 0-is-healthy direction as the sketch flip rate and the
      // lsh shift rate.
      val pqDrift = for {
        b <- params.get("pqErrBuild").map(_.toLong) if b > 0L
        r <- params.get("pqErrRecent").map(_.toLong)
      } yield r.toDouble / b - 1.0
      // drift for the plain-IVF kind (r18): centroid staleness — the
      // excess of recent ingest's mean assigned-centroid distance
      // over the build baseline (ivfDistRecent/ivfDistBuild − 1, the
      // same EWMA-vs-baseline shape as the PQ signal on the geometry
      // axis; a re-centering rebuild re-baselines it to 0.0). None
      // for a build with no baseline — its next full rebuild writes
      // one.
      val ivfDrift = for {
        b <- params.get("ivfDistBuild").map(_.toLong) if b > 0L
        r <- params.get("ivfDistRecent").map(_.toLong)
      } yield r.toDouble / b - 1.0
      // ONE histogram read feeds both the emptiness decision and the
      // balance stats (re-reading would double poll I/O and let a
      // concurrent commit make the two describe different versions);
      // the balance math itself is ivfStatsFrom — the same single
      // median/clamp/skew definition ivfIndexStats uses
      val sizes = Similarity.ivfListSizes(spark, path)
      if (sizes.isEmpty || sizes.values.sum == 0L)
        // partitions stays the real list count when the histogram is
        // non-empty all-zero — the non-empty arm (and ivfIndexStats)
        // counts zero-size lists in the balance stats, and a monitor
        // tracking `partitions` must not see a discontinuous drop to 0
        // the moment the last vector is deleted; skew/max/median keep
        // their degenerate values
        IndexStats(kind, 0L, sizes.size.toLong,
          0L, 0L, 1.0, cd, cp, emptied = true,
          drift = if (isPq) pqDrift else ivfDrift)
      else {
        val d = Similarity.ivfStatsFrom(sizes, Similarity.DefaultIvfSkewThreshold)
        IndexStats(kind, sizes.values.sum, sizes.size, d.maxSize,
          d.medianSize, d.skew, cd, cp, emptied = false,
          drift = if (isPq) pqDrift else ivfDrift)
      }
    } else if (kind == "lsh") {
      val s = Dedup.lshIndexStats(spark, path)
      val (cd, cp) = VersionedIndex.carryOf(spark, path, Seq("shingles", "bands"))
      IndexStats("lsh", s.nBandedDocs, s.nBuckets, s.maxBucket,
        s.medianBucket, s.skew, cd, cp, emptied = s.nBuckets == 0L,
        // shift rate, same direction as the sketch kind's flip rate
        // (0 = no drift): 1 − mean same-doc version Jaccard
        drift = s.driftJaccard.map(1.0 - _))
    } else if (kind == "sketch") {
      val s = Similarity.sketchIndexStats(spark, path)
      IndexStats("sketch", s.nVecs, s.nOccupiedBuckets, s.maxBucket,
        s.medianBucket, s.skew, s.carryDepth, s.carriedParts, s.emptied,
        drift = s.driftFlipRate)
    } else { // ccstate
      // accumulated dup-cluster state: a "partition" is a cluster;
      // skew = the giant-component watch (one cluster swallowing the
      // corpus usually means the pair threshold is mis-sized)
      val r = VersionedIndex.readTable(spark, path, "clusters")
        .select(col("cluster"), col("csize")).distinct()
        .agg(count(lit(1)).as("nc"), max(col("csize")).as("mx"),
          percentile_approx(col("csize"), lit(0.5), lit(1000))
            .cast("long").as("med"),
          org.apache.spark.sql.functions.sum(col("csize")).as("rows"))
        .head()
      // carry judged over BOTH members: a partial commit (r16 bucketed
      // state) can rewrite clusters and pairs buckets independently
      val (cd, cp) = VersionedIndex.carryOf(spark, path, Seq("clusters", "pairs"))
      if (r.getLong(0) == 0L)
        IndexStats("ccstate", 0L, 0L, 0L, 0L, 1.0, cd, cp, emptied = true)
      else
        IndexStats("ccstate", r.getLong(3), r.getLong(0), r.getLong(1),
          r.getLong(2),
          r.getLong(1).toDouble / math.max(r.getLong(2), 1L),
          cd, cp, emptied = false)
    }
  }
}
