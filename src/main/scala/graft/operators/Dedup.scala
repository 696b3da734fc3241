package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Deduplication operators for training-data pipelines: exact,
  * n-gram-Jaccard, MinHash+LSH, SimHash. The reference's only dedup is
  * the `existsByLink` natural-key check
  * (crawler-service/.../ArticleRepository.java:21, SURVEY F9); the
  * near-dup family generalizes it for 100 TB corpus curation.
  *
  * Scale design:
  *  - exact dedup = hash-groupBy (one shuffle on the hash).
  *  - n-gram Jaccard self-join is quadratic in shingle collisions —
  *    correct at small scale, used here as the verification oracle.
  *  - MinHash+LSH is the scale path: O(docs × hashes) signature pass,
  *    shuffle on (band, bandHash) buckets only; candidate pairs then
  *    verified with exact Jaccard restricted to candidates.
  *  - SimHash: 64-bit signature, banded by 8×8-bit chunks (pigeonhole:
  *    hamming ≤ 7 ⇒ at least one chunk identical), verified via
  *    bit_count(xor).
  */
object Dedup {

  /** F9 exact dedup: keep one row per identical value of `cols`. */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame = df.dropDuplicates(cols)

  /** Distinct token n-gram shingles per document: (doc_id, shingle).
    *
    * Built by zipping the token array against its own k-shifted slices
    * rather than indexing with element_at inside a transform lambda —
    * Catalyst does not CSE subexpressions inside higher-order
    * functions, so an element_at(toks, i) formulation re-evaluates the
    * whole split per element (O(len²) string work per document; 12 s
    * vs <1 s on the sf0.1 corpus). */
  def shingleSet(docs: DataFrame, id: Column, text: Column, n: Int = 3): DataFrame =
    docs.select(id.as("doc_id"), explode(shingleArray(text, n)).as("shingle"))

  /** The distinct-shingle set as a per-row ARRAY column — the
    * streaming-legal form (no explode/groupBy), shared by the batch
    * `shingleSet` so both paths produce identical shingles. */
  def shingleArray(text: Column, n: Int = 3): Column = {
    val toks = Text.tokens(text)
    val len = size(toks)
    // acc(i) = toks(i)+..+toks(i+k-1), null once the window runs off
    // the end; zip_with pads the shorter (shifted) side with nulls.
    val grams = (2 to n).foldLeft(toks) { (acc, k) =>
      val shifted = slice(toks, lit(k), greatest(len - (k - 1), lit(0)))
      zip_with(acc, shifted, (a, b) =>
        when(a.isNull || b.isNull, lit(null)).otherwise(concat(a, lit(" "), b)))
    }
    val full = array_distinct(filter(grams, g => g.isNotNull))
    when(len >= n, full).otherwise(array(concat_ws(" ", toks)))
  }

  /** Per-row MinHash signature — the same values as the aggregation
    * form (`minhashSignatures`) but as a pure column expression over
    * the shingle ARRAY, so it can run in a streaming stage ahead of
    * keyed state. ONE native pass ([[graft.plans.MinHashSig]]): the
    * earlier HOF form walked the array numHashes times through
    * CodegenFallback lambdas; the kernel reads each shingle once and
    * folds all numHashes mins (bit-identical xxhash64 values — the
    * per-seed prefix is precomputed). Built through the expression
    * bridge, NOT the function registry, so it stays a self-contained
    * column expression (works on any session with no register()
    * call). */
  def sigArray(sh: Column, numHashes: Int = 64): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.plans.MinHashSig(org.apache.spark.sql.GraftBridge.expression(sh),
        numHashes))

  /** LSH band hashes from a materialized signature column — identical
    * construction to the batch banding inside minhashLshPairs. NULL
    * signatures (sigArray's contract for empty/null shingle arrays)
    * yield NULL bands: without the guard, Spark's null-tolerant hash()
    * would give every null-sig doc the SAME per-band constants — one
    * shared phantom bucket pairing all degenerate docs with each
    * other. */
  def bandsFromSig(sig: Column, numHashes: Int = 64, bands: Int = 16): Column = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    when(sig.isNull, lit(null)).otherwise(array((0 until bands).map(b =>
      hash(slice(sig, b * rows + 1, rows).cast("string"), lit(b))): _*))
  }

  /** Exact Jaccard for an explicit candidate-pair set. Candidate-driven:
    * the pair list (small) joins each side's shingles, so the work is
    * O(|candidates| · shingles-per-doc) — NOT the Σdf² of a full
    * shingle self-join. */
  private def jaccardOnPairs(shingles: DataFrame, pairs: DataFrame): DataFrame = {
    val sizes = shingles.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = pairs
      .join(shingles.as("a"), col("doc_a") === col("a.doc_id"))
      .join(shingles.as("b"),
        col("doc_b") === col("b.doc_id") && col("a.shingle") === col("b.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
      .withColumn("jaccard", round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
  }

  /** Exact pairwise n-gram Jaccard ≥ threshold. A naive shingle
    * self-join explodes on high-document-frequency shingles (Σ df²
    * intermediate rows); instead this uses PPJoin-style prefix
    * filtering: with a global shingle order (doc-frequency ascending),
    * any pair with Jaccard ≥ t must share a shingle within each doc's
    * first (|s| − ceil(t·|s|) + 1) shingles — so only that ~(1−t)
    * fraction enters the candidate join, and candidates are then
    * verified with the full exact Jaccard. Same output as all-pairs,
    * at a fraction of the join volume. */
  def ngramJaccardPairs(docs: DataFrame, id: Column, text: Column,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // The shingle set feeds the prefix join plus the verification —
    // cache it once instead of re-running tokenize+explode five times.
    // The small pair result is checkpointed eagerly at the end so the
    // cache is released before returning (no leak in a long session).
    val sh = shingleSet(docs, id, text, n).cache()
    try {
    val docFreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val prefix = sh
      .join(docFreq, "shingle")
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("shingle"))))
      .join(sizes, "doc_id")
      .filter(col("r") <= col("n_sh") - ceil(col("n_sh") * threshold) + 1)
      .select(col("doc_id"), col("shingle"))
    // Length filter (PPJoin companion bound): j ≥ t ⇒ inter ≥ t·max
    // and inter ≤ min, so min(|a|,|b|) ≥ t·max(|a|,|b|) — size-skewed
    // pairs can't reach the threshold and never enter verification.
    val withSize = prefix.join(sizes, "doc_id")
    val candidates = withSize.as("x")
      .join(withSize.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id") &&
          col("x.n_sh") >= col("y.n_sh") * threshold &&
          col("y.n_sh") >= col("x.n_sh") * threshold)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    jaccardOnPairs(sh, candidates)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .localCheckpoint() // near-dup pairs ≪ corpus; materialized pre-unpersist
    } finally sh.unpersist()
  }

  /** MinHash signatures from EXPLODED (doc_id, shingle) rows: for each
    * seed s, min over shingles of xxhash64(s, shingle) — one shuffle on
    * doc_id. Kept as the aggregation-form REFERENCE (DedupSpec pins the
    * native kernel bit-identical to it); the operator paths all compute
    * the same signature shuffle-free from the per-doc shingle ARRAY via
    * [[sigArray]] (`docShingles` → one native map pass — no explode, no
    * 64-way min aggregation; at corpus scale the (doc, shingle) shuffle
    * this form pays is the dominant cost of signature building). */
  def minhashSignatures(shingles: DataFrame, numHashes: Int): DataFrame =
    shingles.groupBy(col("doc_id"))
      .agg(array((0 until numHashes).map(s => min(xxhash64(lit(s), col("shingle")))): _*)
        .as("sig"))

  /** (doc_id, sh) — one row per document with its distinct shingle
    * ARRAY: the base every LSH path derives from. The exploded
    * (doc_id, shingle) form for Jaccard verification is
    * `explode(col("sh"))` (identical to [[shingleSet]] by
    * construction); the banded signature form is
    * [[bandedFromDocShingles]] (native kernel, shuffle-free). Doc ids
    * are expected UNIQUE (the same contract the index upsert's
    * replace-by-doc_id semantics rely on): duplicate id rows would
    * band per ROW rather than per merged shingle set, while Jaccard
    * verification still merges per id — the persisted-index writers
    * validate the contract loudly ([[VersionedIndex.requireUniqueIds]]);
    * the transient pair paths document it here. */
  private def docShingles(docs: DataFrame, id: Column, text: Column,
      n: Int): DataFrame =
    docs.select(id.as("doc_id"), shingleArray(text, n).as("sh"))

  /** (doc_id, bands, band, band_hash) rows for the banded join, from
    * the per-doc shingle array — signature via the one-pass native
    * kernel ([[sigArray]]), NO shuffle; bit-identical values to the
    * [[minhashSignatures]] aggregation form (DedupSpec parity pin), so
    * indexes written by either construction interoperate. */
  private def bandedFromDocShingles(ds: DataFrame, numHashes: Int,
      bands: Int): DataFrame =
    // The signature is CHECKPOINTED (docs × numHashes longs,
    // ~0.5 KB/doc) before banding+explode, for a reason that is easy
    // to re-break: InferFiltersFromGenerate plants a
    // `size(bands) > 0 AND isnotnull(bands)` filter under the
    // posexplode, and predicate pushdown then INLINES the whole bands
    // expression — 17 copies of the signature kernel — into that
    // filter, re-hashing every shingle ~18× per row (measured 10× on
    // the q39 corpus). The checkpoint's LogicalRDD is the plan
    // barrier that stops the inlining (and lets the self-join sides
    // share one kernel pass); it is LAZY so these plan-BUILDING APIs
    // stay lazy — the signature job runs at the caller's first
    // action, not at call time.
    ds.select(col("doc_id"), sigArray(col("sh"), numHashes).as("sig"))
      .localCheckpoint(eager = false)
      .select(col("doc_id"),
        bandsFromSig(col("sig"), numHashes, bands).as("bands"))
      .select(col("doc_id"), col("bands"),
        posexplode(col("bands")).as(Seq("band", "band_hash")))

  /** MinHash+LSH candidate pairs, verified with exact Jaccard.
    * numHashes=64, bands=16 (rows/band=4): P(miss | j=0.9) ≈ 4e-8 —
    * so on honest near-dups the verified output equals the all-pairs
    * ground truth, at a fraction of the join cost. */
  def minhashLshPairs(docs: DataFrame, id: Column, text: Column, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    // ONE tokenize+shingle pass cached as the per-doc ARRAY: signatures
    // come out of it with the native kernel (no (doc, shingle) shuffle),
    // and the exploded form for Jaccard verification is a cheap explode
    // of the same cached rows.
    // NO fan-out here (r21): this frame is .cache()d and consumed by
    // several concurrently-materialized AQE stages — a bottom
    // repartition under a cached multi-consumer subtree measurably
    // regressed the q38/q39 family (see OPTIMIZATION_r21.md), unlike
    // the lazy-checkpoint barriers where the fan-out helps
    val ds = docShingles(docs, id, text, n).cache()
    try {
    val sh = ds.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val candidates = lshCandidatesFromBanded(
      bandedFromDocShingles(ds, numHashes, bands))
    jaccardOnPairs(sh, candidates)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .localCheckpoint() // near-dup pairs ≪ corpus; materialized pre-unpersist
    } finally ds.unpersist()
  }

  /** The candidate stage of minhashLshPairs — banded signature join,
    * each pair emitted exactly once (at the FIRST band both signatures
    * share, evaluated as a join predicate so no distinct() shuffle).
    * Exposed separately so the streaming candidate generator can be
    * replay-tested against the identical batch construction. */
  def lshCandidatePairs(docs: DataFrame, id: Column, text: Column, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16): DataFrame =
    lshCandidatesFromBanded(
      bandedFromDocShingles(docShingles(docs, id, text, n), numHashes, bands))

  /** INCREMENTAL MinHash+LSH near-dup pairs: every verified pair with
    * at least one member in `newDocs` — new×old and new×new, never
    * old×old. The per-crawl-round form of minhashLshPairs: the
    * existing corpus was already deduped last round, so recomputing
    * its internal pairs is pure waste (at 100 TB it is ~all the work).
    * Combine with `Curation.snapshotDiff` to find `newDocs`.
    *
    * Scale: the banded join's LEFT side is only the new batch —
    * the corpus side is scanned once for signatures (and at scale the
    * signature/band table is the thing to persist between rounds, at
    * which point the per-round cost is O(batch) + one bucket join).
    * Verification is candidate-driven over the union shingle set.
    * Returns (doc_a, doc_b, jaccard) with doc_a < doc_b. */
  def incrementalLshPairs(newDocs: DataFrame, oldDocs: DataFrame,
      id: Column, text: Column, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    val dsOld = docShingles(oldDocs, id, text, n)
    val shOld = dsOld.select(col("doc_id"), explode(col("sh")).as("shingle"))
    incrementalAgainst(newDocs, id, text,
      // candidate ids ≪ corpus → AQE broadcasts the semi-join: one
      // corpus tokenize pass feeding only candidate docs' rows onward
      candIds => shOld.join(candIds, Seq("doc_id"), "left_semi"),
      bandedFromDocShingles(dsOld, numHashes, bands),
      n, numHashes, bands, threshold)
  }

  /** Persisted LSH index layout — the generic [[VersionedIndex]]
    * contract (atomic rename commits, partition manifests):
    *
    * {{{
    *   <path>/v=N/shingles/idx_bucket=…/…   partitions OWNED by v=N
    *   <path>/v=N/bands/idx_bucket=…/…
    *   <path>/v=N/MANIFEST                  partition → owner version
    *   <path>/v=N/params                    {n, numHashes, bands, idxBuckets}
    *   <path>/v=N/_GRAFT_COMMITTED
    * }}}
    *
    * Both member tables are hive-partitioned by `idx_bucket`, the
    * [[VersionedIndex.bucketCol]] of the doc id — a pure function of
    * the doc id, so an UPSERT knows its touched partitions
    * from the batch alone (no index lookup) and rewrites ONLY those:
    * per-round commit I/O is O(batch ∕ bucket density), not O(index).
    * Untouched buckets stay byte-identical in the version that last
    * wrote them, referenced by manifest. Readers resolve the manifest
    * via [[VersionedIndex.readTable]]. The persisted boundary
    * validates the unique-doc_id contract loudly
    * ([[VersionedIndex.requireUniqueIds]] over the already-cached
    * per-doc rows): duplicate-id rows would band per ROW while Jaccard
    * verification merges shingles per id, so candidates and
    * verification silently disagree. */

  /** `df` plus its `idx_bucket` partition column. */
  private def withIdxBucket(df: DataFrame, nBuckets: Int): DataFrame =
    df.withColumn("idx_bucket", VersionedIndex.bucketCol(col("doc_id"), nBuckets))

  /** `df` without the internal `idx_bucket` column (absent from an
    * unpartitioned or emptied member). */
  private def dropBucket(df: DataFrame): DataFrame =
    if (df.columns.contains("idx_bucket")) df.drop("idx_bucket") else df

  /** Manifest-resolved read of an LSH index member table ("shingles"
    * or "bands"), without the internal `idx_bucket` partition column.
    * A committed-but-EMPTIED index reads as zero typed rows, never an
    * error (the VersionedIndex commit stages an emptied partitioned
    * table as an empty unpartitioned one), so full takedown followed
    * by re-ingest works — pinned by the LayoutSpec recovery case. */
  def readLshTable(spark: org.apache.spark.sql.SparkSession,
      path: String, table: String): DataFrame =
    dropBucket(VersionedIndex.readTable(spark, path, table))

  /** Fail fast when the caller's hash parameters disagree with the
    * ones the index was built with — mixing them silently produces
    * incomparable signatures (candidates vanish, never an error). */
  private def requireLshParams(path: String, params: Map[String, String],
      n: Int, numHashes: Int, bands: Int): Unit =
    VersionedIndex.requireParams(path, params,
      Map("n" -> n.toString, "numHashes" -> numHashes.toString,
        "bands" -> bands.toString))

  /** Commit shingles+bands (already carrying `idx_bucket`) as one new
    * version; `carry` references untouched bucket partitions from
    * prior versions (empty = full rewrite). */
  private def commitLshVersion(spark: org.apache.spark.sql.SparkSession,
      path: String, shingles: DataFrame, bands: DataFrame,
      n: Int, numHashes: Int, bandCount: Int, idxBuckets: Int,
      carry: Map[String, Map[String, Int]] = Map.empty,
      extraParams: Map[String, String] = Map.empty): Unit =
    VersionedIndex.commit(spark, path,
      Seq("shingles" -> shingles, "bands" -> bands),
      Map("n" -> n.toString, "numHashes" -> numHashes.toString,
        "bands" -> bandCount.toString, "idxBuckets" -> idxBuckets.toString)
        ++ extraParams,
      partitionBy = Map("shingles" -> Seq("idx_bucket"),
        "bands" -> Seq("idx_bucket")),
      carry = carry,
      // shingles clustered by doc_id: verification reads push a
      // candidate-id set (prunedOldShingles — dictionary-probed, with
      // the sort as stats fallback + range-read locality); bands
      // clustered by bucket key: the incremental banded join only
      // consumes corpus rows colliding with the batch's (band,
      // band_hash) set, so the same layout serves a future probe-side
      // prune.
      clusterBy = Map("shingles" -> Seq("doc_id"),
        "bands" -> Seq("band", "band_hash")))

  /** Per-upsert re-crawl drift sample cap (docs): unlike the sketch
    * probe (two longs per row — measured whole), the shingle
    * tagged-union scales with docs × shingles-per-doc, so a bulk
    * re-crawl measures a deterministic id-hash sample OF THE OVERLAP
    * (never a batch-proportional fraction, which would starve the
    * measurement on mixed bulk ingest). */
  private[graft] val LshDriftSampleDocs = 1024L
  /** Below this many overlapping docs the measured version-Jaccard is
    * too noisy to alarm on — the prior drift state carries. */
  private[graft] val LshDriftMinDocs = 16L

  /** The banding curve's 90%-candidate similarity: with `bands` bands
    * of `rowsPerBand` minhash rows, a pair at Jaccard s collides in
    * ≥1 band with probability 1 − (1 − s^r)^b; s90 solves that = 0.9.
    * The re-crawl drift alarm's floor: when same-doc version Jaccard
    * falls below it, even an EXACT duplicate of a prior crawl's
    * version no longer reliably reaches candidacy — churn has outrun
    * the banding, and cross-round near-dup detection is degrading
    * silently. Defaults (b=16, r=4) put it at ≈0.605. */
  private[graft] def bandingS90(bands: Int, rowsPerBand: Int): Double =
    math.pow(1.0 - math.pow(0.1, 1.0 / bands), 1.0 / rowsPerBand)

  /** Per-batch RE-CRAWL drift for the text LSH index (r17 — the
    * [[graft.operators.Similarity]] sketch drift loop's text-tier
    * twin, on the reference's own domain: re-crawled news articles):
    * for batch doc_ids the index already holds, the EXACT Jaccard
    * between the stored shingle set and the batch's fresh one is a
    * sampled tagged-union aggregation — no estimator needed, the
    * `shingles` member IS the set, and the prior side reads only the
    * partition-pruned touched buckets the rewrite reads anyway. The
    * mean version-Jaccard is compared against [[bandingS90]] of the
    * committed (bands, rowsPerBand): below it, re-crawled versions no
    * longer reliably match even their own predecessors, so near-dup
    * pairs straddling crawl rounds are being silently lost — alarm
    * state, floor, and the last state TRANSITION persist in the
    * version params ([[lshIndexStats]] surfaces them); entering the
    * alarmed state WARN-logs with the operational answers (tighten
    * banding at the next full rewrite, or shorten the re-crawl
    * horizon). Only docs ABSENT from the prior member (never banded —
    * no rows to compare against) drop out of the mean. A doc whose
    * FRESH re-crawl is degenerate (error stub, paywall interstitial —
    * anything shingling to the <n-token whole-text fallback) counts
    * DELIBERATELY, as J≈0 drift: a re-crawl that cannot match its own
    * predecessor is precisely the cross-round detection loss the
    * alarm reports, whether the cause is corpus churn or crawl
    * quality — so the WARN names both remedies. (r18, advisor fix:
    * this doc previously claimed either-side-empty docs drop, which
    * only the prior side does.) */
  private def measureLshDrift(priorShingles: DataFrame,
      priorDocIds: DataFrame, ds: DataFrame,
      bandCount: Int, rowsPerBand: Int,
      params: Map[String, String], path: String): Map[String, String] = {
    // The sample is drawn from the OVERLAP (batch ids the index
    // holds), NOT batch-proportionally: mixed bulk ingest (say 200k
    // new docs carrying 2k re-crawls) under a batch-scaled fraction
    // would keep ~10 overlapping docs — permanently under the noise
    // floor, carrying stale drift while the regime moved, the exact
    // silent class the loop exists to catch. The overlap COUNT runs
    // against `priorDocIds` — the caller derives it from the pruned
    // BANDS member (a fixed `bands` rows per doc vs the shingle
    // fan-out, so the distinct is ~an order of magnitude narrower;
    // every shingled doc bands, so the id sets coincide) — and only
    // the sampled tagged-union touches the shingle rows. The sample
    // is a deterministic id-hash fraction of the overlap, so the
    // reading is a pure function of (batch, index state).
    val overlapIds = ds.select(col("doc_id"))
      .join(priorDocIds, Seq("doc_id"), "left_semi")
    val oc = overlapIds.count()
    if (oc < LshDriftMinDocs) VersionedIndex.Drift.carried(params)
    else {
    // threshold in DOUBLE then rounded (r18, advisor fix): the integer
    // form `SampleDocs * mod / oc` undershot 1024 as oc grew and hit
    // ZERO past oc ≈ mod·SampleDocs — an empty sample silently
    // carrying stale drift forever on exactly the billion-doc bulk
    // regimes the overlap-based sampling was built for. The 1e9
    // modulus keeps the expected sample within rounding of 1024 up to
    // oc ≈ 1e12 docs; the max(1) floor never lets it reach zero.
    val sampleIds =
      if (oc <= LshDriftSampleDocs) overlapIds
      else overlapIds.filter(pmod(xxhash64(col("doc_id")), lit(1000000000L)) <
        lit(math.max(1L,
          math.round(LshDriftSampleDocs.toDouble * 1000000000.0 / oc))))
    val tagged = priorShingles
        .join(sampleIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("shingle"), lit(1).as("o"), lit(0).as("nw"))
      .unionByName(ds
        .join(sampleIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), explode(col("sh")).as("shingle"),
          lit(0).as("o"), lit(1).as("nw")))
    val r = tagged
      .groupBy(col("doc_id"), col("shingle"))
      .agg(max(col("o")).as("o"), max(col("nw")).as("nw"))
      .groupBy(col("doc_id"))
      .agg(sum(col("o") * col("nw")).cast("double").as("inter"),
        count(lit(1)).cast("double").as("uni"))
      .agg(avg(col("inter") / col("uni")).as("j"), count(lit(1)).as("nd"))
      .head()
    val nd = r.getLong(1)
    // min-evidence and ZERO-EVIDENCE (shingle-identical sample,
    // J = 1.0 — a byte-identical re-delivery or a crash-replay of a
    // committed upsert) both carry — the shared
    // [[VersionedIndex.Drift]] contract: recording J=1.0 would clear
    // a genuine below-s90 alarm with a phantom recovery transition.
    if (nd < LshDriftMinDocs || r.getDouble(0) == 1.0)
      VersionedIndex.Drift.carried(params)
    else {
      val j = r.getDouble(0)
      val floor = bandingS90(bandCount, rowsPerBand)
      val state = if (j < floor) "below-s90" else "ok"
      // the alarm must also fire on a FIRST below-s90 measurement
      // (no prior state → no crossing), so it stays outside
      // Drift.persist's onCross hook — the documented seam
      if (state == "below-s90" && !params.get("driftAlarm").contains("below-s90"))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          f"lsh index $path: re-crawl drift — mean same-doc version " +
            f"Jaccard $j%.4f over $nd%d re-ingested docs is below the " +
            f"banding's 90%%-candidate floor $floor%.4f " +
            f"(b=$bandCount%d, r=$rowsPerBand%d): re-crawled versions " +
            "no longer reliably match their own predecessors, so " +
            "cross-round near-dup detection is degrading. Tighten " +
            "banding at the next full rewrite (more bands -> lower " +
            "floor), shorten the re-crawl horizon, or — if the drop " +
            "is abrupt — audit re-crawl quality (error stubs/paywall " +
            "pages measure as full drift).")
      VersionedIndex.Drift.persist(params, "driftAlarm", state,
        Map("driftJaccard" -> j.toString, "driftDocs" -> nd.toString,
          "driftFloor" -> floor.toString))
    }
    }
  }

  /** Persist the LSH index for incremental rounds: the corpus's
    * shingle set and banded signatures, so the next crawl round pays
    * O(batch) — the corpus text is never re-tokenized, re-hashed, or
    * re-banded. Commits a fresh version at `path` (atomic, see the
    * layout note above). After a round, UPSERT the batch's own rows
    * via `upsertLshIndex` (an append would accumulate stale rows for
    * re-ingested doc ids; the incremental join anti-joins the current
    * batch's ids defensively, but rows superseded in EARLIER rounds
    * can only be cured at the index). */
  def writeLshIndex(docs: DataFrame, id: Column, text: Column, path: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      idxBuckets: Int = 64): Unit = {
    // NO fan-out here (r21): this frame is .cache()d and consumed by
    // several concurrently-materialized AQE stages — a bottom
    // repartition under a cached multi-consumer subtree measurably
    // regressed the q38/q39 family (see OPTIMIZATION_r21.md), unlike
    // the lazy-checkpoint barriers where the fan-out helps
    val ds = docShingles(docs, id, text, n).cache()
    try {
      VersionedIndex.requireUniqueIds(ds, "doc_id", "writeLshIndex")
      commitLshVersion(docs.sparkSession, path,
        withIdxBucket(ds.select(col("doc_id"), explode(col("sh")).as("shingle")),
          idxBuckets),
        withIdxBucket(bandedFromDocShingles(ds, numHashes, bands), idxBuckets),
        n, numHashes, bands, idxBuckets)
    } finally ds.unpersist()
  }

  /** UPSERT a batch into a persisted LSH index: the batch's rows
    * REPLACE any previously-indexed version of the same doc ids, and
    * genuinely-new ids append. Keeps the index a function of the
    * current corpus state — the invariant `incrementalLshPairsIndexed`
    * verification relies on. Commits as one new index version: the
    * shingle and band tables flip together (never a mixed pair), the
    * previous version stays readable until the commit, and the
    * parameters must match the ones the index was written with.
    *
    * The commit is PARTIAL ([[VersionedIndex.bucketRewrite]]): touched
    * buckets = `pmod(xxhash64(batch ids), idxBuckets)` — a pure
    * function of the batch, no index read — and only those partitions
    * are rewritten (read partition-pruned, anti-joined against the
    * batch ids, plus the batch's own rows). Every untouched bucket is
    * carried by manifest reference, byte-identical. Per-round write
    * I/O is O(touched buckets), not O(index). At the compaction point
    * ([[VersionedIndex.MaxVersionChain]]) — or when the committed
    * state cannot carry (a full takedown left whole-table members) —
    * the same rewrite runs over the whole index. An empty batch
    * commits nothing. */
  def upsertLshIndex(newDocs: DataFrame, id: Column, text: Column, path: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16): Unit = {
    val spark = newDocs.sparkSession
    val params = VersionedIndex.current(spark, path)
    requireLshParams(path, params, n, numHashes, bands)
    val nBuckets = params("idxBuckets").toInt
    val newIds = newDocs.select(id.as("doc_id")).distinct()
    val ds = docShingles(newDocs, id, text, n).cache()
    try {
      VersionedIndex.requireUniqueIds(ds, "doc_id", "upsertLshIndex")
      VersionedIndex.bucketRewrite(spark, path, nBuckets,
          Seq(Seq("shingles", "bands") -> newIds)).foreach { rw =>
        // every re-ingested id hashes into a touched bucket, so the
        // drift probe's prior side reads only the rows the rewrite
        // reads anyway. Its overlap count runs on the BANDS member's
        // doc ids (a fixed `bands` rows/doc — far narrower than the
        // shingle fan-out); the shingle member keeps exactly two
        // consumers (the sampled tagged-union + the commit's
        // anti-join), two pruned scans — measured cheaper than caching
        // it (materializing the whole pruned shingle set cost more
        // than the second scan on the q116 funnel trigger)
        val drift = measureLshDrift(rw.prior("shingles").drop("idx_bucket"),
          rw.prior("bands").select(col("doc_id")).distinct(),
          ds, bands, numHashes / bands, params, path)
        def merged(table: String, fresh: DataFrame): DataFrame =
          rw.prior(table).join(newIds, Seq("doc_id"), "left_anti")
            .unionByName(fresh)
        commitLshVersion(spark, path,
          merged("shingles", withIdxBucket(
            ds.select(col("doc_id"), explode(col("sh")).as("shingle")), nBuckets)),
          merged("bands", withIdxBucket(bandedFromDocShingles(ds, numHashes, bands),
            nBuckets)),
          n, numHashes, bands, nBuckets, rw.carry, drift)
      }
    } finally ds.unpersist()
  }

  /** DELETE documents from a persisted LSH index — the takedown/
    * opt-out path. Touched buckets are a pure function of the deleted
    * ids (`pmod(xxhash64(id), idxBuckets)` — no index read); only
    * those partitions of shingles+bands are rewritten minus the ids,
    * every other bucket is carried by manifest reference,
    * byte-identical ([[VersionedIndex.bucketRewrite]]). A takedown of
    * b documents costs O(touched buckets), not O(index). Deletion
    * removes current rows — a later upsert of the same doc_id
    * re-inserts it. No hash parameters are taken: deletion never
    * hashes text, and the stored params carry forward unchanged. */
  def deleteFromLshIndex(deleteIds: DataFrame, path: String): Unit = {
    val spark = deleteIds.sparkSession
    val params = VersionedIndex.current(spark, path)
    val nBuckets = params("idxBuckets").toInt
    val ids = deleteIds.select(col("doc_id")).distinct()
    VersionedIndex.bucketRewrite(spark, path, nBuckets,
        Seq(Seq("shingles", "bands") -> ids)).foreach { rw =>
      def kept(table: String): DataFrame =
        rw.prior(table).join(ids, Seq("doc_id"), "left_anti")
      // deleting only ABSENT ids commits NOTHING (no new version) — the
      // streaming takedown sink's documented replay/no-op contract; one
      // bounded semi-join over rows the rewrite reads anyway
      if (!rw.prior("shingles").join(ids, Seq("doc_id"), "left_semi").isEmpty)
        commitLshVersion(spark, path, kept("shingles"), kept("bands"),
          params("n").toInt, params("numHashes").toInt, params("bands").toInt,
          nBuckets, rw.carry,
          // a takedown measures no drift; the last reading carries
          VersionedIndex.Drift.carried(params))
    }
  }

  /** Health of a persisted LSH index under perpetual ingest — the
    * [[graft.operators.Similarity.IvfStats]] twin for the text-dedup
    * tier. The quantity that decays silently here is not recall but
    * COST: the incremental join's volume is Σ bucket² over (band,
    * band_hash) buckets, and boilerplate text concentrates signatures
    * into a few hot buckets (hot buckets are near-identical border
    * text by construction). `pairVolume` = Σ n·(n−1)/2 over buckets —
    * the exact JOIN-MATCH volume of the next full banded self-join
    * (every bucket-pair match the join must evaluate; a pair sharing
    * k buckets matches k times before the first-shared-band predicate
    * dedups emission, so this is the cost driver and an UPPER BOUND
    * on distinct scored candidates, not their count);
    * `skew` = max/median bucket size; `hotBuckets` counts buckets
    * above `hotThreshold` rows. The operational answers when this
    * gets loud: dedup + reingest the hot buckets' members (they are
    * near-identical by construction), or tighten banding (more
    * bands → narrower buckets) at the next full rewrite.
    *
    * `nBandedDocs` counts docs that produced band rows — degenerate
    * docs (empty/null shingle sets → NULL signature under the
    * bandsFromSig null guard) contribute zero band rows and are NOT
    * counted; they also contribute nothing to join cost, which is what
    * this stat exists to bound. Compare against the shingles table's
    * distinct doc count if the degenerate fraction itself matters. */
  final case class LshStats(nBandedDocs: Long, nBuckets: Long, maxBucket: Long,
      medianBucket: Long, skew: Double, hotBuckets: Long, pairVolume: Long,
      // the r17 re-crawl drift loop: last measured same-doc version
      // Jaccard, the banding s90 floor it was judged against, the
      // alarm state ("ok"/"below-s90") and the last state transition
      // — None until an upsert has measured one
      driftJaccard: Option[Double] = None,
      driftFloor: Option[Double] = None,
      driftAlarm: Option[String] = None,
      driftBoundary: Option[String] = None)

  /** One aggregation pass over the persisted `bands` member table
    * (never the shingles), plus a ≤1-row stats reduce. */
  def lshIndexStats(spark: org.apache.spark.sql.SparkSession, path: String,
      hotThreshold: Long = 64): LshStats = {
    val params = VersionedIndex.current(spark, path)
    val bandCount = params("bands").toLong
    val (dJ, dF, dA, dB) = (params.get("driftJaccard").map(_.toDouble),
      params.get("driftFloor").map(_.toDouble),
      params.get("driftAlarm"), params.get("driftBoundary"))
    val sizes = readLshTable(spark, path, "bands")
      .groupBy(col("band"), col("band_hash")).agg(count(lit(1)).as("n"))
    val r = sizes.agg(
      count(lit(1)).as("nb"),
      max(col("n")).as("mx"),
      // exact median is a sort over ≤nBuckets narrow rows; the approx
      // form keeps the stat one cheap pass at any index size
      percentile_approx(col("n"), lit(0.5), lit(1000)).cast("long").as("med"),
      sum(when(col("n") > hotThreshold, 1L).otherwise(0L)).as("hot"),
      // n·(n−1) is even, so the /2 happens exactly in Scala (a SQL `/`
      // would silently switch the sum to double)
      sum(col("n") * (col("n") - 1)).as("pairs2"),
      sum(col("n")).as("rows")).head()
    if (r.getLong(0) == 0L)
      LshStats(0L, 0L, 0L, 0L, 1.0, 0L, 0L,
        driftJaccard = dJ, driftFloor = dF, driftAlarm = dA,
        driftBoundary = dB)
    else {
      val med = math.max(r.getLong(2), 1L)
      LshStats(
        // bands rows = banded docs × bands (degenerate docs emit none)
        nBandedDocs = r.getLong(5) / bandCount,
        nBuckets = r.getLong(0),
        maxBucket = r.getLong(1),
        medianBucket = r.getLong(2),
        skew = r.getLong(1).toDouble / med,
        hotBuckets = r.getLong(3),
        pairVolume = r.getLong(4) / 2,
        driftJaccard = dJ, driftFloor = dF, driftAlarm = dA,
        driftBoundary = dB)
    }
  }

  /** incrementalLshPairs against a persisted index (`writeLshIndex`):
    * identical semantics, but the old side is two parquet reads —
    * the scaling claim made concrete. Rejects parameter mismatches
    * against the index's stored params. */
  def incrementalLshPairsIndexed(newDocs: DataFrame, id: Column, text: Column,
      indexPath: String, n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val spark = newDocs.sparkSession
    requireLshParams(indexPath, VersionedIndex.current(spark, indexPath),
      n, numHashes, bands)
    incrementalAgainst(newDocs, id, text,
      prunedOldShingles(spark, indexPath),
      readLshTable(spark, indexPath, "bands"),
      n, numHashes, bands, threshold)
  }

  /** Above this many candidate ids the pushed-filter form falls back
    * to a semi-join: a multi-thousand-value IN is pushed to parquet as
    * a left-deep Or(Eq…) tree whose recursive evaluation risks the
    * executor stack, and a candidate set that large has outgrown
    * row-group pruning anyway. `private[graft]` because the session's
    * parquet IN-pushdown threshold ([[graft.GraftSession.requiredConfs]])
    * derives from it — the conf must never admit a deeper predicate
    * tree than this cap deems stack-safe, so both come from this one
    * constant. */
  private[graft] val MaxShinglePushdownIds = 4096

  /** Candidate-driven read of the persisted `shingles` member table:
    * exactly the candidate docs' rows, reading as little as possible.
    * Small candidate sets (the steady-state crawl round) collect to
    * the driver — bounded by [[MaxShinglePushdownIds]] — and push
    * `doc_id IN (…)` into the parquet scan, where each row group's
    * doc_id DICTIONARY is probed for literal membership: exactly the
    * groups CONTAINING a candidate are read (SCALE.md "What actually
    * skips bytes under the pushed IN"; the
    * within-bucket doc_id sort the commit applies keeps min/max stats
    * as a fallback when a chunk's dictionary lapses, but bucketing
    * dilates per-file id bands ×nBuckets, so the dictionary — not the
    * sort — is the primary skip). The session raises the parquet
    * IN-pushdown threshold ([[graft.GraftSession]]) because Spark
    * silently degrades an over-threshold IN to a min/max range, which
    * prunes nothing over hash-distributed ids. Larger sets keep the
    * broadcast semi-join: same rows, corpus-linear scan. */
  private def prunedOldShingles(spark: org.apache.spark.sql.SparkSession,
      indexPath: String)(candIds: DataFrame): DataFrame = {
    val sh = readLshTable(spark, indexPath, "shingles")
    val sample = candIds.limit(MaxShinglePushdownIds + 1).collect()
    if (sample.isEmpty) sh.limit(0)
    else if (sample.length <= MaxShinglePushdownIds)
      sh.filter(col("doc_id").isin(sample.map(_.get(0)): _*))
    else sh.join(candIds, Seq("doc_id"), "left_semi")
  }

  /** Core of the incremental tier. `shOldFor` supplies the OLD side's
    * verification shingles GIVEN the frame of old-side candidate doc
    * ids — verification is candidate-driven end to end (r15): the
    * per-doc size aggregation and both Jaccard joins see O(batch +
    * candidates) shingle rows, never the corpus. Before this, the
    * sizes groupBy shuffled EVERY corpus shingle row per round — the
    * dominant O(corpus) term the ×20 fixed-batch probe measured at
    * 1.8–1.9× (the widest rows in the index paying a full shuffle for
    * docs no candidate pair touches). The supplier sees only ids NOT
    * in the batch, so the changed-doc replacement contract holds
    * unchanged: a doc id on both sides (snapshotDiff's "changed" rows)
    * verifies against its NEW shingles only — stale index rows for
    * batch ids never load. */
  private def incrementalAgainst(newDocs: DataFrame, id: Column, text: Column,
      shOldFor: DataFrame => DataFrame, bandedOldRaw: DataFrame, n: Int,
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    // ONE tokenize+shingle pass over the batch: the per-doc array
    // feeds the signature kernel (l side AND the r-side union via the
    // sig checkpoint), the exploded shingle form for verification, and
    // the batch-id set — without the cache each branch re-tokenizes
    // the batch inside the single final job (r13: measured ~15% of
    // q131's wall at sf0.1).
    val dsNew = docShingles(newDocs, id, text, n).cache()
    val shNew = dsNew.select(col("doc_id"), explode(col("sh")).as("shingle"))
    // batch ids from the cached per-doc rows — no extra source scan
    // (the distinct stays: it is what makes the anti-joins correct if
    // a caller passes duplicate-id rows)
    val newIds = dsNew.select(col("doc_id")).distinct()
    try {
      val bandedNew = bandedFromDocShingles(dsNew, numHashes, bands)
        .withColumn("is_new", lit(true))
      // A doc id on BOTH sides is a CHANGED doc: anti-join the old
      // band rows so the stale signature stops emitting candidates.
      // Batch ids ≪ corpus, so AQE broadcasts the anti-join — one
      // corpus band scan, no shuffle.
      val bandedAll = bandedNew.unionByName(
        bandedOldRaw.join(newIds, Seq("doc_id"), "left_anti")
          .withColumn("is_new", lit(false)))
      val firstSharedBand = array_position(
        zip_with(col("l.bands"), col("r.bands"), (a, b) => a === b), lit(true))
      // CACHED, not eagerly checkpointed: candidates are O(batch
      // near-dups) and feed both the id prune and verification — the
      // cache makes the banded join (the corpus band scan) run once
      // whichever consumer hits it first, WITHOUT forcing a separate
      // driver-synchronized job. The in-memory caller thus keeps its
      // single-final-job shape (an eager checkpoint here measured
      // +26% on q117 at sf0.1 — pure extra-job scheduling); the
      // indexed caller's driver-side id collect materializes the
      // cache as its own job anyway.
      val candidates = bandedNew.as("l")
        .join(bandedAll.as("r"),
          col("l.band") === col("r.band") && col("l.band_hash") === col("r.band_hash") &&
            col("l.doc_id") =!= col("r.doc_id") &&
            // new×new pairs once (l < r); new×old pairs always from the
            // new side, so no orientation dedup needed there
            (!col("r.is_new") || col("l.doc_id") < col("r.doc_id")) &&
            firstSharedBand === col("l.band") + 1)
        .select(least(col("l.doc_id"), col("r.doc_id")).as("doc_a"),
          greatest(col("l.doc_id"), col("r.doc_id")).as("doc_b"))
        .cache()
      // the supplier call below runs driver-side work (the indexed
      // form's bounded id collect) — it must sit INSIDE the try so a
      // mid-job failure still unpersists the candidates cache (a
      // long-lived driver retrying crawl rounds would otherwise
      // accumulate materialized banded-join caches per failure)
      try {
        // old-side ids verification actually needs: pair members that
        // are not batch docs (batch members verify against shNew)
        val candOldIds = candidates
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .distinct()
          .join(newIds, Seq("doc_id"), "left_anti")
        val shCand = shNew.union(shOldFor(candOldIds)).cache()
        try {
          jaccardOnPairs(shCand, candidates)
            .filter(col("jaccard") >= threshold)
            .select(col("doc_a"), col("doc_b"), col("jaccard"))
            .localCheckpoint()
        } finally shCand.unpersist()
      } finally candidates.unpersist()
    } finally dsNew.unpersist()
  }

  /** The banded self-join over (doc_id, bands, band, band_hash) rows.
    * Dedup-free emission (same trick as simhashPairs): near-dup pairs
    * agree on MANY of the 16 bands, so the banded join yields each
    * pair up to 16×; carrying the full band-hash array through the
    * join lets "this is the first band we share" run as a join
    * predicate, and the candidate distinct() shuffle disappears. */
  private def lshCandidatesFromBanded(banded: DataFrame): DataFrame = {
    val firstSharedBand = array_position(
      zip_with(col("l.bands"), col("r.bands"), (a, b) => a === b), lit(true))
    banded.as("l")
      .join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.band_hash") === col("r.band_hash") &&
          col("l.doc_id") < col("r.doc_id") &&
          firstSharedBand === col("l.band") + 1)
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
  }

  /** Embedding-cosine near-dup pairs with blocking: pairs are only
    * formed inside a block (label, shard, LSH bucket — the standard
    * entity-resolution move that turns O(n²) into Σ block²). Norms are
    * precomputed once per vector so each pair costs one dot product.
    * For unblocked scale, feed `Vectors.lshBucket` as the block column.
    */
  def embeddingNearDupPairs(emb: DataFrame, block: String,
      threshold: Double): DataFrame = {
    import graft.functions.Vectors
    val n = emb.select(col("vec_id"), col(block), col("embedding"),
      Vectors.norm2(col("embedding")).as("nrm"))
    n.as("a")
      .join(n.as("b"),
        col(s"a.$block") === col(s"b.$block") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col(s"a.$block").as(block),
        round(Vectors.dot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Embedding-cosine near-dup WITHOUT a blocking column — the
    * sub-quadratic alternative to [[embeddingNearDupPairs]] for
    * corpora with no usable block key (or whose blocks are themselves
    * dense: Σ block² is quadratic in cluster size, the q96/q142
    * frontier). Candidates come from the multi-table sorted-sketch
    * adjacency ([[Similarity.knnGraphSorted]]'s core, Manku-style
    * sorted fingerprints): ≤ tables·n·window exact-cosine kernels,
    * linear in n — near-identical pairs (the ones a high `threshold`
    * targets) disagree on ~1% of sign bits and survive the permuted
    * sort windows with probability ≥ the SimilaritySpec-pinned recall
    * floor. APPROXIMATE by design: a pair missed by every table's
    * window is not scored (q146's oracle replays the construction, so
    * the gate is exact; the recall-vs-exhaustive floor is pinned on
    * the replicated corpus). Output (vec_a, vec_b, sim), va < vb. */
  def embeddingNearDupSorted(emb: DataFrame, threshold: Double, dim: Int,
      nBits: Int = 32, tables: Int = 4, window: Int = 16): DataFrame =
    Similarity.scoredSortedSketchPairs(emb, dim, nBits, tables, window)
      .filter(col("sim") >= threshold)
      .select(col("va").as("vec_a"), col("vb").as("vec_b"), col("sim"))

  /** Per-crawl-round embedding near-dup — the vector-tier twin of
    * [[incrementalLshPairs]]: every ≥ `threshold` pair with at least
    * one member in the NEW batch, never old×old (those were reported
    * when the old side was itself new). A batch vec_id also present
    * in `corpus` is a CHANGED vector: the batch version fully replaces
    * the corpus row (anti-join), exactly the text path's contract.
    *
    * Candidates are the batch-INCIDENT subset of the sorted-sketch
    * adjacency over corpus ∪ batch, filtered BEFORE the kernel — the
    * exact-cosine cost is O(batch · tables · window), not
    * O(corpus · tables · window); the rank pass over the union is
    * narrow integer data (16 B/row). Output and semantics equal
    * [[embeddingNearDupSorted]] over the union restricted to
    * batch-incident pairs (DedupSpec pins the equivalence), so the
    * q147 oracle replays the full-corpus construction plus the
    * incident filter. */
  def embeddingNearDupIncremental(newVecs: DataFrame, corpus: DataFrame,
      threshold: Double, dim: Int, nBits: Int = 32, tables: Int = 4,
      window: Int = 16): DataFrame = {
    val batch = requireUniqueBatchVecIds(newVecs, "embeddingNearDupIncremental")
    // same O(batch) barrier as the indexed path (r22): newIds feeds
    // the anti-join, both incidence marker broadcasts and the batch-
    // size guard probe — one distinct instead of four
    val newIds = batch.select(col("vec_id")).distinct()
      .localCheckpoint(eager = false)
    val union = corpus.select(col("vec_id"), col("embedding"))
      .join(newIds, Seq("vec_id"), "left_anti")
      .unionByName(batch)
    // incidence filtered BEFORE the pair-dedup shuffle (r14): the
    // O(corpus·tables·window) adjacency fan-out stays in-pipeline and
    // only batch-incident pairs reach a shuffle or the kernel
    val cand = Similarity.batchIncidentSortedCandidates(
      union, newIds, dim, nBits, tables, window)
    Similarity.scoreSketchPairs(union, cand)
      .filter(col("sim") >= threshold)
      .select(col("va").as("vec_a"), col("vb").as("vec_b"), col("sim"))
  }

  /** Lazy unique-id guard on a per-round batch (the simhashPairs
    * move): duplicate vec_id rows would multiply scored pairs through
    * the scoring join, and a NULL vec_id row would pass the duplicate
    * check and then silently vanish downstream (the null-propagating
    * `a.vec_id =!= b.vec_id` join condition discards its candidate
    * rows) — raise loudly on BOTH at first execution, mirroring the
    * NULL-specific message the eager boundaries use
    * ([[VersionedIndex.requireUniqueIds]]). The window shuffle is
    * batch-sized (NULLs all land in one window partition, but a batch
    * is per-round small by contract). */
  private def requireUniqueBatchVecIds(newVecs: DataFrame,
      where: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
    newVecs.select(col("vec_id"), col("embedding"))
      .withColumn("_idn", count(lit(1)).over(w))
      .select(col("vec_id"),
        when(col("vec_id").isNull, raise_error(
          lit(s"$where: NULL vec_id row in the batch — vec_ids must " +
            "be non-null (NULL ids silently drop out of the scoring " +
            "join)")))
          .when(col("_idn") > 1, raise_error(concat(
            lit(s"$where: duplicate vec_id "), col("vec_id").cast("string"),
            lit(" in the batch — vec_ids must be unique per round"))))
          .otherwise(col("embedding")).as("embedding"))
      // the guarded frame feeds the candidate leg AND both sides of
      // the scoring self-join: checkpoint so the guard's window
      // shuffle is paid once (the simhashPairs move, verbatim)
      .localCheckpoint(eager = false)
  }

  /** [[embeddingNearDupIncremental]] against a persisted sketch index
    * ([[Similarity.writeSketchIndex]]): identical semantics, but the
    * corpus side's canonical codes AND vectors are parquet reads —
    * the per-round plane-dot kernel runs ONLY on the batch (the
    * corpus was hashed once, at build). dim/nBits come from the
    * index's stored params; (tables, window) stay query-time knobs
    * because the canonical code serves any permutation set. */
  def embeddingNearDupIndexed(newVecs: DataFrame, indexPath: String,
      threshold: Double, tables: Int = 4, window: Int = 16): DataFrame = {
    val spark = newVecs.sparkSession
    graft.plans.GraftFunctions.register(spark)
    val params = VersionedIndex.current(spark, indexPath)
    val (dim, nBits) = (params("dim").toInt, params("nBits").toInt)
    val corpus = Similarity.readSketchTable(spark, indexPath)
    val guarded = requireUniqueBatchVecIds(newVecs, "embeddingNearDupIndexed")
    // O(batch) barriers (r22, VERDICT item 8): `newIds` feeds FOUR
    // consumers (the changed-id anti-join, two incidence marker
    // broadcasts, the batch-size guard probe) and `batch` feeds THREE
    // (the code view plus both scoring legs) — without the barriers
    // each consumer re-ran the distinct / the batch plane-dot kernel
    // from the guarded frame. Both pins are batch-sized (8 B ids;
    // batch × (canon + embedding)), never corpus-sized, so the scale
    // posture of scoreSketchPairs (no corpus-width pin) is unchanged.
    val newIds = guarded.select(col("vec_id")).distinct()
      .localCheckpoint(eager = false)
    val batch = guarded.select(col("vec_id"),
      graft.functions.Vectors.lshBucket(col("embedding"), dim, nBits).as("canon"),
      col("embedding"))
      .localCheckpoint(eager = false)
    // changed ids: the batch version fully replaces the indexed row
    val union = corpus.join(newIds, Seq("vec_id"), "left_anti")
      .unionByName(batch)
    // narrow (16 B/row) code view, checkpointed: the T-way code
    // fan-out + the generate's pushed filter would otherwise
    // re-evaluate the batch leg's kernel per consumer
    val codes = union.select(col("vec_id"), col("canon").as("_canon"))
      .localCheckpoint(eager = false)
    // incidence filtered BEFORE the pair-dedup shuffle (r14, the
    // in-memory form's move): the only corpus-proportional shuffle
    // left in an indexed round is the narrow (16 B/row) rank pass
    val cand = Similarity.batchIncidentCandidatesFromCodes(
      codes, newIds, nBits, tables, window)
    Similarity.scoreSketchPairs(union, cand)
      .filter(col("sim") >= threshold)
      .select(col("va").as("vec_a"), col("vb").as("vec_b"), col("sim"))
  }

  /** Near-dup CLUSTERING: connected components over a pair list →
    * (doc_id, cluster, csize), cluster = min doc_id in the component.
    * This is the curation step after pair detection — "keep one doc
    * per dup cluster" needs components, not pairs (a–b and b–c must
    * collapse even when a–c was never emitted).
    *
    * Two tiers, one fixpoint (min-id labels are algorithm-independent,
    * so the tiers are interchangeable by value):
    *
    *  - FAST PATH: min-label propagation + label-of-label shortcut,
    *    one join+aggregation per round with convergence counted by an
    *    accumulator riding the localCheckpoint materialization — zero
    *    extra jobs. Converges in ~log rounds on the LOW-DIAMETER
    *    graphs near-dup detection actually produces (dense clusters of
    *    mutual near-dups). But it is O(diameter) in the worst case:
    *    on a sparse adversarially-ordered graph, labels point straight
    *    at scattered local minima (their own roots), the shortcut
    *    compresses nothing, and the global min crawls one edge hop per
    *    round. So the tight ⌈log₂n⌉+2 cap here means "deep graph",
    *    NOT an error —
    *  - ROBUST PATH (cap tripped): alternating LARGE-STAR/SMALL-STAR
    *    (Kiveris et al., "Connected Components in MapReduce and
    *    Beyond", SoCC'14) — links each side of every node's
    *    neighborhood to its closed-neighborhood minimum; converges to
    *    min-rooted stars in O(log² n) rounds PROVEN, independent of
    *    diameter. A 400-link revision chain (a LEGITIMATE dup graph:
    *    drifting near-identical versions) needs this tier — it blew
    *    even a 4·(log₂n+2) fast-path cap (r15, measured; DedupSpec
    *    pins the chain).
    *
    * Every round in both tiers is joins/aggregations over the GRAPH
    * (orders of magnitude smaller than the corpus), localCheckpointed
    * so lineage doesn't grow with iterations. The robust tier's cap
    * converts a hang into a LOUD failure, never a silent wrong answer:
    * returning unconverged would emit split clusters (wrong dedup /
    * leaky splits) with no error. */
  def dupClusters(pairs: DataFrame, a: String = "doc_a", b: String = "doc_b"): DataFrame = {
    val spark = pairs.sparkSession
    // Superseded per-round checkpoints are released AS the loop runs:
    // Dataset.unpersist never sees RDD-level checkpoints, so an
    // iterative operator running every streaming trigger
    // (dupClusterSink, 5 s cadence) would otherwise float
    // rounds × graph-size of blocks until driver GC. Only the FINAL
    // labels checkpoint stays alive — the lazy result the caller gets
    // is backed by it alone, so no eager result materialization (an
    // extra driver-synchronized job per call, measured +17–27% on the
    // CC-gated queries) is needed.
    // failure-path hygiene: every live checkpoint registers here and
    // deregisters when released, so an exception anywhere (the robust
    // cap's require, a failed job mid-round — a streaming trigger
    // Structured Streaming will retry) drops ALL surviving blocks in
    // the finally instead of re-introducing the GC float on exactly
    // the retry path
    val live = scala.collection.mutable.Set[DataFrame]()
    def ckpt(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(); live += c; c
    }
    def release(df: DataFrame): Unit = {
      org.apache.spark.sql.GraftBridge.releaseLocalCheckpoint(df)
      live -= df
    }
    val result = try {
    // canonical undirected edges (x = bigger, y = smaller); self-pairs
    // carry no connectivity but their nodes are still NODES — a doc
    // paired only with itself is a singleton cluster, not a dropped
    // row (mergePairsIntoClusters feeds prior singleton state rows
    // through here as self-edges and must get them back unchanged)
    // raw checkpointed FIRST: the pairs expression may be a whole
    // detection plan (kernels), and e + nodes each read it again
    val raw = ckpt(pairs
      .select(greatest(col(a), col(b)).as("x"), least(col(a), col(b)).as("y")))
    val e = ckpt(raw.filter(col("x") =!= col("y")).distinct())
    // the node count rides the checkpoint materialization as an
    // accumulator (r21) instead of a separate count() job — it only
    // seeds the fast-path round cap (log₂n + 2), where a task-retry
    // over-count can only ADD slack rounds, never a wrong answer (the
    // loop exits on changed == 0 either way; the n == 0 empty-input
    // case reads exactly 0 because an empty frame schedules no rows)
    val nAcc = spark.sparkContext.longAccumulator("graft.dupClusters.nodes")
    val nodesRaw = raw.select(col("x").as("node"))
      .union(raw.select(col("y").as("node"))).distinct()
    val nodes = ckpt(nodesRaw.mapPartitions { it =>
      it.map { r => nAcc.add(1L); r }
    }(org.apache.spark.sql.Encoders.row(nodesRaw.schema)))
    release(raw)
    // DEPENDS on ckpt being an EAGER localCheckpoint (r22, advisor):
    // the accumulator is populated by the materialization job above;
    // if ckpt is ever made lazy, this reads 0, the fast-path cap
    // collapses to 2 rounds and every input takes the slow path —
    // silently. The assert converts that refactor hazard into a loud
    // failure (an eagerly-checkpointed nonempty frame must have
    // scheduled its rows by now).
    val n = nAcc.value.longValue()
    assert(n > 0 || nodes.isEmpty,
      "dupClusters: node accumulator read 0 on a nonempty frame — " +
        "ckpt() must stay an EAGER localCheckpoint")
    val log2n = 63 - java.lang.Long.numberOfLeadingZeros(math.max(n, 1L))

    // ---- fast path ----
    // NOT checkpointed (r21): sym is a pure union over e's already-
    // materialized blocks — re-reading those blocks per round is
    // cheaper than a third edge-set copy in executor storage plus the
    // extra materialization job the checkpoint cost
    val sym = e.union(e.select(col("y").as("x"), col("x").as("y")))
    var labels = ckpt(nodes.withColumn("lbl", col("node")))
    val fastCap = log2n + 2
    var round = 0
    var changed = if (n == 0L) 0L else 1L
    while (changed > 0 && round < fastCap) {
      val neighborMin = sym
        .join(labels.select(col("node").as("y"), col("lbl").as("nlbl")), "y")
        .groupBy(col("x").as("node")).agg(min(col("nlbl")).as("nmin"))
      // lbl is always itself a node (init lbl=node; min preserves
      // membership), so the shortcut join always matches.
      val shortcut = labels
        .join(labels.select(col("node").as("lbl"), col("lbl").as("ll")), "lbl")
      val next = shortcut.join(neighborMin, Seq("node"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl")), col("ll")).as("lbl"),
          (coalesce(col("nmin"), col("lbl")) < col("lbl") ||
            col("ll") < col("lbl")).as("_chg"))
      val acc = spark.sparkContext.longAccumulator("graft.dupClusters.changed")
      val chgIdx = next.schema.fieldIndex("_chg")
      val counted = next.mapPartitions { it =>
        it.map { r =>
          if (!r.isNullAt(chgIdx) && r.getBoolean(chgIdx)) acc.add(1L)
          r
        }
      }(org.apache.spark.sql.Encoders.row(next.schema))
      val nextCk = counted.localCheckpoint()
      live += nextCk
      changed = acc.value
      release(labels) // superseded round, blocks dead
      labels = nextCk.drop("_chg")
      live += labels  // release(labels) resolves the Project wrapper
      round += 1
    }

    // ---- robust path, entered only when the fast cap tripped ----
    if (changed > 0) {
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"dupClusters: graph deeper than the fast-path bound " +
          s"($changed labels still moving after $fastCap rounds) — " +
          "switching to alternating-star CC")
      // One star phase. m = min of each node's CLOSED neighborhood;
      // the selected side's neighbors re-link to m. Both phases emit
      // canonical rows by construction: large-star's nb > node ≥ m;
      // small-star's nb ∈ N(node) so nb ≥ m; self-loops drop.
      def star(edges: DataFrame, large: Boolean): DataFrame = {
        val s = edges.select(col("x").as("n"), col("y").as("nb"))
          .union(edges.select(col("y").as("n"), col("x").as("nb")))
        val mins = s.groupBy(col("n")).agg(min(col("nb")).as("mnb"))
          .select(col("n"), least(col("n"), col("mnb")).as("m"))
        val joined = s.join(mins, "n")
        val out =
          if (large) joined.filter(col("nb") > col("n"))
            .select(col("nb").as("x"), col("m").as("y"))
          else joined.filter(col("nb") < col("n"))
            .select(col("nb").as("x"), col("m").as("y"))
            .unionByName(mins.select(col("n").as("x"), col("m").as("y")))
        out.filter(col("x") =!= col("y")).distinct()
      }
      // the proof's O(log² n) shape; practice is ~log n rounds, so
      // hitting this cap means a real hang, not a deep graph
      val starCap = (log2n + 3) * (log2n + 3)
      var se = e
      // |se| seeds the cardinality side of the fixpoint test; later
      // rounds carry it forward from the total accumulator — the
      // ONLY extra action the probe costs is this one count
      var seCount = se.count()
      var starRound = 0
      var done = false
      while (!done && starRound < starCap) {
        // fixpoint probe rides the checkpoint materialization (the
        // fast path's accumulator pattern): set equality ⇔ e2 ⊆ se
        // (no row misses the _old marker) ∧ |e2| = |se| — one job per
        // round instead of three (ckpt + count + anti-join). Both
        // sides of the probe join are distinct on (x, y) (star()
        // ends .distinct(); e is built distinct), so the left join
        // never multiplies rows. Accumulator trust model: task
        // retries can only OVER-count, so accNew == 0 is reliable
        // (a real new row can never read as zero: e2 ⊆ se holds for
        // certain), but accTot and the carried cardinality can both
        // be retry-inflated — gating the confirmation on
        // accTot == seCount would let persistent retries silently
        // suppress it until starCap crashes a converged graph. So the
        // exact count fires on accNew == 0 ALONE; it is paid only in
        // candidate-fixpoint rounds (practice: the final round plus
        // rare retry-noise rounds), and a failed confirmation just
        // keeps looping with the corrected exact cardinality, which
        // also repairs any inflation in seCount. The fast path needs
        // no analogue:
        // its counter only gates EXTRA rounds — labels are already a
        // fixpoint when it reads zero — while here `done` asserts a
        // set equality the labels join then RELIES on.
        val accNew = spark.sparkContext.longAccumulator("graft.dupClusters.starNew")
        val accTot = spark.sparkContext.longAccumulator("graft.dupClusters.starTotal")
        val probed = star(star(se, large = true), large = false)
          .join(se.select(col("x"), col("y"), lit(true).as("_old")),
            Seq("x", "y"), "left")
        val oldIdx = probed.schema.fieldIndex("_old")
        val counted = probed.mapPartitions { it =>
          it.map { r =>
            accTot.add(1L)
            if (r.isNullAt(oldIdx)) accNew.add(1L)
            r
          }
        }(org.apache.spark.sql.Encoders.row(probed.schema))
        val e2 = ckpt(counted.drop("_old"))
        val exactCount =
          if (accNew.value == 0L) Some(e2.count())
          else None
        done = exactCount.contains(seCount)
        if (!(se eq e)) release(se) // superseded round
        se = e2
        seCount = exactCount.getOrElse(accTot.value)
        starRound += 1
      }
      require(done,
        s"dupClusters failed to converge in $starCap alternating-star " +
          "rounds — far beyond the O(log² n) bound; the loop is " +
          "wedged, not the graph deep")
      // at the fixpoint every component is a star (member, root), the
      // root = component min appearing only on the y side — each
      // non-root node has exactly one label row; roots label themselves
      release(labels) // the fast path's last round
      labels = ckpt(nodes
        .join(se.select(col("x").as("node"), col("y").as("lbl")), Seq("node"), "left")
        .select(col("node"), coalesce(col("lbl"), col("node")).as("lbl")))
      release(se)
    }

    // e/sym/nodes are dead once the final labels checkpoint exists:
    // the returned (lazy) frame reads labels' blocks only. The one
    // floating block set per call is that final graph-sized labels
    // checkpoint, reclaimed by GC after the caller consumes it.
    release(e)
    release(nodes)
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("csize"))
    labels.join(sizes, "lbl")
      .select(col("node").as("doc_id"), col("lbl").as("cluster"), col("csize"))
    } catch {
      // on failure nothing escapes — drop every surviving checkpoint
      // (on success the final labels checkpoint backs the returned
      // lazy frame and must stay; `live` is only consulted here)
      case t: Throwable =>
        live.foreach(org.apache.spark.sql.GraftBridge.releaseLocalCheckpoint)
        throw t
    }
    result
  }

  /** Fold a round's near-dup pairs into an accumulated cluster state —
    * the per-crawl-round form of [[dupClusters]]. `state` is a prior
    * (doc_id, cluster, …) assignment; its rows enter the component
    * computation as STAR edges (member → cluster representative),
    * which preserve exactly the connectivity the accumulated pairs
    * established: CC over (star(state) ∪ newPairs) equals CC over the
    * union of every pair set ever folded in, and the min-id labels
    * coincide because each star's hub IS its component's min id. So a
    * recurring deployment pays per round: pair detection on the batch
    * (O(batch) kernels via [[embeddingNearDupIndexed]]) + CC over a
    * GRAPH-sized edge set (state + new pairs — narrow id rows,
    * ≪ corpus), never the corpus re-hash the one-shot
    * [[dupClusters]]-over-[[embeddingNearDupSorted]] funnel pays
    * (measured 3.7× at ×20 fixed-batch, SCALE.md r14). Cluster sizes
    * are recomputed over the merged state. A batch with no pairs folds
    * to the prior state unchanged (modulo recomputed csize).
    *
    * MONOTONE by construction: edges only ever accumulate, so a
    * vector re-ingested with a DIFFERENT embedding keeps every
    * membership its old embedding earned. That is the right semantic
    * for append-only corpora (q150's gated rounds are disjoint id
    * sets); for a stream that re-delivers changed vectors, use
    * [[graft.streaming.Pipelines.dupClusterSink]], whose state keeps
    * the exact pair set and RETRACTS a batch id's old pairs before
    * re-closing. */
  def mergePairsIntoClusters(state: DataFrame, pairs: DataFrame,
      a: String = "doc_a", b: String = "doc_b"): DataFrame =
    dupClusters(
      pairs.select(col(a), col(b)).unionByName(
        state.select(col("doc_id").as(a), col("cluster").as(b))), a, b)

  /** Cap on the affected-component node sets
    * [[recloseAffectedComponents]] broadcasts: past it, the
    * "affected subgraph" IS most of the graph, and the incremental
    * path's bookkeeping would cost more than the full re-close it
    * exists to avoid — so overflow falls back, it never errors
    * (semantics are identical either way; this is a route choice,
    * not a contract). Same order as the batch-incident cap: ~8 MB
    * of longs broadcast-builds without driver memory pressure. */
  private[graft] val MaxAffectedIds = 1000000

  /** Incremental re-close of an accumulated cluster state after a
    * retraction+detection round — the O(affected) form of
    * `dupClusters(kept ∪ newPairs)` that [[graft.streaming
    * .Pipelines.dupClusterSink]] folds every trigger. The full
    * re-close runs the iterative CC over the ENTIRE accumulated pair
    * graph, which grows monotonically with total duplicates ever seen
    * while batches stay constant — per-trigger cost creeping on
    * exactly the corpora dedup matters for. But labels of components
    * not incident to (retracted ids ∪ new-pair endpoints) are a
    * FIXPOINT: no kept edge crosses a component boundary (both
    * endpoints of every surviving pair share a prior label, and every
    * new pair's endpoints are affected by construction), so CC over
    * (kept ∪ newPairs) decomposes exactly into untouched prior
    * components ∪ CC over (touched kept pairs ∪ newPairs), and the
    * min-id labels coincide side by side because the node sets are
    * disjoint. The iterative part — the only super-linear term —
    * runs over the affected subgraph only; the untouched assignment
    * rows pass through as a single columnar scan.
    *
    * CONTRACT: `prior` is the committed closure of exactly
    * (kept ∪ the retracted pairs) — i.e. `kept` is `prior`'s pair set
    * minus every pair incident to `dirtyIds` (a single-column id
    * frame; pairs lose edges through no other mechanism). New-pair
    * endpoints may freely exist in `prior` (corpus partners with old
    * memberships) — their components are marked affected through the
    * same label join as the dirty ids'.
    * [[graft.streaming.Pipelines.applyDupClusterBatch]] constructs
    * exactly this shape.
    *
    * Scale routing: the affected node set and the affected
    * components' member set are each probed LIMIT-bounded against
    * `maxAffected` BEFORE being broadcast (the batch-incident cap
    * playbook — the probe never scans what it rejects, and the
    * optimizer's size estimate is not trusted in its dangerous
    * range); overflow means the affected subgraph is graph-sized, so
    * the full re-close is the cheaper route and the fallback takes
    * it. Affected labels are collected and re-enter as a LOCAL
    * relation: both downstream uses (member expansion, untouched
    * anti-join) would otherwise re-execute the label subtree — one
    * more full scan of the state each. */
  def recloseAffectedComponents(prior: DataFrame, kept: DataFrame,
      newPairs: DataFrame, dirtyIds: DataFrame,
      maxAffected: Int = MaxAffectedIds): DataFrame =
    recloseParts(prior, kept, newPairs, dirtyIds, maxAffected) match {
      case RecloseFull(full) => full
      case RecloseIncremental(lbls, _, reclosed) =>
        assembleReclosed(prior, lbls, reclosed)
    }

  /** Full assignment from the incremental route's parts: untouched
    * prior rows pass through, the re-closed affected subgraph joins
    * them. ONE definition — the operator's public form, the sink's
    * whole-write route, and the partial commit's manifest fallback
    * all assemble through it. */
  private[graft] def assembleReclosed(prior: DataFrame, lbls: DataFrame,
      reclosed: DataFrame): DataFrame =
    prior.join(lbls, col("cluster") === col("_aff_lbl"), "left_anti")
      .select(col("doc_id"), col("cluster"), col("csize"))
      .unionByName(reclosed)

  /** Accumulated-pair-count gate for the PARTIAL state commit: below
    * it the whole rewrite is the cheaper route. Measured end to end
    * on the growing-graph route A/B (SCALE.md r16, local[32] NVMe,
    * whole vs partial trigger wall): 10M pairs 13.2 s vs 14.5 s
    * (whole still ahead — the partial path's fixed planning/pruned-
    * read/bookkeeping jobs outweigh a page-cached write), 15M pairs
    * 21.9 s vs 15.1 s (partial wins 1.45×) — the measured crossover
    * sits at ≈12M pairs (~200 MB of state members). Set there for
    * single-node deployments; on a real cluster or object store the
    * whole write is bandwidth-bound while the partial overhead stays
    * driver-scheduling-bound, so the crossover only moves DOWN — the
    * per-call `partialMinPairs` knob exists for exactly that. Route
    * choice only: content is identical either way, and the layout
    * upgrade it triggers is one-way (see
    * [[graft.streaming.Pipelines.applyDupClusterBatch]]). */
  private[graft] val CcPartialCommitMinPairs = 12000000L

  /** The re-close route, exposed piecewise for the PARTIAL state
    * commit ([[graft.streaming.Pipelines.applyDupClusterBatch]]): the
    * incremental arm carries the affected-label frame (a broadcast
    * LOCAL relation, ≤ maxAffected rows) and the re-closed affected
    * assignment — exactly the pieces the commit needs to rewrite only
    * the touched label-hash buckets and CARRY the rest. The fallback
    * arm is the full re-close, where no bounded touched set exists
    * and a whole rewrite is the honest route. */
  private[graft] sealed trait RecloseRoute
  private[graft] final case class RecloseFull(assignment: DataFrame)
    extends RecloseRoute
  /** `affectedLbls`: one `_aff_lbl` column, broadcast local relation.
    * `members`: the affected components' member ids (doc_id; bounded
    * by the cap probe) — the partial commit derives the touched
    * pair-bucket superset from it instead of scanning the pairs
    * member. `reclosed`: the (doc_id, cluster, csize) assignment of
    * the re-closed affected subgraph only. */
  private[graft] final case class RecloseIncremental(
      affectedLbls: DataFrame, members: DataFrame, reclosed: DataFrame)
    extends RecloseRoute

  /** `accAll`: optional supplier of (kept ∪ newPairs).distinct() for
    * the full-re-close fallback — a caller that also needs the union
    * (the sink stages it as the pairs member) passes a CHECKPOINTED
    * one so the graph-sized shuffle runs once, not once per consumer;
    * it is only invoked on the fallback route. */
  private[graft] def recloseParts(prior: DataFrame, kept: DataFrame,
      newPairs: DataFrame, dirtyIds: DataFrame,
      maxAffected: Int = MaxAffectedIds,
      accAll: Option[() => DataFrame] = None): RecloseRoute = {
    val spark = prior.sparkSession
    import spark.implicits._
    def fullReclose() =
      RecloseFull(dupClusters(accAll.map(_.apply())
        .getOrElse(kept.unionByName(newPairs).distinct())))
    val affectedNodes = dirtyIds.toDF("doc_id")
      .unionByName(newPairs.select(col("doc_a").as("doc_id")))
      .unionByName(newPairs.select(col("doc_b").as("doc_id")))
      .distinct()
    if (affectedNodes.limit(maxAffected + 1).count() > maxAffected)
      return fullReclose()
    // prior labels of the affected components — every retracted pair's
    // far endpoint shares its dirty endpoint's prior label, so dirty
    // ids + new-pair endpoints mark every component that can change
    val lblRows = prior.join(broadcast(affectedNodes), Seq("doc_id"))
      .select(col("cluster")).distinct()
      .limit(maxAffected + 1).collect()
    if (lblRows.length > maxAffected) return fullReclose()
    val lbls = broadcast(lblRows.map(_.getLong(0)).toSeq
      .toDF("_aff_lbl"))
    val members = prior.join(lbls, col("cluster") === col("_aff_lbl"))
      .select(col("doc_id"))
    if (members.limit(maxAffected + 1).count() > maxAffected)
      return fullReclose()
    // kept pairs inside affected components: both endpoints share the
    // prior label, so ONE side's membership decides the pair
    val touched = kept.join(
      broadcast(members.select(col("doc_id").as("doc_a"))),
      Seq("doc_a"), "left_semi")
    RecloseIncremental(lbls, members,
      dupClusters(touched.unionByName(newPairs).distinct()))
  }

  /** Hash-bucket count of the cluster-state members when the BUCKETED
    * layout is chosen (r16). `clusters` buckets by hash(cluster),
    * `pairs` by hash(doc_a) — the partial-commit unit: an incremental
    * re-close knows exactly which labels changed and which pairs
    * moved, so a trigger rewrites ONLY the buckets those hash into
    * and CARRIES the rest in the manifest (the sketch/LSH indexes'
    * partial-commit protocol on the state tables). Bucketing is a
    * `buckets > 0` opt-in on the writers, NOT the default: it costs a
    * repartition per staged member and ~nBuckets-dir IO on every full
    * scan, which the growing-graph route A/B measured as a net LOSS
    * below the ≈12M-pair crossover ([[CcPartialCommitMinPairs]]) —
    * small states keep the r15 unpartitioned layout, and the sink
    * upgrades in place the first time the graph crosses the gate.
    * Stored in params; reads resolve it from there. */
  private[graft] val CcStateBuckets = 64
  /** Bucket count of the COMMITTED layout at `path`: None = the
    * unpartitioned (r15) layout. */
  private[graft] def ccStateBucketsOf(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[Int] =
    VersionedIndex.currentAt(spark, path)
      .flatMap(_._2.get("ccBuckets").map(_.toInt))

  private def ccClustersStaged(state: DataFrame, n: Int): DataFrame =
    if (n <= 0) state.select(col("doc_id"), col("cluster"), col("csize"))
    else state.select(col("doc_id"), col("cluster"), col("csize"),
      VersionedIndex.bucketCol(col("cluster"), n).as("idx_bucket"))
  private def ccPairsStaged(pairsAcc: DataFrame, n: Int): DataFrame =
    if (n <= 0) pairsAcc.select(col("doc_a"), col("doc_b"))
    else pairsAcc.select(col("doc_a"), col("doc_b"),
      VersionedIndex.bucketCol(col("doc_a"), n).as("idx_bucket"))
  private def ccPartitionBy(n: Int): Map[String, Seq[String]] =
    if (n <= 0) Map.empty
    else Map("clusters" -> Seq("idx_bucket"), "pairs" -> Seq("idx_bucket"))
  private def ccParams(n: Int): Map[String, String] =
    Map("kind" -> "ccstate") ++
      (if (n > 0) Map("ccBuckets" -> n.toString) else Map.empty)
  // within-partition sort: per-cluster reads prune by row-group stats
  // (inside the one bucket a label hashes to, on the bucketed layout;
  // inside each sorted run otherwise — [[readClusterMembers]])
  private val CcClusterBy = Map("clusters" -> Seq("cluster", "doc_id"),
    "pairs" -> Seq("doc_a", "doc_b"))

  /** Persist an accumulated cluster state (the [[VersionedIndex]]
    * contract: atomic rename commits, the previous version readable
    * until the flip, crash-safe staging). `buckets = 0` (default) is
    * the unpartitioned r15 layout — each commit rewrites the
    * graph-sized table whole, the right trade for small states and
    * the one-shot/monotone forms (q150). `buckets > 0` opts into the
    * label-hash bucketed layout whose unit of rewrite is the BUCKET
    * (see [[CcStateBuckets]]) — what [[commitClusterStatePartial]]
    * needs to carry untouched buckets per trigger. Rows sort by
    * (cluster, doc_id) within partitions either way, so "members of
    * cluster c" reads prune ([[readClusterMembers]]; SCALE.md
    * "ccstate serving-read probe"). */
  def writeClusterState(state: DataFrame, path: String,
      buckets: Int = 0): Unit =
    VersionedIndex.commit(state.sparkSession, path,
      Seq("clusters" -> ccClustersStaged(state, buckets)),
      ccParams(buckets),
      partitionBy = ccPartitionBy(buckets).view.filterKeys(_ == "clusters").toMap,
      clusterBy = CcClusterBy)

  /** The RETRACTION-capable state commit: the cluster assignment plus
    * the accumulated PAIR set it was closed from, as a second member
    * table. Star-compressed clusters are a LOSSY summary (the pair
    * history is gone — removing one member can split a component in
    * ways the stars can't express), so revoking a changed vector's
    * old memberships exactly requires the pairs. [[dupClusterSink]]
    * bootstraps through this (and commits incrementally through
    * [[commitClusterStatePartial]]); the pairs-less
    * [[writeClusterState]] stays the one-shot/monotone form
    * ([[mergePairsIntoClusters]], q150). Both member tables are
    * graph-sized (≪ corpus) and bucketed (see [[writeClusterState]];
    * pairs bucket by hash(doc_a)). */
  def writeClusterStateWithPairs(state: DataFrame, pairsAcc: DataFrame,
      path: String, buckets: Int = 0): Unit =
    VersionedIndex.commit(state.sparkSession, path,
      Seq("clusters" -> ccClustersStaged(state, buckets),
        "pairs" -> ccPairsStaged(pairsAcc, buckets)),
      ccParams(buckets),
      partitionBy = ccPartitionBy(buckets),
      clusterBy = CcClusterBy)

  /** Current committed cluster state at `path` (see
    * [[writeClusterState]]); the internal bucket column is stripped.
    * Unpartitioned (`buckets = 0`) states read as-is. */
  def readClusterState(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    dropBucket(VersionedIndex.readTable(spark, path, "clusters"))

  /** Serving read "the members of cluster c": on the bucketed layout,
    * partition-pruned to the ONE bucket the label hashes into, then
    * row-group-pruned by the within-bucket (cluster, doc_id) sort —
    * a constant-row read regardless of state size (SCALE.md "ccstate
    * serving-read probe": 4,096-row scans at ×10 and ×100 alike). On the
    * unpartitioned layout the same commit sort gives row-group
    * pruning inside each sorted run. On the bucketed layout a plain
    * `filter(cluster === c)` over [[readClusterState]] cannot prune
    * partitions (the bucket is a hash the reader must supply) —
    * serve through this. */
  def readClusterMembers(spark: org.apache.spark.sql.SparkSession,
      path: String, cluster: Long): DataFrame = {
    val raw = VersionedIndex.readTable(spark, path, "clusters")
    val pruned = ccStateBucketsOf(spark, path) match {
      case Some(n) if raw.columns.contains("idx_bucket") =>
        raw.filter(col("idx_bucket") === VersionedIndex.bucketCol(lit(cluster), n))
      case _ => raw // unpartitioned layout: row-group stats only
    }
    dropBucket(pruned.filter(col("cluster") === cluster))
  }

  /** The accumulated pair set behind a retraction-capable state
    * ([[writeClusterStateWithPairs]]); None for states committed by
    * the pairs-less form. The internal bucket column is stripped. */
  def readClusterPairs(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[DataFrame] =
    if (VersionedIndex.manifest(spark, path).contains("pairs"))
      Some(dropBucket(VersionedIndex.readTable(spark, path, "pairs")))
    else None

  /** PARTIAL state commit for one incremental re-close round — the
    * r16 answer to the last O(graph)-per-trigger term in
    * [[graft.streaming.Pipelines.dupClusterSink]]: with the fold
    * already incremental, every non-quiet trigger still REWROTE both
    * graph-sized members whole, while the content of all but a few
    * buckets was byte-identical. Here only
    *  - `clusters` buckets holding an affected OR re-closed label, and
    *  - `pairs` buckets holding a retracted or new pair (by doc_a)
    * rewrite; the rest CARRY in the manifest
    * ([[VersionedIndex.bucketRewrite]], the sketch/LSH protocol,
    * per-table touched sets, the version chain judged over both
    * members). Falls back to the whole
    * rewrite when the manifest cannot support a partial commit
    * (whole-table owners, emptied state, version chain at the cap) —
    * a route choice, identical content either way.
    *
    * Inputs are the trigger's frames: `lbls`/`reclosed` from
    * [[recloseParts]]' incremental arm, `ids` the batch ids,
    * `newPairs` the detected pairs. `fullPairs` is the LAZY
    * whole-rewrite pair fallback (kept ∪ new — only executed on that
    * route); the assignment fallback assembles internally from the
    * parts (untouched prior rows ∪ reclosed). */
  private[graft] def commitClusterStatePartial(
      spark: org.apache.spark.sql.SparkSession, path: String,
      lbls: DataFrame, members: DataFrame, reclosed: DataFrame,
      ids: DataFrame, newPairs: DataFrame,
      fullPairs: => DataFrame): Unit = {
    // the committed layout must be BUCKETED for a partial commit to
    // have a rewrite unit; an unpartitioned (below-crossover) layout
    // upgrades in place through the whole-write fallback, and
    // the NEXT trigger commits partially
    val n = ccStateBucketsOf(spark, path).getOrElse(0)
    if (n <= 0) {
      writeClusterStateWithPairs(
        assembleReclosed(readClusterState(spark, path), lbls, reclosed),
        fullPairs, path, CcStateBuckets)
      return
    }
    // `reclosed` (dupClusters output: csize aggregation + join over
    // the internal labels checkpoint) has TWO consumers on this route
    // — the touched-bucket planning below and the staged commit write
    // — so it is materialized once and released with the commit;
    // every other frame here is either already local (`lbls`) or a
    // caller-checkpointed sibling (`ids`, `newPairs`).
    val reclosedCk = reclosed.localCheckpoint()
    try {
    // touched cluster-buckets: buckets of (affected ∪ re-closed)
    // labels — ≤ n ints via a Spark distinct, never a label collect
    val cKeys = lbls.select(col("_aff_lbl").as("cluster"))
      .unionByName(reclosedCk.select(col("cluster")))
    // touched pair-buckets, as a SUPERSET from already-bounded frames
    // (no pairs-member scan — the first cut found the touched set
    // exactly via two semi-joins over the member and paid ~2 s of
    // per-trigger scheduling for precision that buys nothing): a
    // retracted pair sits in bucket(doc_a) where doc_a is either a
    // batch id or the batch id's component partner — and every
    // partner is an affected-component MEMBER by definition. Extra
    // buckets in the superset rewrite with byte-identical content
    // (their pruned read joins against ids/newPairs match nothing) —
    // a little spare IO, never a semantic fork.
    val pKeys = ids.select(col("vec_id").as("doc_a"))
      .unionByName(members.select(col("doc_id").as("doc_a")))
      .unionByName(newPairs.select(col("doc_a")))
    VersionedIndex.bucketRewrite(spark, path, n,
        Seq(Seq("clusters") -> cKeys, Seq("pairs") -> pKeys)).foreach { rw =>
      if (!rw.partial)
        writeClusterStateWithPairs(
          assembleReclosed(readClusterState(spark, path), lbls, reclosedCk),
          fullPairs, path, n)
      else
        // touched-bucket rewrites: partition-pruned reads of exactly
        // the buckets being replaced; untouched components/pairs
        // inside a touched bucket round-trip through the rewrite. The
        // fresh rows need no bucket filter: their buckets are in the
        // touched sets by construction (re-closed labels, new doc_a).
        VersionedIndex.commit(spark, path,
          Seq("clusters" -> rw.prior("clusters")
              .join(lbls, col("cluster") === col("_aff_lbl"), "left_anti")
              .unionByName(ccClustersStaged(reclosedCk, n)),
            "pairs" -> rw.prior("pairs")
              .join(broadcast(ids.select(col("vec_id").as("doc_a"))), Seq("doc_a"), "left_anti")
              .join(broadcast(ids.select(col("vec_id").as("doc_b"))), Seq("doc_b"), "left_anti")
              .unionByName(ccPairsStaged(newPairs, n))),
          ccParams(n),
          partitionBy = ccPartitionBy(n),
          clusterBy = CcClusterBy,
          carry = rw.carry)
    }
    } finally org.apache.spark.sql.GraftBridge
      .releaseLocalCheckpoint(reclosedCk)
  }

  /** The curation end-step: drop every near-duplicate except one
    * representative per cluster (the min-id member, dupClusters'
    * cluster label). Composition: pair detection (LSH) → connected
    * components → anti-join — docs in no cluster pass through
    * untouched. The anti-join's right side is cluster members minus
    * representatives, i.e. graph-sized ≪ corpus — typically
    * broadcast-sized, but the hint is left to AQE: a forced
    * `broadcast()` FAILS (driver OOM) instead of degrading when a
    * pathological corpus makes the drop list huge, while AQE picks
    * the broadcast plan whenever the runtime size fits and falls back
    * to a shuffle join otherwise. */
  def keepOnePerCluster(docs: DataFrame, id: Column, pairs: DataFrame): DataFrame = {
    val drop = dupClusters(pairs)
      .filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id").as("_drop_id"))
    docs.join(drop, id === col("_drop_id"), "left_anti")
  }

  /** 64-bit SimHash per doc from token-count-weighted hash bits. The
    * token hash is the RollingHash64 formula (not xxhash64): its
    * definition is plain 64-bit modular arithmetic, so an external
    * engine can reproduce the full signature for oracle checks.
    *
    * One map pass over the per-doc token array (plans.SimHashSig):
    * summing ±1 per token instance equals summing ±count per distinct
    * token, so the former explode → (doc, token)-count shuffle →
    * signature aggregation collapses to a per-row kernel with NO
    * shuffle at all — the same unification the MinHash tier got in
    * r12. Docs with no tokens drop out (the aggregation form produced
    * no rows for them; the kernel yields NULL, filtered here).
    * DedupSpec pins kernel == aggregation form bit-for-bit on the
    * real corpus; KernelFuzzSpec on random token arrays.
    *
    * CONTRACT: `id` must be unique per input row (the same contract as
    * `docShingles`). The former aggregation form silently merged
    * duplicate-id rows into one signature; the per-row kernel emits
    * one signature PER ROW, so duplicate ids would reach
    * `simhashPairs`' banded join as distinct rows and re-emit the
    * same (doc_a, doc_b) pair with conflicting hamming values. */
  def simhash(docs: DataFrame, id: Column, text: Column): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    docs.select(id.as("doc_id"),
        graft.plans.GraftFunctions.simhashSig(Text.tokens(text)).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** The pre-kernel aggregation formulation of [[simhash]] — the
    * parity oracle DedupSpec runs against the kernel form on the real
    * corpus (kernel == aggregation, bit-for-bit), and the form a
    * grouped/streaming caller with pre-exploded (hash, weight) rows
    * would use. Unlike [[simhash]] it tolerates duplicate ids (they
    * merge into one signature). */
  private[graft] def simhashViaAgg(docs: DataFrame, id: Column, text: Column): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    docs.select(id.as("doc_id"), explode(Text.tokens(text)).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("w"))
      .withColumn("h", graft.plans.GraftFunctions.rolling_hash64(col("token")))
      .groupBy(col("doc_id"))
      // single custom aggregate (long[64] primitive buffer) instead of
      // 64 sum(when(shift...)) columns — see plans.SimHashAgg
      .agg(graft.plans.GraftFunctions.simhash_agg(col("h"), col("w")).as("simhash"))
  }

  /** SimHash near-dup pairs with hamming ≤ maxHamming. The 8-chunk
    * pigeonhole banding guarantees full candidate recall only for
    * hamming ≤ 7, so that is the default radius. SimHash is a
    * high-precision candidate generator for VERY close duplicates:
    * measured on the testdata, pairs with Jaccard ≥ 0.95 all fall
    * within hamming 7, while a j≈0.89 pair can reach hamming 9 —
    * use MinHash+LSH when the dedup threshold is looser, and feed
    * SimHash output into exact-Jaccard verification for precision.
    * Inherits [[simhash]]'s unique-id contract: the dedup-free
    * emission below assumes one signature row per doc id — and
    * VALIDATES it in-plan: a per-id window count guards the signature
    * column with raise_error, so a duplicate-id corpus fails loudly at
    * first execution instead of silently emitting conflicting
    * (doc_a, doc_b, hamming) rows (the same loud contract the MinHash
    * persisted boundary enforces via VersionedIndex.requireUniqueIds, kept LAZY
    * here because this is a plan-building API). The guard's shuffle is
    * over the docs × 16-byte signature frame and is paid once — the
    * localCheckpoint materializes the validated frame before the
    * self-join consumes it twice. */
  def simhashPairs(docs: DataFrame, id: Column, text: Column,
      maxHamming: Int = 7): DataFrame = {
    // SINGLE consumer below (r22): the former banded SELF-JOIN put the
    // signature frame behind a lazy localCheckpoint that BOTH join
    // legs materialized concurrently under AQE — the scan + tokenize +
    // signature kernel ran (racing) twice, and two fan-out A/Bs failed
    // precisely because they scaled that duplicated work
    // (OPTIMIZATION_r21.md). The per-bucket emission consumes sigs
    // exactly once, so the checkpoint is gone along with the join.
    // STILL no input fan-out (r22, third A/B): with the join gone the
    // racing-duplication objection vanished, but the fan-out's
    // round-robin exchange moves the TEXT payload (sort-before-
    // repartition included) and measured slower anyway — warm medians
    // 3.08 s (no fan-out) vs 3.37 s (fan-out) over 7 runs; the
    // duplicate guard's own doc_id exchange follows either way. Guide
    // §2.3: don't shuffle payloads to buy parallelism the next
    // exchange already provides.
    // Guard stays a WINDOW count (r22, fourth A/B): a groupBy(doc_id)
    // aggregation guard was measured at 3.26 s warm vs 3.08 s for the
    // window — on an all-unique key the map-side partial aggregation
    // reduces nothing (one hash-table entry per row) and is pure
    // overhead over the same exchange.
    val perId = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val sigs = simhash(docs, id, text)
      .withColumn("_id_n", count(lit(1)).over(perId))
      .select(col("doc_id"),
        when(col("_id_n") > 1, raise_error(concat(
          lit("simhashPairs: duplicate doc_id "), col("doc_id").cast("string"),
          lit(" — doc ids must be unique (one signature row per document)"))))
          .otherwise(col("simhash")).as("simhash"))
    val chunked = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 8).map(c =>
        shiftright(col("simhash"), c * 8).bitwiseAND(0xffL)): _*)).as(Seq("chunk", "ck")))
    // Per-bucket pair emission (r22, guide §2.4/§3): ONE shuffle of the
    // 8×n chunk rows groups each (chunk, ck) bucket, then intra-bucket
    // pairs stream out of two Generates — the banded self-join (two
    // exchanges over the chunked frame + an SMJ) is gone from the plan.
    // The member list is sorted by doc_id, the inner explode slices
    // strictly AFTER the outer element, so doc_a < doc_b holds by
    // construction (doc ids are unique per bucket — one row per doc per
    // chunk position). The candidate set is IDENTICAL to the join's:
    // same buckets, same unordered pairs. Per-task memory is O(bucket
    // members), not O(pairs) — the inner explode never materializes the
    // pair list. Trade-off vs the join, documented: a pathologically
    // hot bucket is one task here (AQE skew-split applies to joins
    // only), but the join's quadratic blow-up on such a bucket is the
    // real cost either way and banding into finer chunks, not join
    // physics, is the fix at that point.
    val buckets = chunked.groupBy(col("chunk"), col("ck"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("ms"))
      .filter(size(col("ms")) >= 2)
    val lhs = buckets.select(col("chunk"), col("ms"),
      posexplode(col("ms")).as(Seq("i", "l")))
    // Dedup-free emission, unchanged logic: a pair sharing k chunks
    // appears in k buckets, so emit it ONLY from the FIRST chunk both
    // signatures share — a cheap bitwise predicate on the two
    // signatures riding the member structs. The hamming filter is
    // pipelined in the same stage.
    val firstSharedChunk = array_position(
      array((0 until 8).map(c =>
        shiftright(col("l.simhash"), c * 8).bitwiseAND(0xffL) ===
          shiftright(col("r.simhash"), c * 8).bitwiseAND(0xffL)): _*),
      lit(true))
    lhs.select(col("chunk"), col("l"),
        explode(slice(col("ms"), col("i") + lit(2), size(col("ms")))).as("r"))
      .filter(firstSharedChunk === col("chunk") + 1)
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** k-token windows of a token array by zip-shift: entry i is the
    * space-joined gram starting at token i; entries whose window runs
    * past the end are NULL (zip_with's shorter-side padding) — shared
    * by [[duplicateSpans]] and [[removeDuplicateSpans]] so detection
    * and removal can never disagree on what a gram is. */
  private def gramWindows(toks: Column, k: Int): Column =
    (2 to k).foldLeft(toks) { (acc, j) =>
      val shifted = slice(toks, lit(j), greatest(size(toks) - (j - 1), lit(0)))
      zip_with(acc, shifted, (a, b) =>
        when(a.isNull || b.isNull, lit(null)).otherwise(concat(a, lit(" "), b)))
    }

  /** Exact duplicate-SPAN detection — substring-level dedup at k-token
    * granularity (the "remove exact substrings repeated across
    * documents" curation step; whole-doc near-dup misses boilerplate
    * that repeats INSIDE otherwise-distinct pages). Every k-token
    * window of every document is keyed by its joined text; a window is
    * duplicated when the same k-gram occurs in ≥2 distinct documents.
    * Returns per-doc (doc_id, n_win, n_dup, dup_ppm): window count,
    * cross-doc duplicated-window count, and the duplicated fraction in
    * integer ppm. Docs shorter than k tokens have no windows and drop
    * out (they cannot share a k-span).
    *
    * Scale: windows are built by the same zip-shift trick as
    * `shingleSet` (no O(len²) element_at re-evaluation), the gram →
    * distinct-doc-count pass is one shuffle with map-side combine, and
    * the per-doc rollup joins windows to the (gram, df) side keyed on
    * the gram. Hot grams (boilerplate by definition) make that join
    * skewed — AQE skew-join splitting handles the reduce side, and the
    * df table carries only (gram, df_docs ≥ 2) flags, never posting
    * lists. The per-doc gram ARRAY is materialized (localCheckpoint,
    * docs × array bytes) before the explode: the nested zip_with chain
    * otherwise re-evaluates once per join branch (`wins` feeds both
    * sides of the gram join) AND once more inside the size()>0 filter
    * InferFiltersFromGenerate plants under the Generate — the same
    * barrier the MinHash banding path uses (r12). */
  def duplicateSpans(docs: DataFrame, id: Column, text: Column,
      k: Int = 8): DataFrame = {
    require(k >= 2)
    val toks = Text.tokens(text)
    val grams = gramWindows(toks, k)
    // fan-out (r21): the tokenize+gram build runs in the scan stage —
    // single-split inputs serialize it on one core; no-op otherwise
    val gramRows = graft.sources.Tables.fanOutForKernels(docs)
      .select(id.as("doc_id"), filter(grams, _.isNotNull).as("grams"))
      .localCheckpoint(eager = false)
    val wins = gramRows.select(col("doc_id"), explode(col("grams")).as("gram"))
    val df = wins.groupBy(col("gram"))
      .agg((count_distinct(col("doc_id")) >= 2).as("is_dup"))
    wins.join(df, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_win"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ppm",
        floor(lit(1000000L) * col("n_dup") / col("n_win")).cast("long"))
  }

  /** Over-duplicated span REMOVAL — the transform twin of
    * [[duplicateSpans]] (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499 — public:
    * the ExactSubstr pass that REWRITES documents instead of scoring
    * them; detection alone cannot rescue a good document wrapped in
    * boilerplate). Every k-token window occurring in MORE than
    * `maxDocs` distinct documents is over-duplicated (nav bars,
    * cookie banners, license headers); all token positions covered
    * by any such window are dropped and the document reassembles
    * from the survivors in original order. Returns
    * (doc_id, n_tok, n_kept, cleaned).
    *
    * Semantics pinned by DedupSpec + q160's row-level oracle:
    *  - a doc with < k tokens has no windows → kept whole;
    *  - overlapping flagged windows union their coverage (a token is
    *    dropped if ANY flagged window covers it);
    *  - `maxDocs = 1` is the strictest setting: any cross-document
    *    repeat is boilerplate (within-doc repeats alone never flag —
    *    the count is DISTINCT docs);
    *  - NULL text propagates NULL counts and an empty `cleaned`
    *    (concat_ws never yields NULL) — upstream curation gates
    *    NULL docs before this stage either way.
    *
    * Scale: one gram-keyed count-distinct shuffle (map-side partial)
    * + one left_semi of the gram stream against the flagged set
    * (gram-keyed; hot boilerplate grams are exactly the AQE-skew
    * case, same handling as every token-keyed aggregate here) + one
    * per-doc collect of FLAGGED starts (bounded by the doc's own
    * flagged-window count, not the corpus) + a pure column rebuild —
    * the per-token coverage test is O(flagged_starts) per token via
    * nested HOF lambdas, fine while boilerplate is a minority of
    * each doc (the regime the operator exists for; a doc that is
    * MOSTLY flagged is cheap too — it just ends up short). At
    * deployment the flagged-gram table is a FIT artifact like the
    * DSIR ratio table: fit once over the corpus (or a sample),
    * persist, and apply the removal per batch — the counts side is
    * corpus-level state, the rewrite side is stateless. */
  def removeDuplicateSpans(docs: DataFrame, id: Column, text: Column,
      k: Int = 8, maxDocs: Int = 1): DataFrame = {
    require(maxDocs >= 1)
    removeSpans(docs, id, text, flaggedSpans(docs, id, text, k, maxDocs), k)
  }

  /** The FIT half of span removal: the over-duplicated k-gram table —
    * (gram) rows for every window occurring in more than `maxDocs`
    * distinct documents. Corpus-level state, persisted and reused
    * across batches exactly like `dsirRatios` (the fit artifact /
    * stateless apply seam every corpus-level gate here follows); on a
    * moving crawl, re-fit on the same cadence as the DSIR table —
    * boilerplate is a property of the corpus, not the batch. */
  def flaggedSpans(docs: DataFrame, id: Column, text: Column,
      k: Int = 8, maxDocs: Int = 1): DataFrame = {
    require(k >= 2 && maxDocs >= 1)
    val toks = Text.tokens(text)
    // fan-out (r21): same single-split rationale as duplicateSpans
    graft.sources.Tables.fanOutForKernels(docs).select(id.as("doc_id"),
        explode(filter(gramWindows(toks, k), _.isNotNull)).as("gram"))
      .groupBy(col("gram"))
      .agg(count_distinct(col("doc_id")).as("_nd"))
      .filter(col("_nd") > maxDocs)
      .select(col("gram"))
  }

  /** The APPLY half: rewrite `docs` against a fitted [[flaggedSpans]]
    * table — stateless per batch (each micro-batch is a plain
    * DataFrame inside foreachBatch, so this runs as-is per trigger),
    * one gram-keyed left_semi + one per-doc starts rollup + a pure
    * column rebuild. `k` must match the fit (the gram width is part
    * of the artifact's identity — persist it next to the table). */
  def removeSpans(docs: DataFrame, id: Column, text: Column,
      flagged: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 2)
    val toks = Text.tokens(text)
    // fan-out (r21): same single-split rationale as duplicateSpans
    val base = graft.sources.Tables.fanOutForKernels(docs)
      .select(id.as("doc_id"), toks.as("_tk"), gramWindows(toks, k).as("_gr"))
      .localCheckpoint(eager = false) // gram stream read twice (probe + rebuild)
    val wins = base
      .select(col("doc_id"), posexplode(col("_gr")).as(Seq("pos", "gram")))
      .filter(col("gram").isNotNull)
    // the fitted table couples by POSITION, not by column name (r21,
    // advisor): a persisted flagged-spans artifact reloaded under a
    // different column name must keep working; r22 (advisor): a WIDER
    // artifact that also persisted fit metadata (counts, df) works too
    // when it carries a column literally named 'gram' — by-name wins
    // there, by-position covers the renamed single-column case, and
    // the ambiguous case (multi-column, none named 'gram') stays a
    // loud require
    val flaggedGrams =
      if (flagged.columns.length == 1) flagged.toDF("gram")
      else {
        require(flagged.columns.contains("gram"),
          s"removeSpans: the flagged-grams table must be single-column " +
            s"(the gram) or contain a 'gram' column, got ${flagged.columns.mkString(", ")}")
        flagged.select(col("gram"))
      }
    val starts = wins.join(flaggedGrams, Seq("gram"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("_starts"))
    base.join(starts, Seq("doc_id"), "left")
      .withColumn("_st", coalesce(col("_starts"), array().cast("array<int>")))
      .withColumn("_kept", filter(col("_tk"), (t, i) =>
        !exists(col("_st"), p => p <= i && i < p + k)))
      .select(col("doc_id"),
        size(col("_tk")).cast("long").as("n_tok"),
        size(col("_kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("_kept")).as("cleaned"))
  }
}
