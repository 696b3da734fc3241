package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

/** Near-dup detection against the corpus's planted near-duplicates
  * (FIXTURES A8.5 generalized): LSH+verify must equal the all-pairs
  * ground truth; SimHash must have full recall at its default radius.
  */
class DedupSpec extends SparkSuite {
  init()

  private lazy val docs = Tables.documents(spark, sf0001)
  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private lazy val truth = pairSet(
    Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text")))

  test("planted near-dups exist in the corpus") {
    assert(truth.nonEmpty)
  }

  test("minhash LSH + verification equals all-pairs ground truth") {
    val lsh = pairSet(Dedup.minhashLshPairs(docs, col("doc_id"), col("text")))
    assert(lsh == truth)
  }

  test("simhash kernel == aggregation formulation bit-for-bit on the corpus") {
    val kernel = Dedup.simhash(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = Dedup.simhashViaAgg(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel == agg)
    assert(kernel.nonEmpty)
  }

  test("simhashPairs raises loudly on duplicate doc ids (in-plan guard)") {
    // the per-row signature kernel emits one row PER INPUT ROW, so a
    // duplicate-id corpus would silently produce conflicting
    // (doc_a, doc_b, hamming) rows — the window guard must raise at
    // first execution instead
    val dup = docs.limit(5).union(docs.limit(2))
    val e = intercept[Exception](
      Dedup.simhashPairs(dup, col("doc_id"), col("text")).count())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("duplicate doc_id")), msgs(e).mkString(" | "))
  }

  test("simhash candidates have full recall on very-close pairs (j >= 0.95)") {
    val close = pairSet(
      Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), threshold = 0.95))
    val sim = pairSet(Dedup.simhashPairs(docs, col("doc_id"), col("text")))
    assert(close.subsetOf(sim),
      s"missing: ${close -- sim}")
  }

  test("dup clusters: transitive closure, min-id representative, sizes") {
    import spark.implicits._
    // a-b, b-c chain (no a-c edge) plus an isolated pair and a long
    // chain exercising multi-round label propagation
    val pairs = Seq(
      (1L, 2L), (2L, 3L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L), (24L, 25L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((1L, 3L)) && out(2L) == ((1L, 3L)) && out(3L) == ((1L, 3L)),
      "a-b-c chain must collapse to one cluster labeled by min id")
    assert(out(10L) == ((10L, 2L)) && out(11L) == ((10L, 2L)))
    (20L to 25L).foreach(i => assert(out(i) == ((20L, 6L)), s"chain member $i"))
    assert(out.size == 11)
  }

  test("keepOnePerCluster retains exactly the min-id member per cluster plus all singletons") {
    import spark.implicits._
    val corpus = (1L to 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val kept = Dedup.keepOnePerCluster(corpus, col("doc_id"), pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L, 7L, 8L),
      "chain 1-2-3 → keep 1; pair 5-6 → keep 5; 4/7/8 untouched")
  }

  test("exact dedup drops identical rows only") {
    val doubled = docs.union(docs)
    assert(Dedup.exact(doubled, Seq("text")).count() == docs.count())
  }

  test("native minhash signature kernel is bit-identical to the HOF formula and the agg form") {
    graft.plans.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, sf0001).limit(50)
      .select(col("doc_id"), Dedup.shingleArray(col("text")).as("_sh"))
    // the pre-r11 per-row HOF formula IS the reference
    val ref = docs.withColumn("refsig",
      array((0 until 64).map(s =>
        array_min(transform(col("_sh"), x => xxhash64(lit(s), x)))): _*))
    val diff = docs.withColumn("sig", Dedup.sigArray(col("_sh")))
      .join(ref.select(col("doc_id"), col("refsig")), "doc_id")
      .filter(col("sig") =!= col("refsig")).count()
    assert(diff == 0, "kernel diverged from the xxhash64 HOF formula")
    // and from the batch aggregation form (explode + min-per-seed)
    val agg = Dedup.minhashSignatures(
      Tables.documents(spark, sf0001).limit(50)
        .select(col("doc_id"), explode(Dedup.shingleArray(col("text"))).as("shingle")), 64)
    val diff2 = docs.withColumn("sig", Dedup.sigArray(col("_sh")))
      .join(agg.withColumnRenamed("sig", "aggsig"), "doc_id")
      .filter(col("sig") =!= col("aggsig")).count()
    assert(diff2 == 0, "kernel diverged from the aggregation form")
    // sigArray is a SELF-CONTAINED column expression: it must resolve
    // on a session that never called GraftFunctions.register (temp
    // functions don't propagate to cloned sessions)
    val fresh = spark.newSession()
    val out = fresh.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(Seq("a b c", "b c d"))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("_sh",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType)))))
      .select(Dedup.sigArray(col("_sh"), 8).as("sig"))
      .head().getSeq[Long](0)
    assert(out.length == 8)
  }

  test("sigArray edge contract: empty array and null element yield a NULL signature") {
    // The kernel's deliberate contract (differs from the pre-r11 HOF
    // form, which emitted per-seed nulls/partial mins): an EMPTY
    // shingle array or any NULL element yields a NULL signature —
    // loud downstream (bandsFromSig of NULL is NULL, never a bucket)
    // instead of a signature that silently represents no shingles.
    // In-repo paths never hit it (shingleArray emits ≥1 non-null
    // element for any text); this pin keeps the change deliberate for
    // external callers.
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_sh",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType))))
    val rows = java.util.List.of(
      org.apache.spark.sql.Row(Seq.empty[String]),          // empty array
      org.apache.spark.sql.Row(Seq("a b c", null, "c d e")), // null element
      org.apache.spark.sql.Row(null),                        // null array
      org.apache.spark.sql.Row(Seq("a b c")))                // control
    val out = spark.createDataFrame(rows, schema)
      .select(Dedup.sigArray(col("_sh"), 8).as("sig"),
        Dedup.bandsFromSig(Dedup.sigArray(col("_sh"), 8), 8, 4).as("bands"))
      .collect()
    assert(out(0).isNullAt(0) && out(1).isNullAt(0) && out(2).isNullAt(0),
      "empty array / null element / null array must all yield NULL sig")
    assert(out(0).isNullAt(1) && out(1).isNullAt(1) && out(2).isNullAt(1),
      "NULL sig must propagate to NULL bands (no bucket), never a bucket row")
    assert(!out(3).isNullAt(0) && out(3).getSeq[Long](0).length == 8)
  }

  test("lshIndexStats: bucket histogram matches an independent Scala fold; pairVolume exact") {
    val dir = java.nio.file.Files.createTempDirectory("lshstats").toString + "/i"
    Dedup.writeLshIndex(docs, col("doc_id"), col("text"), dir)
    val st = Dedup.lshIndexStats(spark, dir, hotThreshold = 3)
    // ground truth from the raw persisted band rows, folded in Scala
    val buckets = Dedup.readLshTable(spark, dir, "bands")
      .select(col("band"), col("band_hash")).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
      .groupBy(identity).map(_._2.length.toLong).toSeq
    assert(st.nBandedDocs == docs.count())
    assert(st.nBuckets == buckets.length)
    assert(st.maxBucket == buckets.max)
    assert(st.hotBuckets == buckets.count(_ > 3))
    assert(st.pairVolume == buckets.map(n => n * (n - 1) / 2).sum,
      "pairVolume must be the exact candidate count of a full banded join")
    assert(st.skew >= 1.0 && st.medianBucket >= 1)
    // an opened handle serves the same stats
    val h = graft.operators.Index.open(spark, dir)
      .asInstanceOf[graft.operators.Index.Lsh]
    assert(h.stats(3) == st)
  }

  test("LSH index writers reject duplicate doc_id rows loudly") {
    // duplicate-id rows band per ROW while Jaccard verification
    // merges shingles per id — the persisted-index boundary raises
    // instead of committing conflicting band rows
    val dir = java.nio.file.Files.createTempDirectory("lshdup").toString + "/i"
    val dup = docs.union(docs.filter(col("doc_id") < 2))
    val e = intercept[IllegalArgumentException](
      Dedup.writeLshIndex(dup, col("doc_id"), col("text"), dir))
    assert(e.getMessage.contains("duplicate doc_id"), e.getMessage)
    // a clean write then rejects a duplicate-carrying UPSERT too
    Dedup.writeLshIndex(docs, col("doc_id"), col("text"), dir)
    val e2 = intercept[IllegalArgumentException](
      Dedup.upsertLshIndex(
        docs.filter(col("doc_id") < 4).union(docs.filter(col("doc_id") < 2)),
        col("doc_id"), col("text"), dir))
    assert(e2.getMessage.contains("duplicate doc_id"), e2.getMessage)
  }

  test("shingle sets are distinct per doc") {
    val sh = Dedup.shingleSet(docs, col("doc_id"), col("text"))
    assert(sh.count() == sh.distinct().count())
  }

  test("incremental LSH equals the full pair set minus old-by-old") {
    val newSide = docs.filter(col("doc_id") % 3 =!= 0)
    val oldSide = docs.filter(col("doc_id") % 3 === 0)
    val inc = pairSet(Dedup.incrementalLshPairs(newSide, oldSide,
      col("doc_id"), col("text")))
    val expected = truth.filterNot { case (a, b) => a % 3 == 0 && b % 3 == 0 }
    assert(inc == expected, s"extra=${inc -- expected} missing=${expected -- inc}")
    // an empty new batch detects nothing (the whole point: old x old skipped)
    assert(Dedup.incrementalLshPairs(newSide.limit(0), oldSide,
      col("doc_id"), col("text")).count() == 0)
  }

  test("indexed incremental LSH equals the direct form via a persisted index") {
    val dir = java.nio.file.Files.createTempDirectory("lshidx").toString
    val newSide = docs.filter(col("doc_id") % 3 =!= 0)
    val oldSide = docs.filter(col("doc_id") % 3 === 0)
    Dedup.writeLshIndex(oldSide, col("doc_id"), col("text"), dir)
    // the persisted artifacts are faithful replicas of the live tables
    val storedShingles = Dedup.readLshTable(spark, dir, "shingles")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val liveShingles = Dedup.shingleSet(oldSide, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(storedShingles == liveShingles)
    val viaIndex = Dedup.incrementalLshPairsIndexed(
      newSide, col("doc_id"), col("text"), dir)
    val direct = pairSet(Dedup.incrementalLshPairs(newSide, oldSide,
      col("doc_id"), col("text")))
    assert(pairSet(viaIndex) == direct)
  }

  test("incremental LSH: a changed doc's new version fully replaces the old") {
    import spark.implicits._
    val v1 = "the quick brown fox jumps over the lazy dog again today somehow"
    val v2 = "entirely new content about streaming pipelines and keyed state stores here now"
    val old = Seq((1L, v1),
      (2L, "completely unrelated article text about engines and query planners here"))
      .toDF("doc_id", "text")
    // batch re-ingests doc 1 with NEW text, plus: doc 3 near-dups the
    // NEW version, doc 4 exactly copies the SUPERSEDED version.
    val batch = Seq((1L, v2), (3L, v2 + " x"), (4L, v1)).toDF("doc_id", "text")
    val inc = pairSet(Dedup.incrementalLshPairs(batch, old, col("doc_id"), col("text")))
    // ground truth = full LSH over the POST-BATCH corpus state
    val current = Seq((1L, v2), (3L, v2 + " x"), (4L, v1),
      (2L, "completely unrelated article text about engines and query planners here"))
      .toDF("doc_id", "text")
    val expected = pairSet(Dedup.minhashLshPairs(current, col("doc_id"), col("text")))
    assert(inc.contains((1L, 3L)), "new-version near-dup must be found")
    assert(!inc.exists { case (a, b) => a == 4L || b == 4L },
      "doc 4 matches only the superseded text — no live partner")
    assert(inc == expected, s"extra=${inc -- expected} missing=${expected -- inc}")
  }

  test("upsertLshIndex replaces re-ingested ids; indexed pairs match post-upsert state") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lshups").toString
    val v1 = "the quick brown fox jumps over the lazy dog again today somehow"
    val v2 = "entirely new content about streaming pipelines and keyed state stores here now"
    val other = "completely unrelated article text about engines and query planners here"
    Dedup.writeLshIndex(Seq((1L, v1), (2L, other)).toDF("doc_id", "text"),
      col("doc_id"), col("text"), dir)
    Dedup.upsertLshIndex(Seq((1L, v2), (3L, v2 + " y")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), dir)
    // index now holds exactly one version per id — 1:v2, 2, 3
    val perDoc = Dedup.readLshTable(spark, dir, "shingles")
      .groupBy("doc_id").count().collect().map(r => r.getLong(0)).toSet
    assert(perDoc == Set(1L, 2L, 3L))
    val idxShingles = Dedup.readLshTable(spark, dir, "shingles")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val liveShingles = Dedup.shingleSet(
      Seq((1L, v2), (2L, other), (3L, v2 + " y")).toDF("doc_id", "text"),
      col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(idxShingles == liveShingles, "upserted index == fresh index of current state")
    // probe batch: doc 5 copies v2 (live), doc 4 copies v1 (superseded)
    val probe = Seq((4L, v1), (5L, v2)).toDF("doc_id", "text")
    val viaIndex = pairSet(Dedup.incrementalLshPairsIndexed(
      probe, col("doc_id"), col("text"), dir))
    val direct = pairSet(Dedup.incrementalLshPairs(probe,
      Seq((1L, v2), (2L, other), (3L, v2 + " y")).toDF("doc_id", "text"),
      col("doc_id"), col("text")))
    assert(viaIndex == direct)
    assert(viaIndex.exists { case (a, b) => Set(a, b) == Set(1L, 5L) },
      "v2 copy must match the upserted version of doc 1")
    assert(!viaIndex.exists { case (a, b) => a == 4L || b == 4L },
      "v1 copy matches nothing — the superseded rows are gone")
  }

  test("LSH index write rejects a NULL doc_id with a NULL-specific message") {
    // count_distinct skips NULLs: without the dedicated non-null count
    // a NULL id reads as "1 duplicate doc_id rows"
    val dir = java.nio.file.Files.createTempDirectory("lshnull").toString
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, t), org.apache.spark.sql.Row(null, t + " mu")),
      org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING"))
    val e = intercept[IllegalArgumentException](
      Dedup.writeLshIndex(docs, col("doc_id"), col("text"), dir))
    assert(e.getMessage.contains("1 NULL doc_id rows") &&
      !e.getMessage.contains("duplicate"), e.getMessage)
  }

  test("LSH index versioning: upsert commits atomically, sweeps superseded versions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lshver").toString
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Dedup.writeLshIndex(Seq((1L, t1)).toDF("doc_id", "text"),
      col("doc_id"), col("text"), dir)
    assert(graft.operators.VersionedIndex.currentDir(spark, dir).exists(_.endsWith("/v=1")))
    Dedup.upsertLshIndex(Seq((2L, t1 + " lambda")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), dir)
    assert(graft.operators.VersionedIndex.currentDir(spark, dir).exists(_.endsWith("/v=2")))
    // the partial commit CARRIES doc 1's untouched bucket from v=1 —
    // v=1 must survive (it is referenced by the v=2 manifest) and the
    // manifest-resolved read must see both docs in both tables
    val mf = graft.operators.VersionedIndex.manifest(spark, dir)
    if (mf("shingles").values.toSet.contains(1))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "v=1")),
        "referenced version must not be swept")
    val ids = Dedup.readLshTable(spark, dir, "shingles").select("doc_id")
      .distinct().collect().map(_.getLong(0)).toSet
    val bandIds = Dedup.readLshTable(spark, dir, "bands").select("doc_id")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L) && bandIds == Set(1L, 2L))
    // a full REBUILD (writeLshIndex) references nothing older — v=1
    // and v=2 both sweep after it commits v=3
    Dedup.writeLshIndex(Seq((1L, t1), (2L, t1 + " lambda")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), dir)
    assert(graft.operators.VersionedIndex.currentDir(spark, dir).exists(_.endsWith("/v=3")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "v=1")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "v=2")))
  }

  test("LSH index: uncommitted orphan version is ignored by readers and swept by writers") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lshorph").toString
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Dedup.writeLshIndex(Seq((1L, t1)).toDF("doc_id", "text"),
      col("doc_id"), col("text"), dir)
    // simulate a writer that crashed mid-upsert: v=2 exists with data
    // but NO commit marker
    val orphan = java.nio.file.Paths.get(dir, "v=2", "shingles")
    java.nio.file.Files.createDirectories(orphan)
    assert(graft.operators.VersionedIndex.currentDir(spark, dir).exists(_.endsWith("/v=1")),
      "reader must stay on the last committed version")
    // next upsert sweeps the orphan and commits cleanly as v=2
    Dedup.upsertLshIndex(Seq((2L, t1 + " mu")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), dir)
    assert(graft.operators.VersionedIndex.currentDir(spark, dir).exists(_.endsWith("/v=2")))
    assert(Dedup.readLshTable(spark, dir, "shingles").select("doc_id")
      .distinct().count() == 2)
  }

  test("LSH delete: takedown rewrites only touched buckets; full lifecycle == direct recompute") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lshdel").toString
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "one two three four five six seven eight nine ten"
    // lifecycle: write {1,2}, upsert {3 (near-dup of 1)}, delete {1}
    Dedup.writeLshIndex(Seq((1L, t1), (2L, t2)).toDF("doc_id", "text"),
      col("doc_id"), col("text"), dir)
    Dedup.upsertLshIndex(Seq((3L, t1 + " lambda")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), dir)
    val mfBefore = graft.operators.VersionedIndex.manifest(spark, dir)
    Dedup.deleteFromLshIndex(Seq(1L).toDF("doc_id"), dir)
    // touched buckets are a pure function of the deleted ids — compute
    // them the same way and assert every OTHER bucket kept its owner
    val touchedDirs = Seq(1L).toDF("doc_id")
      .select(pmod(xxhash64(col("doc_id")), lit(64L)).cast("int").as("b"))
      .collect().map(r => s"idx_bucket=${r.getInt(0)}").toSet
    val mfAfter = graft.operators.VersionedIndex.manifest(spark, dir)
    for (table <- Seq("shingles", "bands"); (d, owner) <- mfAfter(table))
      if (!touchedDirs.contains(d))
        assert(owner == mfBefore(table)(d),
          s"untouched $table/$d was rewritten by the delete")
    // stored rows: doc 1 gone from both tables, params unchanged
    assert(Dedup.readLshTable(spark, dir, "shingles").select("doc_id")
      .distinct().collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    assert(Dedup.readLshTable(spark, dir, "bands").select("doc_id")
      .distinct().collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    // a probe copying the DELETED doc matches only the surviving
    // near-dup (3), never 1 — and the indexed result equals a direct
    // incremental run against the surviving docs
    val probe = Seq((9L, t1)).toDF("doc_id", "text")
    val viaIndex = pairSet(Dedup.incrementalLshPairsIndexed(
      probe, col("doc_id"), col("text"), dir))
    val direct = pairSet(Dedup.incrementalLshPairs(probe,
      Seq((2L, t2), (3L, t1 + " lambda")).toDF("doc_id", "text"),
      col("doc_id"), col("text")))
    assert(viaIndex == direct)
    assert(viaIndex.exists { case (a, b) => Set(a, b) == Set(3L, 9L) })
    assert(!viaIndex.exists { case (a, b) => a == 1L || b == 1L },
      "deleted doc must be unfindable")
    // deletion is not a tombstone: re-upserting doc 1 restores matching
    Dedup.upsertLshIndex(Seq((1L, t1)).toDF("doc_id", "text"),
      col("doc_id"), col("text"), dir)
    assert(pairSet(Dedup.incrementalLshPairsIndexed(
      probe, col("doc_id"), col("text"), dir))
      .exists { case (a, b) => Set(a, b) == Set(1L, 9L) })
  }

  test("LSH index rejects mismatched hash parameters on upsert and read") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lshpar").toString
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq((1L, t1)).toDF("doc_id", "text")
    Dedup.writeLshIndex(docs, col("doc_id"), col("text"), dir,
      numHashes = 64, bands = 16)
    intercept[IllegalArgumentException] {
      Dedup.upsertLshIndex(docs, col("doc_id"), col("text"), dir,
        numHashes = 32, bands = 8)
    }
    intercept[IllegalArgumentException] {
      Dedup.incrementalLshPairsIndexed(docs, col("doc_id"), col("text"), dir,
        n = 5)
    }
  }

  test("duplicateSpans: cross-doc k-spans flagged, within-doc repeats and short docs not") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val corpus = Seq(
      (1L, s"intro one two three $shared tail1"),
      (2L, s"other opening words here $shared tail2 extra"),
      (3L, "completely different text with no overlap at all whatsoever here"),
      // same 8-gram twice in ONE doc only → not cross-doc duplicated
      (4L, s"p q r s t u v w x p q r s t u v w x"),
      (5L, "short doc")) // < 8 tokens → no windows
      .toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(corpus, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc1: 13 tokens → 6 windows, exactly 1 is the shared 8-gram
    assert(out(1L)._1 == 6 && out(1L)._2 == 1, s"doc1: ${out(1L)}")
    // doc2: 14 tokens → 7 windows, 1 shared
    assert(out(2L)._1 == 7 && out(2L)._2 == 1, s"doc2: ${out(2L)}")
    assert(out(3L)._2 == 0, "no cross-doc span in doc3")
    assert(out(4L)._2 == 0, "within-doc repetition is not cross-doc duplication")
    assert(!out.contains(5L), "sub-k docs have no windows")
  }

  test("removeDuplicateSpans: planted boilerplate stripped, overlap unions, short/clean docs whole") {
    import spark.implicits._
    // k=3, maxDocs=2: the 3-token banner "click to subscribe" appears
    // in THREE docs (over-duplicated) — every position it covers must
    // drop; "one two three" appears in only TWO docs (at the cap, not
    // over it) and must survive
    val corpus = Seq(
      (1L, "click to subscribe alpha beta gamma one two three"),
      (2L, "delta click to subscribe epsilon one two three zeta"),
      (3L, "eta theta click to subscribe iota"),
      (4L, "completely unrelated text with no shared windows anywhere"),
      (5L, "tiny doc")) // < 3 tokens → no windows → kept whole
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(corpus, col("doc_id"), col("text"),
        k = 3, maxDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // hand-computed: only the banner's 3 positions drop in each doc
    assert(out(1L) == ((9L, 6L, "alpha beta gamma one two three")), out(1L).toString)
    assert(out(2L) == ((9L, 6L, "delta epsilon one two three zeta")), out(2L).toString)
    assert(out(3L) == ((6L, 3L, "eta theta iota")), out(3L).toString)
    assert(out(4L)._1 == out(4L)._2, "clean doc must be kept whole")
    assert(out(5L) == ((2L, 2L, "tiny doc")), "sub-k docs have no windows")
    // overlap union: the 4-token run "pay wall pay wall" in 3 docs
    // flags BOTH its 3-gram starts; coverage is the union (all 4
    // tokens), not 2·k double-counted
    val overlap = Seq(
      (10L, "aaa pay wall pay wall bbb"),
      (11L, "ccc pay wall pay wall ddd"),
      (12L, "eee pay wall pay wall fff"))
      .toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(overlap, col("doc_id"), col("text"),
        k = 3, maxDocs = 2)
      .filter(col("doc_id") === 10L).head()
    assert(got.getLong(1) == 6L && got.getLong(2) == 2L &&
      got.getString(3) == "aaa bbb", got.toString)
  }

  test("removeSpans: fit-once/apply-per-batch equals the one-shot, batch split invariant") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "click to subscribe alpha beta gamma one two three"),
      (2L, "delta click to subscribe epsilon one two three zeta"),
      (3L, "eta theta click to subscribe iota"),
      (4L, "completely unrelated text with no shared windows anywhere"))
      .toDF("doc_id", "text")
    val oneShot = Dedup.removeDuplicateSpans(corpus, col("doc_id"), col("text"),
      k = 3, maxDocs = 2).collect().map(_.toString).sorted.toSeq
    // the deployment shape: fit the flagged table on the corpus once,
    // then apply statelessly to each half as its own "micro-batch" —
    // rewritten rows must be identical to the one-shot's
    graft.operators.Pins { p =>
      val fitted = p.checkpoint(Dedup.flaggedSpans(corpus, col("doc_id"), col("text"),
        k = 3, maxDocs = 2))
      val batched = Seq(corpus.filter(col("doc_id") <= 2),
        corpus.filter(col("doc_id") > 2))
        .flatMap(b => Dedup.removeSpans(b, col("doc_id"), col("text"), fitted, k = 3)
          .collect().map(_.toString))
        .sorted.toSeq
      assert(batched == oneShot,
        "per-batch apply against the fitted table diverged from the one-shot")
    }
  }

  test("span removal before near-dup: boilerplate-only overlap stops making near-dups (the q161 order)") {
    import spark.implicits._
    // three docs whose ONLY shared content is a 20-token banner; the
    // one-token tails are unique. Pre-removal the banner dominates the
    // shingle sets (jaccard 18/20 = 0.9 ≥ 0.8) so near-dup dedup
    // would merge them — post-removal they share nothing
    val banner = (1 to 20).map(i => s"x$i").mkString(" ")
    val corpus = Seq((1L, s"$banner uniqa"), (2L, s"$banner uniqb"),
      (3L, s"$banner uniqc")).toDF("doc_id", "text")
    val rawPairs = Dedup.minhashLshPairs(corpus, col("doc_id"), col("text"))
    assert(rawPairs.count() == 3,
      "setup: the banner must make all three docs mutual near-dups")
    val flagged = Dedup.flaggedSpans(corpus, col("doc_id"), col("text"),
      k = 3, maxDocs = 2)
    val cleaned = Dedup.removeSpans(corpus, col("doc_id"), col("text"), flagged, k = 3)
      .select(col("doc_id"), col("cleaned").as("text"), col("n_kept"))
    assert(cleaned.filter(col("n_kept") =!= 1L).count() == 0,
      "only the unique tail survives removal")
    assert(Dedup.minhashLshPairs(cleaned, col("doc_id"), col("text")).count() == 0,
      "cleaned docs share nothing — near-dup dedup must not merge them")
  }

  test("dupClusters: converges on a high-diameter chain (the revision-chain dup graph)") {
    import spark.implicits._
    // a 400-link path with SCRAMBLED ids — diameter 399, adversarial
    // for min-label propagation (the shape that tripped the old
    // log(n)+2 cap on real corpora; a chain of drifting document
    // revisions is a legitimate dup graph, not a pathology)
    val ids = (0L until 400L).map(i => (i * 389L + 71L) % 400L)
    val pairs = ids.sliding(2).map(s => (s(0), s(1))).toSeq.toDF("doc_a", "doc_b")
    val out = Dedup.dupClusters(pairs).collect()
    assert(out.length == 400)
    assert(out.forall(r => r.getLong(1) == 0L && r.getLong(2) == 400L),
      "one component labeled by the global min id")
  }

  test("mergePairsIntoClusters: folded rounds equal the closure over all accumulated pairs") {
    import spark.implicits._
    // three "rounds" of pairs: p2 bridges p0's and p1's components —
    // the case star compression must survive (two settled clusters
    // join through one new pair and take the global min label)
    val p0 = Seq((2L, 1L), (2L, 3L)).toDF("doc_a", "doc_b")
    val p1 = Seq((10L, 11L)).toDF("doc_a", "doc_b")
    val p2 = Seq((3L, 10L), (20L, 21L)).toDF("doc_a", "doc_b")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select("doc_id", "cluster", "csize").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val folded = Dedup.mergePairsIntoClusters(
      Dedup.mergePairsIntoClusters(Dedup.dupClusters(p0), p1), p2)
    val full = Dedup.dupClusters(p0.unionByName(p1).unionByName(p2))
    assert(rows(folded) == rows(full))
    assert(rows(folded).contains((11L, 1L, 5L)),
      "bridged component must relabel to the global min with size 5")
    // an empty round folds to the prior state unchanged
    val noop = Dedup.mergePairsIntoClusters(full, p0.limit(0))
    assert(rows(noop) == rows(full))
  }

  test("cluster state round-trips through the versioned commit, folds after reload") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ccstate").toString + "/state"
    val s0 = Dedup.dupClusters(Seq((1L, 2L)).toDF("doc_a", "doc_b"))
    Dedup.writeClusterState(s0, dir)
    val back = Dedup.readClusterState(spark, dir)
    assert(back.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      s0.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    // fold a bridging round into the RELOADED state, persist again —
    // the deployment loop: read -> fold -> commit
    val s1 = Dedup.mergePairsIntoClusters(back, Seq((2L, 5L)).toDF("doc_a", "doc_b"))
    Dedup.writeClusterState(s1, dir)
    val rows = Dedup.readClusterState(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 1L, 3L), (2L, 1L, 3L), (5L, 1L, 3L)))
  }

  test("recloseAffectedComponents: every cap route equals the full re-close") {
    import spark.implicits._
    // prior components: {1,2,3}, {10,11}, {20,21,22}, {30,31}
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L),
      (21L, 22L), (30L, 31L)).toDF("doc_a", "doc_b")
    val prior = Dedup.dupClusters(oldPairs).localCheckpoint()
    // batch: 21 re-embedded away (retraction SPLITS {20,21,22} — 20
    // and 22 drop out pairless), fresh 100/101, and 100 BRIDGES the
    // settled {10,11} and {30,31}
    val dirty = Seq(21L, 100L, 101L).toDF("doc_id")
    val batchIds = Set(21L, 100L, 101L)
    val kept = oldPairs.filter(
      !col("doc_a").isin(batchIds.toSeq: _*) &&
        !col("doc_b").isin(batchIds.toSeq: _*))
    val newPairs = Seq((100L, 101L), (100L, 10L), (100L, 30L))
      .toDF("doc_a", "doc_b")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = rows(Dedup.dupClusters(kept.unionByName(newPairs)))
    // untouched {1,2,3} passes through; {10,11,30,31,100,101} merges
    // under min label 10; 20/21/22 gone
    assert(expected == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 6L), (11L, 10L, 6L), (30L, 10L, 6L), (31L, 10L, 6L),
      (100L, 10L, 6L), (101L, 10L, 6L)))
    // cap routes: 10 → fully incremental; 5 → affected-member overflow
    // (7 members > 5) falls back after the label probe; 3 → node
    // overflow falls back at the first probe; all must agree by value
    for (cap <- Seq(10, 5, 3))
      assert(rows(Dedup.recloseAffectedComponents(
        prior, kept, newPairs, dirty, maxAffected = cap)) == expected,
        s"cap=$cap route diverged")
    // retraction-only round (nothing detected): the affected component
    // re-closes from its surviving pairs alone
    val emptyPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(rows(Dedup.recloseAffectedComponents(
      prior, kept, emptyPairs, Seq(21L).toDF("doc_id"))) ==
      rows(Dedup.dupClusters(kept)))
    // no-touch round: fresh pair only — every prior row passes through
    val freshOnly = Seq((100L, 101L)).toDF("doc_a", "doc_b")
    assert(rows(Dedup.recloseAffectedComponents(
      prior, oldPairs, freshOnly, Seq(100L, 101L).toDF("doc_id"))) ==
      rows(prior) + ((100L, 100L, 2L)) + ((101L, 100L, 2L)))
  }

  test("lsh re-crawl drift: a mutated batch alarms below the banding floor, a faithful one doesn't") {
    import graft.operators.{Index, VersionedIndex}
    // the r17 text-tier drift loop (the sketch index's twin, on the
    // reference's own domain — re-crawled news articles): every
    // upsert measures the EXACT mean same-doc version Jaccard between
    // stored and fresh shingle sets, judges it against the banding
    // curve's 90%-candidate floor, and persists state + transitions
    // in the version params.
    val base = Tables.documents(spark, sf0001).limit(120)
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("lshdrift").toString + "/i"
    Dedup.writeLshIndex(base, col("doc_id"), col("text"), dir)
    val floor = Dedup.bandingS90(16, 4) // default b=16, r=64/16=4
    assert(math.abs(floor - 0.6051) < 0.001, s"s90=$floor")
    val s0 = Dedup.lshIndexStats(spark, dir)
    assert(s0.driftJaccard.isEmpty && s0.driftAlarm.isEmpty)
    // BYTE-IDENTICAL re-crawl: shingle-identical versions are zero
    // regime evidence — the reading carries (stays unmeasured), which
    // is also exactly what a crash-replay of an already-committed
    // upsert measures, making the persisted alarm state
    // replay-idempotent
    Dedup.upsertLshIndex(base, col("doc_id"), col("text"), dir)
    val s1 = Dedup.lshIndexStats(spark, dir)
    assert(s1.driftJaccard.isEmpty && s1.driftAlarm.isEmpty &&
      s1.driftBoundary.isEmpty, s"identical batch must carry, read $s1")
    // LIGHT re-crawl (one appended token): a real measurement, high
    // Jaccard, state "ok", no transition to record yet
    Dedup.upsertLshIndex(
      base.select(col("doc_id"),
        concat(col("text"), lit(" graftdriftmarker")).as("text")),
      col("doc_id"), col("text"), dir)
    val sOk = Dedup.lshIndexStats(spark, dir)
    info(f"light re-crawl: J=${sOk.driftJaccard.get}%.4f floor=$floor%.4f")
    assert(sOk.driftJaccard.exists(j => j < 1.0 && j > floor), s"$sOk")
    assert(sOk.driftAlarm.contains("ok") && sOk.driftBoundary.isEmpty)
    assert(sOk.driftFloor.exists(f => math.abs(f - floor) < 1e-12))
    assert(Index.stats(spark, dir).drift == sOk.driftJaccard.map(1.0 - _))
    // mutated re-crawl: reversed text shares ~no word trigrams with
    // the stored version → Jaccard ≈ 0 ≪ s90 → the alarm trips and
    // the ok->below-s90 transition is recorded
    Dedup.upsertLshIndex(base.select(col("doc_id"), reverse(col("text")).as("text")),
      col("doc_id"), col("text"), dir)
    val s2 = Dedup.lshIndexStats(spark, dir)
    info(f"mutated re-crawl: J=${s2.driftJaccard.get}%.4f floor=$floor%.4f")
    assert(s2.driftJaccard.exists(_ < floor), s"$s2")
    assert(s2.driftAlarm.contains("below-s90"))
    assert(s2.driftBoundary.contains("ok->below-s90"))
    // CRASH-REPLAY pin: redelivering the committed reversed batch
    // reads J=1 against its own stored shingles — zero evidence, the
    // alarm must NOT clear with a phantom below-s90->ok transition
    Dedup.upsertLshIndex(base.select(col("doc_id"), reverse(col("text")).as("text")),
      col("doc_id"), col("text"), dir)
    val sRep = Dedup.lshIndexStats(spark, dir)
    assert(sRep.driftJaccard == s2.driftJaccard &&
      sRep.driftAlarm.contains("below-s90") &&
      sRep.driftBoundary == s2.driftBoundary,
      s"replay must carry the alarmed reading, got $sRep")
    // recovery: a REAL light re-crawl of the stored (reversed) text
    // measures high again and records the transition back
    Dedup.upsertLshIndex(
      base.select(col("doc_id"),
        concat(reverse(col("text")), lit(" graftm2")).as("text")),
      col("doc_id"), col("text"), dir)
    val s3 = Dedup.lshIndexStats(spark, dir)
    assert(s3.driftJaccard.exists(j => j < 1.0 && j > floor) &&
      s3.driftAlarm.contains("ok"))
    assert(s3.driftBoundary.contains("below-s90->ok"))
    // a takedown measures nothing: the reading carries
    Dedup.deleteFromLshIndex(base.limit(5).select(col("doc_id")), dir)
    val s4 = Dedup.lshIndexStats(spark, dir)
    assert(s4.driftJaccard == s3.driftJaccard &&
      s4.driftAlarm == s3.driftAlarm && s4.driftBoundary == s3.driftBoundary)
    // an all-new-ids batch has no overlap: the reading carries
    Dedup.upsertLshIndex(
      base.select((col("doc_id") + 10000000L).as("doc_id"), col("text")),
      col("doc_id"), col("text"), dir)
    val s5 = Dedup.lshIndexStats(spark, dir)
    assert(s5.driftJaccard == s3.driftJaccard &&
      s5.driftAlarm == s3.driftAlarm && s5.driftBoundary == s3.driftBoundary)
  }
}
