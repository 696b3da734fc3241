package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.operators.Bucketing
import graft.sources.Tables

/** Measures what the clustered layout (`Bucketing.writeClustered` over
  * a `zorder16` key) buys at the parquet reader: rows materialized by
  * the scan for a 2-D box predicate over events (user bucket × hour
  * bucket), clustered vs the same rows written unsorted. Row-group
  * min/max stats do the pruning — no partition column, no custom
  * reader. Results feed the SCALE.md layout table.
  *
  * AQE is off in this session so the executed plan exposes the
  * `FileSourceScanExec` metrics directly after a collect.
  *
  * Usage: runMain graft.LayoutProbe [sfDir] [replicate]
  *
  * `replicate` (default 1) unions k event_id-shifted copies of the
  * table before the layout writes — the sf1-style projection: row
  * groups stay at ~1/128 of the table, so rows-per-group grows with
  * the data while the box still covers the same FRACTION of groups —
  * the scan fraction (and so the skip factor) holds ~constant as the
  * table grows, while the unsorted baseline stays at 100% (measured:
  * 3.5% at sf0.1 → 4.3% at ×10, SCALE.md).
  */
object LayoutProbe {

  /** Shared serving-read measurement: collect the filtered projection
    * and report (selected rows, scan-materialized rows, wall seconds)
    * from the executed plan's FileSourceScanExec metrics — ONE
    * definition so a fix to metric collection (e.g. AQE-wrapped
    * plans) cannot silently diverge between probe modes. */
  private def serveRead(spark: SparkSession, path: String,
      shape: DataFrame => DataFrame): (Long, Long, Double) =
    serveFrame(shape(spark.read.parquet(path)))

  /** [[serveRead]] over an already-shaped frame — for probes whose
    * clustered side is a PRODUCT read helper (e.g.
    * `Dedup.readClusterMembers`) rather than a raw path scan. */
  private def serveFrame(df: DataFrame): (Long, Long, Double) = {
    val t0 = System.nanoTime()
    val selected = df.collect().length.toLong
    val wall = (System.nanoTime() - t0) / 1e9
    val scan = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.metrics("numOutputRows").value
    }.sum
    (selected, scan, wall)
  }

  /** `--mirror`: probe the ADOPTED clustered layout (r13) — the CDC
    * mirror staged by `Pipelines.applyCdcBatch`, whose within-bucket
    * (table, id) sort is the writeClustered mechanism — against an
    * id-scattered baseline with identical file/row-group geometry,
    * under q145's serving predicate (one table, one id range). Hash
    * bucketing spreads every id range across ALL bucket dirs, so the
    * baseline scan touches everything; the sorted layout's row-group
    * stats confine it to |range| worth of groups. */
  private def mirrorProbe(spark: SparkSession, sfDir: String): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout-m").toString
    // FIXED rows-per-file (the row-group emulation): at scale a row
    // group is a fixed byte budget, so groups-per-bucket grows with
    // the data while rows-per-group stays put — the quantity a range
    // read's scan cost is bounded by under the sorted layout
    // (≤ buckets × (groups overlapping the range) × perFile). Keeping
    // perFile constant across probe scales makes that bound visible:
    // the clustered scan stays ~flat as the mirror grows, the
    // scattered baseline grows linearly. At 100 TB natural
    // segmentation provides the geometry and the product path passes 0.
    val perFile = 16L
    graft.queries.CdcQueries.buildReferenceMirror(spark, sfDir,
      s"$dir/clustered", maxRecordsPerFile = perFile)
    // baseline: same rows, same bucket dirs, row order decorrelated
    // from (table, id) by a hash sort, and NO file cap — one unsorted
    // file per bucket, i.e. row groups whose stats span the whole key
    // space. (Capping the baseline into 16-row files would hand it
    // accidental stats power a real unsorted row group never has: the
    // min of 16 uniform ids usually already clears a narrow low
    // range, which is an artifact of the toy scale, not of layout.)
    val live = spark.read.parquet(s"$dir/clustered")
    live.repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), md5(col("id").cast("string")))
      .write.partitionBy("bucket").parquet(s"$dir/scattered")
    val n = live.count()
    def serve(path: String): (Long, Long, Double) =
      serveRead(spark, path, _
        .filter(col("table") === "articles" && col("id").between(40L, 120L))
        .select(col("id"), col("ts_ms"), col("is_deleted")))
    val (selC, scanC, wallC) = serve(s"$dir/clustered")
    val (selS, scanS, wallS) = serve(s"$dir/scattered")
    require(selC == selS, s"layouts must agree on the range: $selC vs $selS")
    println(f"[layout] mirror rows=$n%d  range=(articles, 40..120)  selected=$selC%d")
    println(f"[layout] clustered: scan materialized $scanC%d rows " +
      f"(${100.0 * scanC / n}%.1f%% of mirror)  wall=$wallC%.2f s")
    println(f"[layout] scattered: scan materialized $scanS%d rows " +
      f"(${100.0 * scanS / n}%.1f%% of mirror)  wall=$wallS%.2f s")
    println(f"[layout] row-group skip factor: ${scanS.toDouble / math.max(1L, scanC)}%.1fx")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** `--state`: probe the ADOPTED clustered state-table layout (r14) —
    * the StreamingJob windowed-counts table landed through
    * `Pipelines.applyClusteredStateBatch` (keyword-leading sort,
    * exactly the sink's code path) — against the native streaming file
    * sink's layout (per-trigger unsorted task files, identical
    * file/row-group geometry), under the dashboard serving predicate
    * (one key × a minute range, the q15/q27/q140 shape). Triggers are
    * simulated as consecutive event-time slices — what an append-mode
    * watermark emission actually produces — so BOTH layouts get the
    * per-trigger time locality for free and the measured difference is
    * purely the within-trigger key sort. */
  private def stateProbe(spark: SparkSession, sfDir: String): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout-s").toString
    val ev = Tables.events(spark, sfDir)
    // the StreamingJob counts shape on the events table: minute bucket
    // × event_type (the keyword role)
    val counts = ev
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .count()
      .select(col("window.start").as("minute"), col("event_type").as("keyword"),
        col("count"))
      .persist()
    val n = counts.count()
    val Array(lo, hi) = counts.agg(min("minute"), max("minute")).collect()(0)
      .toSeq.map(_.asInstanceOf[java.sql.Timestamp].getTime).toArray
    val nTriggers = 8
    val slice = math.max(1L, (hi - lo) / nTriggers + 1)
    val trig = floor((col("minute").cast("long") * 1000L - lit(lo)) / lit(slice))
    val perFile = 16L
    (0 until nTriggers).foreach { k =>
      graft.streaming.Pipelines.applyClusteredStateBatch(
        counts.filter(trig === k), s"$dir/clustered", k,
        Seq("keyword", "minute"), perFile)
      // native-sink baseline: same trigger rows, unsorted task files
      // with the same row-group cap (the sink writes tasks × leaves
      // unsorted files; hash-repartition emulates task spread)
      counts.filter(trig === k)
        .repartition(4, md5(concat_ws("|", col("keyword"), col("minute"))))
        .write.option("maxRecordsPerFile", perFile)
        .parquet(s"$dir/native/batch=$k")
    }
    // serving read: one keyword's timeline over a quarter of the range
    val qLo = new java.sql.Timestamp(lo)
    val qHi = new java.sql.Timestamp(lo + (hi - lo) / 4)
    def serve(path: String): (Long, Long) = {
      val (selected, scan, _) = serveRead(spark, path, _
        .filter(col("keyword") === "error" &&
          col("minute").between(qLo, qHi))
        .select(col("minute"), col("count")))
      (selected, scan)
    }
    val (selC, scanC) = serve(s"$dir/clustered")
    val (selN, scanN) = serve(s"$dir/native")
    require(selC == selN, s"layouts must agree on the read: $selC vs $selN")
    println(f"[layout] state rows=$n%d  read=(keyword=error, first quarter)  selected=$selC%d")
    println(f"[layout] clustered: scan materialized $scanC%d rows " +
      f"(${100.0 * scanC / n}%.1f%% of state table)")
    println(f"[layout] native:    scan materialized $scanN%d rows " +
      f"(${100.0 * scanN / n}%.1f%% of state table)")
    println(f"[layout] row-group skip factor: ${scanN.toDouble / math.max(1L, scanC)}%.1fx")
    counts.unpersist()
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** `--lsh`: probe the r15 verification read of
    * `Dedup.incrementalLshPairsIndexed` — the candidate-id set pushed
    * as `doc_id IN (…)` into the shingles member scan — against the
    * pre-r15 semi-join form (identical rows, nothing pushed), plus an
    * id-scattered write to separate the two skip mechanisms. The
    * member table is hive-partitioned by `idx_bucket = hash(doc_id)`,
    * so every id set spans all bucket dirs and partition pruning
    * contributes nothing; what skips is the pushed set probing each
    * row group's doc_id DICTIONARY for literal membership (see the
    * mechanism note at the write below). Candidate volume is pinned to
    * the batch (O(batch·near-dups)) while the corpus grows — the
    * fixed-batch axis — so the pushed scan tracks the CANDIDATE count
    * and the semi-join scan tracks the CORPUS. */
  private def lshProbe(spark: SparkSession, sfDir: String): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout-l").toString
    val docs = Tables.documents(spark, sfDir)
    // the real member-table shape: exploded distinct shingles + the
    // index's bucket key (64 buckets, the writeLshIndex default)
    val sh = graft.operators.Dedup
      .shingleSet(docs, col("doc_id"), col("text"))
      // THE index's bucket definition (writeLshIndex default 64) —
      // shared so a bucketing change can never desync the probe from
      // the layout it measures
      .withColumn("idx_bucket",
        graft.operators.VersionedIndex.bucketCol(col("doc_id"), 64))
      .persist()
    val n = sh.count()
    // FIXED rows-per-file = the row-group emulation (the mirror/state
    // probes' geometry rule): at scale groups-per-bucket grows with
    // the corpus while rows-per-group stays put, so a toy corpus needs
    // capped files for file/group stats to exist at all. BOTH layouts
    // get the same cap — the difference under measurement is row
    // ORDER, not geometry.
    val perFile = 4096L
    // Dictionaries stay ENABLED (the committed layout's encoding):
    // measured mechanism decomposition at this geometry —
    //  * parquet DICTIONARY filtering is what skips: a pushed id-set
    //    probes each row group's doc_id dictionary for literal
    //    membership, so exactly the files CONTAINING a candidate
    //    survive (the information floor). It needs no row order.
    //  * min/max STATS alone (dictionaries force-disabled) prune far
    //    less on a hash-BUCKETED member: a file's doc_id band is
    //    docsPerFile × nBuckets wide (only every-64th id lands in the
    //    bucket), so uniform candidates overlap ~every band (8-id
    //    probe: 32% scan; 500-id: 100%). Stats are the fallback
    //    when a chunk's dictionary lapses, not the primary skip.
    //  * NOTHING pushed (the pre-r15 semi-join form) scans 100%.
    // The doc_id sort stays in the committed layout: it keeps the
    // stats fallback as tight as bucketing allows, and range reads
    // (compaction, per-id audits) prune unconditionally.
    def write(ordered: org.apache.spark.sql.Column, out: String): Unit =
      sh.repartition(col("idx_bucket"))
        .sortWithinPartitions(col("idx_bucket"), ordered)
        .write.partitionBy("idx_bucket").option("maxRecordsPerFile", perFile)
        .parquet(out)
    write(col("doc_id"), s"$dir/clustered")
    write(md5(col("doc_id").cast("string")), s"$dir/scattered")
    // candidate set: a batch's near-dup candidates — a few hundred ids
    // scattered uniformly over the id space (they hash into ~every
    // bucket, the worst case for partition pruning and exactly the
    // regime prunedOldShingles runs in). PINNED at ~500 ids while the
    // corpus grows: candidates track the BATCH, and a set past the
    // session's IN-pushdown threshold would silently degrade to a
    // min/max range — the exact failure this probe exists to expose.
    val nCand = sys.env.getOrElse("SPARK_GRAFT_LSH_CAND", "500").toInt
    // above the operator cap the pushed IN would cross the session's
    // pushdown threshold and silently degrade to the useless min/max
    // range — the probe would then MEASURE the degraded regime and
    // report it as layout behavior; refuse instead (the operator
    // itself falls back to the semi-join past this cap)
    require(nCand <= 4096,
      s"SPARK_GRAFT_LSH_CAND=$nCand exceeds the 4096 operator pushdown " +
        "cap — the probe would measure the degraded range-filter regime")
    val candIds = docs.filter(col("doc_id") % 199 === 7)
      .select(col("doc_id")).limit(nCand).collect().map(_.get(0))
    def serve(path: String): (Long, Long, Double) =
      serveRead(spark, path, _
        .filter(col("doc_id").isin(candIds: _*))
        .select(col("doc_id"), col("shingle")))
    val (selC, scanC, wallC) = serve(s"$dir/clustered")
    val (selS, scanS, wallS) = serve(s"$dir/scattered")
    // the pre-r15 verification shape: candidate ids arrive as a frame,
    // pruned by semi-join only — nothing reaches the parquet scan
    val idFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(candIds.toSeq.map(org.apache.spark.sql.Row(_))),
      new org.apache.spark.sql.types.StructType().add("doc_id",
        docs.schema("doc_id").dataType))
    val (selJ, scanJ, wallJ) = serveRead(spark, s"$dir/clustered", df =>
      df.select(col("doc_id"), col("shingle"))
        .join(broadcast(idFrame), Seq("doc_id"), "left_semi"))
    require(selC == selS && selC == selJ,
      s"read forms must agree on the id set: $selC vs $selS vs $selJ")
    println(f"[layout] shingles rows=$n%d  candidates=${candIds.length}%d ids  selected=$selC%d")
    println(f"[layout] clustered + pushed IN:  scan materialized $scanC%d rows " +
      f"(${100.0 * scanC / n}%.1f%% of member table)  wall=$wallC%.2f s")
    println(f"[layout] scattered + pushed IN:  scan materialized $scanS%d rows " +
      f"(${100.0 * scanS / n}%.1f%% of member table)  wall=$wallS%.2f s")
    println(f"[layout] clustered + semi-join:  scan materialized $scanJ%d rows " +
      f"(${100.0 * scanJ / n}%.1f%% of member table)  wall=$wallJ%.2f s")
    println(f"[layout] row-group skip factor (vs scattered): " +
      f"${scanS.toDouble / math.max(1L, scanC)}%.1fx; " +
      f"(vs semi-join): ${scanJ.toDouble / math.max(1L, scanC)}%.1fx")
    sh.unpersist()
    // SPARK_GRAFT_KEEP_LAYOUT: leave the written layouts on disk for
    // post-hoc inspection (parquet footer stats per file)
    if (!sys.env.contains("SPARK_GRAFT_KEEP_LAYOUT")) {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    } else System.err.println(s"[layout] kept at $dir")
  }

  /** `--ccstate`: probe the accumulated dup-cluster state layout
    * ([[graft.operators.Dedup.writeClusterState]]: unpartitioned,
    * clustered by (cluster, doc_id)) under its two serving reads —
    * "members of cluster c" (the curation fan-out: drop a cluster,
    * audit a cluster) and "cluster of doc d" (the membership lookup)
    * — against an id-scattered baseline with identical file geometry,
    * at ×10/×100 graph sizes. Component member ids are MIXED through
    * xxhash64 so the min-id label does NOT numerically track its
    * members: on real corpora a cluster's members are arbitrary ids,
    * and a structured synthetic chain (or an affine scramble — the
    * rejected first draft) would hand the doc-lookup read accidental
    * stats power the production layout never has. Fully synthetic —
    * no corpus table feeds it. */
  private def ccstateProbe(spark: SparkSession): Unit = {
    import graft.operators.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft-layout-cc").toString
    // fixed rows-per-file = the row-group emulation (the mirror/lsh
    // probes' geometry rule): groups-per-state grow with the graph,
    // rows-per-group stay put; both layouts get the same cap
    val perFile = 4096L
    val basePairs = 10000L
    // a TRUE mix, not an affine map: multiply-mod preserves arithmetic
    // structure (member ids would sit in label-correlated progressions
    // and hand the lookup read artificial page-stats power); xxhash64
    // over a 2^60 space keeps collisions negligible at probe scale
    def scramble(c: org.apache.spark.sql.Column) =
      lit(1000000000L) + pmod(xxhash64(c), lit(1L << 60))
    Seq(10, 100).foreach { g =>
      val synth = spark.range(basePairs * g).select(
        scramble(expr("id DIV 3") * 4 + (col("id") % 3)).as("doc_a"),
        scramble(expr("id DIV 3") * 4 + (col("id") % 3) + 1).as("doc_b"))
      val prevMax = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
      spark.conf.set("spark.sql.files.maxRecordsPerFile", perFile.toString)
      try {
        val clusters = Dedup.dupClusters(synth).localCheckpoint()
        try {
          // BOTH committed layouts: the unpartitioned default (small
          // states, q150) and the bucketed past-crossover form the
          // partial commit upgrades to — each serves the members read
          // through readClusterMembers, whose pruning mechanism
          // differs (row-group stats vs bucket partition + stats)
          Dedup.writeClusterState(clusters, s"$dir/cl$g")
          Dedup.writeClusterState(clusters, s"$dir/clb$g", buckets = 64)
        } finally
          org.apache.spark.sql.GraftBridge.releaseLocalCheckpoint(clusters)
      } finally prevMax match {
        case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
        case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
      val live = Dedup.readClusterState(spark, s"$dir/cl$g")
      val n = live.count()
      // scattered baseline: same rows + geometry, order decorrelated
      // from BOTH keys
      live.orderBy(md5(col("doc_id").cast("string")))
        .write.option("maxRecordsPerFile", perFile).parquet(s"$dir/sc$g")
      val lbl = live.filter(col("csize") >= 4)
        .select(col("cluster")).head().getLong(0)
      val doc = live.filter(col("cluster") =!= lbl)
        .select(col("doc_id")).head().getLong(0)
      // the clustered members reads go through the PRODUCT helper —
      // on the bucketed layout it supplies the label's hash bucket
      // (a plain filter over the partitioned member cannot derive
      // it); on the unpartitioned layout it is row-group stats alone
      val (mSelC, mScanC, _) = serveFrame(
        Dedup.readClusterMembers(spark, s"$dir/cl$g", lbl)
          .select(col("doc_id"), col("csize")))
      val (mSelB, mScanB, _) = serveFrame(
        Dedup.readClusterMembers(spark, s"$dir/clb$g", lbl)
          .select(col("doc_id"), col("csize")))
      val (mSelS, mScanS, _) = serveRead(spark, s"$dir/sc$g",
        _.filter(col("cluster") === lbl).select(col("doc_id"), col("csize")))
      val (lSelC, lScanC, _) = serveFrame(Dedup
        .readClusterState(spark, s"$dir/cl$g")
        .filter(col("doc_id") === doc).select(col("cluster")))
      val (lSelS, lScanS, _) = serveRead(spark, s"$dir/sc$g",
        _.filter(col("doc_id") === doc).select(col("cluster")))
      require(mSelC == mSelS && mSelB == mSelC && lSelC == 1 && lSelS == 1,
        s"layouts must agree: members $mSelC/$mSelB vs $mSelS, lookup $lSelC/$lSelS")
      println(f"[layout] ccstate x$g%-4d rows=$n%d  cluster=$lbl%d members=$mSelC%d")
      println(f"[layout]   members-of-cluster  unpartitioned: $mScanC%8d rows " +
        f"(${100.0 * mScanC / n}%5.1f%%)  bucketed: $mScanB%8d (${100.0 * mScanB / n}%5.1f%%)" +
        f"  scattered: $mScanS%8d (${100.0 * mScanS / n}%5.1f%%)" +
        f"  skip ${mScanS.toDouble / math.max(1L, mScanC)}%.1fx/${mScanS.toDouble / math.max(1L, mScanB)}%.1fx")
      println(f"[layout]   cluster-of-doc      unpartitioned: $lScanC%8d rows " +
        f"(${100.0 * lScanC / n}%5.1f%%)  scattered: $lScanS%8d (${100.0 * lScanS / n}%5.1f%%)" +
        f"  skip ${lScanS.toDouble / math.max(1L, lScanC)}%.1fx")
    }
    if (!sys.env.contains("SPARK_GRAFT_KEEP_LAYOUT")) {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    } else System.err.println(s"[layout] kept at $dir")
  }

  def main(args: Array[String]): Unit = {
    val mirror = args.contains("--mirror")
    val state = args.contains("--state")
    val lsh = args.contains("--lsh")
    val ccstate = args.contains("--ccstate")
    MainFlags.requireKnown(args, Set("--mirror", "--state", "--lsh", "--ccstate"))
    val pos = MainFlags.positional(args)
    val sfDir = pos.headOption.getOrElse("/root/testdata/sf0.01")
    val replicate = pos.lift(1).map(_.toInt).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.probeSession("graft-layout-probe", cpus, aqe = false)
    spark.sparkContext.setLogLevel("ERROR")

    if (mirror) {
      graft.plans.GraftFunctions.register(spark)
      // scale axis: pass a ScaleProbe-materialized workDir as sfDir
      // (events replicate there with disjoint id ranges)
      mirrorProbe(spark, sfDir)
      spark.stop()
      return
    }
    if (state) {
      stateProbe(spark, sfDir)
      spark.stop()
      return
    }
    if (lsh) {
      graft.plans.GraftFunctions.register(spark)
      // scale axis: pass a ScaleProbe-materialized workDir as sfDir
      // (documents replicate there; the candidate set stays O(batch))
      lshProbe(spark, sfDir)
      spark.stop()
      return
    }
    if (ccstate) {
      // scale axis is internal (synthetic graph ×10/×100) — the state
      // is graph-shaped, not corpus-shaped, so no sfDir table feeds it
      ccstateProbe(spark)
      spark.stop()
      return
    }

    val ev0 = Tables.events(spark, sfDir)
    val ev =
      if (replicate <= 1) ev0
      else {
        // k copies, event_id shifted per copy so the decorrelating hash
        // differs; ub/hb distributions (and so the box selectivity) are
        // unchanged
        val span = ev0.agg(max("event_id")).collect()(0).getLong(0) + 1
        (0 until replicate).map(k => ev0.withColumn(
          "event_id", col("event_id") + lit(k * span))).reduce(_ unionByName _)
      }
    val ub = pmod(col("user_id"), lit(256L))
    val hb = (expr("unix_timestamp(ts) DIV 3600") % 1024).cast("long")
    // persisted: consumed five times (count, range-sampling pass +
    // clustered write, shuffled write, box-bounds agg) — without the
    // cache a replicate=k run re-unions the source table per consumer
    val base = ev.select(
      col("event_id"), col("user_id"), col("value"),
      ub.as("ub"), hb.as("hb"),
      Bucketing.zorder16(ub, hb).as("z")).persist()
    val n = base.count()
    // ~128 row groups either way: enough granularity for skipping to
    // show, few enough that footer/stat overhead stays negligible
    val perFile = math.max(1L, (n + 127) / 128)

    val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    Bucketing.writeClustered(base, Seq(col("z")), s"$dir/clustered", 16, perFile)
    // unsorted baseline: same rows, placement AND order decorrelated
    // from both dims by a hash (round-robin would stride event_ids into
    // per-partition residue classes), same file/row-group geometry
    base.repartition(16, md5(col("event_id").cast("string")))
      .sortWithinPartitions(md5(col("event_id").cast("string")))
      .write.option("maxRecordsPerFile", perFile).parquet(s"$dir/shuffled")

    // 2-D box: an eighth of each dimension's observed range
    val Array(uLo, uHi, hLo, hHi) = base
      .agg(min("ub"), max("ub"), min("hb"), max("hb"))
      .collect()(0).toSeq.map(_.asInstanceOf[Long].toDouble).toArray
    val uCut = (uLo + math.max(1.0, (uHi - uLo) / 8)).toLong
    val hCut = (hLo + math.max(1.0, (hHi - hLo) / 8)).toLong
    def box(df: DataFrame): DataFrame =
      df.filter(col("ub") < uCut && col("hb") < hCut)

    def scanned(path: String): (Long, Long) = {
      val df = box(spark.read.parquet(path))
      val selected = df.collect().length.toLong
      val scan = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.metrics("numOutputRows").value
      }.sum
      (selected, scan)
    }
    val (selC, scanC) = scanned(s"$dir/clustered")
    val (selS, scanS) = scanned(s"$dir/shuffled")
    require(selC == selS, s"layouts must agree on the box: $selC vs $selS")

    println(f"[layout] rows=$n%d  box=(ub<$uCut%d, hb<$hCut%d)  selected=$selC%d")
    println(f"[layout] clustered: scan materialized $scanC%d rows " +
      f"(${100.0 * scanC / n}%.1f%% of table)")
    println(f"[layout] shuffled:  scan materialized $scanS%d rows " +
      f"(${100.0 * scanS / n}%.1f%% of table)")
    println(f"[layout] row-group skip factor: ${scanS.toDouble / math.max(1L, scanC)}%.1fx")

    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.stop()
  }
}
