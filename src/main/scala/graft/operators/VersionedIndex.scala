package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, count_distinct, lit, pmod, xxhash64}

/** Generic versioned on-disk index with atomic commits and
  * Iceberg-style partial commits — the persistence contract shared by
  * the LSH near-dup index and the IVF ANN index (and any future
  * multi-table index artifact):
  *
  * {{{
  *   <path>/v=N/<table>/<part>=…/…   partitions OWNED by version N
  *   <path>/v=N/MANIFEST             <table>/<partDir> <tab> <ownerVersion>
  *   <path>/v=N/params               key=value lines
  *   <path>/v=N/_GRAFT_COMMITTED     marker (always present post-commit)
  * }}}
  *
  * The current index is the HIGHEST committed version. A commit stages
  * everything — member tables, params, MANIFEST, marker — into a
  * writer-unique `.staging-*` directory and then RENAMES it to `v=N`:
  * the rename is the commit point (atomic on HDFS and POSIX), so
  *  - a crash anywhere pre-rename leaves the previous version current
  *    and fully readable (no "nothing at dest" window);
  *  - readers can never observe member tables from two different
  *    states (the mixed shingles/bands failure class);
  *  - two racing writers cannot interleave data: both stage privately,
  *    the loser's rename to the same `v=N` either fails outright or —
  *    on filesystems whose rename(src, existingDir) moves src INTO
  *    the dir — is unmasked by the marker-token read-back; either way
  *    the loser throws and the winner's version is untouched.
  *
  * PARTIAL commits (the 100 TB upsert path): a version's MANIFEST may
  * reference partition directories OWNED BY EARLIER VERSIONS via the
  * `carry` argument. An upsert then writes only the partitions its
  * batch touches — O(touched), not O(index) — while untouched
  * partitions stay exactly where they are, byte-identical, in the
  * version that last wrote them. Readers resolve the manifest with
  * [[readTable]]. Superseded versions are swept only when no longer
  * referenced by the newest manifest; callers bound the referenced
  * chain (and hence read fan-out) by compacting with a full rewrite
  * once it reaches [[MaxVersionChain]] ([[bucketRewrite]],
  * [[canCarry]]).
  *
  * Every FileSystem mutation checks its boolean return and throws —
  * HDFS reports rename/delete failure by returning false, not by
  * exception.
  *
  * ONE on-disk format: every commit writes `format=`[[Format]] into
  * the version params, and every read resolves the current version
  * through [[currentVersion]], which refuses a version with a missing
  * or different format (and [[current]] refuses a path with no
  * committed version, an unversioned layout included) — an index in
  * another format is an error naming the path and the format found,
  * never a silent migration. The decisions every index kind shares
  * live here too: the bucket key ([[bucketCol]]), the eager id check
  * at commit ([[requireUniqueIds]]) and the params check
  * ([[requireParams]]).
  */
object VersionedIndex {

  val CommitMarker = "_GRAFT_COMMITTED"
  val ParamsFile = "params"
  val ManifestFile = "MANIFEST"
  /** Params key of the on-disk format, and the one format this build
    * writes and reads. */
  val FormatKey = "format"
  val Format = "1"

  /** Staging dirs older than this (by mtime) are treated as crashed
    * writers and swept at the next commit. Younger ones may belong to
    * a LIVE concurrent writer mid-stage — sweeping those would delete
    * in-flight data and, worse, let the victim's manifest (built by
    * re-listing its partially-deleted staging dir) commit with
    * silently missing partitions. The race itself is decided at
    * rename time, never by the sweep. Writers refresh the staging
    * dir's mtime after each table stage, so the clock measures
    * per-table progress, not total commit duration. */
  val StagingSweepTtlMs: Long = 6L * 3600 * 1000

  private def readSmallText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Manifest entry key for a table committed without partitioning:
    * the whole table directory belongs to the owner version. */
  val WholeTable = "."

  private def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val root = new Path(path)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** (version, committed?) pairs, ascending. */
  def versions(fs: FileSystem, root: Path): Seq[(Int, Boolean)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .flatMap { st =>
        scala.util.Try(st.getPath.getName.stripPrefix("v=").toInt).toOption
          .map(v => v -> fs.exists(new Path(st.getPath, CommitMarker)))
      }.sortBy(_._1)

  private def paramsAt(fs: FileSystem, vdir: Path): Map[String, String] = {
    val p = new Path(vdir, ParamsFile)
    if (!fs.exists(p)) Map.empty
    else readSmallText(fs, p).linesIterator.filter(_.contains("=")).map { l =>
      val Array(k, v) = l.split("=", 2); k -> v.trim
    }.toMap
  }

  /** The current committed version and its params, if any. Refuses a
    * current version whose params carry a missing or different
    * [[FormatKey]]: every read path resolves through here, so no
    * reader ever serves another format. */
  def currentAt(spark: SparkSession,
      path: String): Option[(Int, Map[String, String])] = {
    val (fs, root) = fsFor(spark, path)
    versions(fs, root).filter(_._2).lastOption.map { case (v, _) =>
      val params = paramsAt(fs, new Path(root, s"v=$v"))
      val found = params.get(FormatKey)
      if (!found.contains(Format))
        sys.error(s"index at $path (v=$v) has " +
          found.fold(s"no $FormatKey param")(f => s"$FormatKey=$f") +
          s"; this build reads only $FormatKey=$Format — rebuild the index")
      (v, params)
    }
  }

  /** Number of the current committed version, if any; a version in
    * another format is refused. */
  def currentVersion(spark: SparkSession, path: String): Option[Int] =
    currentAt(spark, path).map(_._1)

  /** Directory of the current committed version, if any. */
  def currentDir(spark: SparkSession, path: String): Option[String] =
    currentVersion(spark, path).map(v => s"$path/v=$v")

  /** Params of an explicit version dir, unchecked — for tests that
    * inspect a given `v=N`; reads go through [[current]]. */
  private[graft] def readParams(spark: SparkSession, dir: String): Map[String, String] = {
    val (fs, vdir) = fsFor(spark, dir)
    paramsAt(fs, vdir)
  }

  /** Params of the current committed version — the entry every index
    * read starts from. Throws, naming the path, when nothing is
    * committed there; a directory holding files but no committed
    * `v=N` (an unversioned layout) is reported with what was found. */
  def current(spark: SparkSession, path: String): Map[String, String] =
    currentAt(spark, path).map(_._2).getOrElse {
      val (fs, root) = fsFor(spark, path)
      val found =
        if (!fs.exists(root)) Seq.empty
        else fs.listStatus(root).toSeq.map(_.getPath.getName).sorted
      sys.error(s"no committed index at $path" +
        (if (found.isEmpty) ""
         else s" (found ${found.mkString(", ")} but no committed v=N " +
           s"version: an unversioned layout; this build reads only " +
           s"$FormatKey=$Format — rebuild the index)"))
    }

  /** Whether an index is at `path` — the bootstrap-or-mutate test of
    * the streaming sinks. False only when nothing is there but writer
    * leftovers (`.staging-*` dirs, uncommitted `v=N` dirs); anything
    * else resolves through [[current]], so an unversioned layout or a
    * version in another format is refused, never read as "no index"
    * and built over. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, root) = fsFor(spark, path)
    val uncommitted = versions(fs, root).filterNot(_._2).map(v => s"v=${v._1}").toSet
    val found =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.map(_.getPath.getName)
        .filterNot(n => n.startsWith(".staging-") || uncommitted(n))
    found.nonEmpty && { current(spark, path); true }
  }

  /** Fail fast when the caller's parameters disagree with the ones the
    * index at `path` was built with (`stored` = its [[current]]
    * params). A key missing from the stored params fails too. */
  def requireParams(path: String, stored: Map[String, String],
      expected: Map[String, String]): Unit =
    expected.foreach { case (k, v) =>
      val s = stored.getOrElse(k,
        sys.error(s"index at $path has no $k param (expected $k=$v)"))
      require(s == v, s"index at $path was written with $k=$s; got $k=$v")
    }

  /** THE bucket key of every hash-bucketed index member (the LSH and
    * sketch `idx_bucket`, the IVF `vec_map` `vb`, the dup-cluster
    * state): a pure function of the id, so a mutation batch knows its
    * touched partitions from the batch alone, with no index read.
    * xxhash64 hashes the id's physical type — an int and the same
    * value as a long land in different buckets — so a kind whose ids
    * may arrive as either casts before calling (IVF `vec_map` casts
    * to long). */
  def bucketCol(id: Column, nBuckets: Int): Column =
    pmod(xxhash64(id), lit(nBuckets.toLong)).cast("int")

  /** The eager id check where index state commits: one aggregation
    * (it doubles as the materialization of a cached input, so it is
    * ~free) rejecting NULL ids and duplicate ids, each with its own
    * message — `count_distinct` skips NULLs, so folding them into the
    * duplicate count would misreport a NULL as a duplicate. Returns
    * the row count so callers can no-op on an empty batch. */
  def requireUniqueIds(df: DataFrame, id: String, where: String): Long = {
    val r = df.agg(count(lit(1)), count(col(id)), count_distinct(col(id))).head()
    val (rows, nonNull, distinct) = (r.getLong(0), r.getLong(1), r.getLong(2))
    require(nonNull == rows,
      s"$where: ${rows - nonNull} NULL $id rows — ids must be non-null")
    require(distinct == nonNull,
      s"$where: ${nonNull - distinct} duplicate $id rows — ids must be " +
        "unique (one row per item)")
    rows
  }

  /** The current committed version's manifest:
    * table → (partition dir name → owner version). */
  def manifest(spark: SparkSession, path: String): Map[String, Map[String, Int]] =
    currentVersion(spark, path).fold(Map.empty[String, Map[String, Int]])(
      manifestAt(spark, path, _))

  private def manifestAt(spark: SparkSession, path: String,
      v: Int): Map[String, Map[String, Int]] = {
    val (fs, root) = fsFor(spark, path)
    val mf = new Path(new Path(root, s"v=$v"), ManifestFile)
    readSmallText(fs, mf).linesIterator.filter(_.contains("\t")).toSeq.map { l =>
      val Array(key, owner) = l.split("\t", 2)
      val (table, part) = key.split("/", 2) match {
        case Array(t, p) => (t, p)
        case Array(t) => (t, WholeTable)
      }
      (table, part, owner.trim.toInt)
    }.groupBy(_._1).map { case (t, es) =>
      t -> es.map(e => e._2 -> e._3).toMap
    }
  }

  /** Read a member table of the current committed version, resolving
    * the partition manifest: each referenced version contributes
    * exactly the partition directories it still owns (an explicit-dir
    * read with `basePath`, so partition columns survive and any
    * further partition-column filter prunes within the leg). The
    * common case — every entry owned by the current version — reads
    * the version's table directory directly, so fresh/full builds keep
    * the exact plan shape of a plain parquet read. */
  def readTable(spark: SparkSession, path: String, table: String): DataFrame = {
    val cur = currentVersion(spark, path).getOrElse(
      sys.error(s"no committed version at $path"))
    val parts = manifestAt(spark, path, cur).getOrElse(table,
      sys.error(s"table $table not in manifest at $path"))
    val owners = parts.values.toSet
    if (owners == Set(cur)) spark.read.parquet(s"$path/v=$cur/$table")
    else {
      val legs = parts.toSeq.groupBy(_._2).toSeq.sortBy(_._1).map {
        case (owner, entries) =>
          val base = s"$path/v=$owner/$table"
          val dirs = entries.map(_._1).sorted
          if (dirs == Seq(WholeTable)) spark.read.parquet(base)
          else spark.read.option("basePath", base)
            .parquet(dirs.map(d => s"$base/$d"): _*)
      }
      legs.reduce(_.unionByName(_))
    }
  }

  /** Stage member tables + params + manifest as version current+1 in a
    * writer-unique staging dir, then commit by renaming it to `v=N` —
    * the atomic commit point (a lost rename race throws; data from two
    * writers can never interleave). `tables` may READ the current
    * version — nothing is overwritten in place. `partitionBy` applies
    * per table when non-empty.
    *
    * `carry` (partial commit): per table, partition-dir → owner-version
    * entries to REFERENCE from earlier versions instead of rewriting.
    * Partitions actually written this commit always own themselves and
    * override any carried entry with the same name. Versions no longer
    * referenced by the new manifest are swept after the commit.
    *
    * `derive` stages additional member tables AFTER `tables`, each
    * computed by a function of the STAGING DIRECTORY path — the way to
    * commit a projection of a sibling table (e.g. the IVF `vec_map`
    * from the staged `lists`) without recomputing the expensive
    * upstream plan: the derived read is a column-pruned scan of bytes
    * already written this commit. Derived tables join the manifest and
    * the atomic rename exactly like primary ones.
    *
    * `params` are written with `format=`[[Format]] added. */
  def commit(spark: SparkSession, path: String,
      tables: Seq[(String, DataFrame)], params: Map[String, String],
      partitionBy: Map[String, Seq[String]] = Map.empty,
      carry: Map[String, Map[String, Int]] = Map.empty,
      derive: Seq[(String, String => DataFrame)] = Seq.empty,
      onStaged: () => Unit = () => (),
      clusterBy: Map[String, Seq[String]] = Map.empty): Unit = {
    val (fs, root) = fsFor(spark, path)
    val vs = versions(fs, root)
    val cur = vs.filter(_._2).lastOption.map(_._1).getOrElse(0)
    // Sweep uncommitted `v=` orphans (renames are atomic, so an
    // uncommitted v= dir can only be a pre-staging-era crash or an
    // external mkdir — never an in-flight writer) and staging dirs
    // whose mtime shows no progress for StagingSweepTtlMs (crashed
    // writers). YOUNG staging dirs are left alone: they may belong to
    // a live concurrent writer, and the race is decided at rename
    // time, not here.
    vs.filter { case (v, committed) => v > cur && !committed }.foreach {
      case (v, _) =>
        val d = new Path(root, s"v=$v")
        require(fs.delete(d, true), s"failed to sweep orphaned $d")
    }
    val now = System.currentTimeMillis()
    if (fs.exists(root)) fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(".staging-"))
      .filter(st => now - st.getModificationTime > StagingSweepTtlMs)
      .foreach(st => require(fs.delete(st.getPath, true),
        s"failed to sweep dead staging dir ${st.getPath}"))
    carry.foreach { case (t, entries) =>
      entries.values.foreach(o => require(o <= cur,
        s"carried entry for $t references version $o > current $cur"))
    }

    val next = cur + 1
    val staging = new Path(root,
      s".staging-${java.util.UUID.randomUUID().toString.take(8)}")
    def stage(name: String, df: DataFrame): Unit = {
      val pcols = partitionBy.get(name).filter(_.nonEmpty)
      // ONE file per partition dir, not tasks × dirs (the mirror
      // sink's file-count lesson applied at the single staging
      // definition): without the repartition every write task holding
      // rows of a bucket opens its own file in that bucket's dir —
      // measured 2,048 files for a 64-bucket sketch index staged from
      // 32 shuffle partitions, and EVERY read of the index paid the
      // per-file open/footer cost (the dominant term in the r14
      // fixed-batch probe). One extra exchange of the staged rows
      // buys O(buckets) files; at 100 TB the same trade bounds
      // manifest/listing pressure on the object store.
      val out = pcols.fold(df)(cs =>
        df.repartition(cs.map(org.apache.spark.sql.functions.col): _*))
      // `clusterBy` sorts rows by the named columns within each
      // written file (partition cols lead the sort, so the writer's
      // own partition-ordering requirement is satisfied by the same
      // single sort — no second sort inside the write). Clustered
      // members carry tight per-row-group/page min-max stats on the
      // cluster key: range reads prune unconditionally, and pushed
      // key-SET probes keep a stats fallback when a chunk's
      // dictionary lapses (the dictionary is the primary set-probe
      // skip — SCALE.md "What actually skips bytes under the pushed
      // IN" holds the decomposition). Any
      // change here is an index LAYOUT change — bump [[Format]].
      val ccols = clusterBy.getOrElse(name, Seq.empty)
      val sorted =
        if (ccols.isEmpty) out
        else out.sortWithinPartitions(
          (pcols.getOrElse(Seq.empty) ++ ccols)
            .map(org.apache.spark.sql.functions.col): _*)
      val w = sorted.write
      pcols.fold(w)(cols => w.partitionBy(cols: _*))
        .parquet(new Path(staging, name).toString)
      // refresh the staging dir's mtime so the liveness clock other
      // writers' sweeps read measures per-TABLE progress — a long
      // multi-table stage never looks dead while it advances
      fs.setTimes(staging, System.currentTimeMillis(), -1)
    }
    tables.foreach { case (name, df) => stage(name, df) }
    // derived tables read bytes already staged this commit
    val derived = derive.map { case (name, fn) =>
      name -> fn(staging.toString)
    }
    derived.foreach { case (name, df) => stage(name, df) }
    // manifest: carried entries + everything staged (staged wins)
    val stagedFrames = tables ++ derived
    val staged = stagedFrames.map(_._1)
    val owned: Map[String, Map[String, Int]] = stagedFrames.map {
      case (name, df) =>
        val tdir = new Path(staging, name)
        val partDirs = fs.listStatus(tdir).toSeq
          .filter(c => c.isDirectory && c.getPath.getName.contains("="))
          .map(_.getPath.getName)
        // A PARTITIONED table staged with zero rows (e.g. a takedown
        // that emptied every touched partition) writes no partition
        // dirs AND no schema. While CARRIED partitions keep the table
        // alive, owning nothing is correct (recording whole-table
        // ownership would point readers at an empty dir alongside the
        // carried legs). But when carry is empty too — a FULL takedown
        // — dropping the table from the manifest would permanently
        // wedge the index: readers error on the missing entry, and
        // mutations can never re-add what they cannot read. Re-stage
        // that case as an empty UNPARTITIONED parquet table: the
        // schema survives in the part file's footer, the manifest
        // keeps the table (whole-owned), readers see zero typed rows,
        // and the next mutation routes through the full-rewrite branch
        // — full takedown followed by re-ingest works for EVERY index
        // kind (r13; pinned by the IVF/LSH/sketch
        // takedown-then-reingest specs).
        val emptiedPartitioned =
          partDirs.isEmpty && partitionBy.get(name).exists(_.nonEmpty)
        if (emptiedPartitioned && carry.getOrElse(name, Map.empty).isEmpty) {
          require(fs.delete(tdir, true), s"failed to clear empty $tdir")
          df.limit(0).write.parquet(tdir.toString)
        }
        name -> (if (partDirs.nonEmpty) partDirs.map(_ -> next).toMap
                 else if (emptiedPartitioned &&
                   carry.getOrElse(name, Map.empty).nonEmpty)
                   Map.empty[String, Int]
                 else Map(WholeTable -> next))
    }.toMap
    val mf: Map[String, Map[String, Int]] =
      (carry.keySet ++ owned.keySet).map { t =>
        t -> (carry.getOrElse(t, Map.empty) ++ owned.getOrElse(t, Map.empty))
      }.toMap
    val mfOut = fs.create(new Path(staging, ManifestFile), true)
    try mfOut.write(mf.toSeq.sortBy(_._1).flatMap { case (t, es) =>
      es.toSeq.sortBy(_._1).map { case (p, o) => s"$t/$p\t$o\n" }
    }.mkString.getBytes("UTF-8"))
    finally mfOut.close()
    val out = fs.create(new Path(staging, ParamsFile), true)
    try out.write((params + (FormatKey -> Format)).toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v\n" }.mkString.getBytes("UTF-8"))
    finally out.close()
    // the marker carries a writer-unique token: rename alone is not
    // proof of ownership on HDFS-semantics filesystems, where
    // rename(src, existingDir) "succeeds" by moving src INTO the dir
    val token = java.util.UUID.randomUUID().toString
    val marker = fs.create(new Path(staging, CommitMarker), true)
    try marker.write(token.getBytes("UTF-8")) finally marker.close()
    onStaged() // test seam: everything staged, rename not yet attempted
    // THE commit point: atomic dir rename; a lost writer race either
    // returns false (POSIX: dest exists) or nests our staging inside
    // the winner's committed dir (HDFS move-into-dir semantics) — the
    // token read-back distinguishes a real commit from the latter
    val vdir = new Path(root, s"v=$next")
    val renamed = fs.rename(staging, vdir)
    if (!renamed)
      sys.error(s"lost commit race for $vdir: rename failed " +
        "(concurrent writer committed first); staged data left for TTL sweep")
    val committedToken = {
      val p = new Path(vdir, CommitMarker)
      if (fs.exists(p)) readSmallText(fs, p) else ""
    }
    if (committedToken != token) {
      val nested = new Path(vdir, staging.getName)
      if (fs.exists(nested)) require(fs.delete(nested, true),
        s"failed to remove lost-race staging nested at $nested")
      sys.error(s"lost commit race for $vdir: another writer's commit is " +
        "already live (staging was renamed into it and has been removed)")
    }

    // committed — sweep versions no longer referenced
    val referenced = mf.values.flatMap(_.values).toSet + next
    vs.filter { case (v, committed) => committed && !referenced.contains(v) }
      .foreach { case (v, _) =>
        val d = new Path(root, s"v=$v")
        require(fs.delete(d, true), s"failed to sweep superseded $d")
      }
  }

  /** Floor for [[recommendIdxBuckets]]: below ~32 MB per bucket the
    * per-partition FIXED costs (file open, footer, one-file-per-dir
    * write, manifest entry) dominate the bytes a pruned read saves —
    * measured r18: applying the naive size/rewrite_unit rule to a
    * 50k-doc LSH index (64→640 buckets) made the fixed-batch upsert
    * 2.44× SLOWER (~347 touched partition dirs of fixed cost), while
    * the 64-bucket default was already flat (0.90×). SCALE.md
    * "rule-sized buckets ... REFUTED at this scale" has the table. */
  val MinBucketBytes: Long = 32L * 1024 * 1024

  /** The `nBuckets ≈ size/rewrite_unit` sizing rule WITH its measured
    * floor: one bucket is the unit a partial commit rewrites, so the
    * rule bounds per-mutation IO as the index grows — but only once a
    * bucket's bytes dwarf a file-open. Equivalent form:
    * `indexBytes / max(targetRewriteUnitBytes, minBucketBytes)`,
    * clamped to ≥ 1 — asking for rewrite units smaller than the floor
    * buys no IO (the read is pruned either way) and multiplies
    * per-commit file costs, so the floor wins. Deployments size
    * `idxBuckets` (LSH/sketch) and the mirror's `nBuckets` with this
    * at (re)build/compaction points; the LayoutSpec arms pin all
    * three regimes. */
  def recommendIdxBuckets(indexBytes: Long, targetRewriteUnitBytes: Long,
      minBucketBytes: Long = MinBucketBytes): Int = {
    require(indexBytes > 0 && targetRewriteUnitBytes > 0 && minBucketBytes > 0,
      s"recommendIdxBuckets needs positive sizes, got index=$indexBytes " +
        s"unit=$targetRewriteUnitBytes floor=$minBucketBytes")
    val unit = math.max(targetRewriteUnitBytes, minBucketBytes)
    math.max(1L, math.min(indexBytes / unit, Int.MaxValue.toLong)).toInt
  }

  /** ONE definition of the drift-loop persistence skeleton shared by
    * every mutable index kind's regime monitor — sketch (flip-rate
    * sizing band), LSH (re-crawl Jaccard alarm) and IVF/IVF-PQ
    * (centroid-staleness / codebook-error EWMAs). The
    * carry/boundary-crossing/serialization dance was previously
    * hand-copied per kind (r17), so a semantics fix had to land in
    * two places and the third kind shipped without one. */
  private[operators] object Drift {

    /** `drift*` params carried forward by a commit that measured
      * nothing new — a takedown, an all-new-ids batch, or a
      * ZERO-EVIDENCE overlap (every measured pair identical): the
      * last real regime reading, including an active alarm, must
      * survive. The zero-evidence carry is also what makes the
      * persisted drift state idempotent under crash-replay of an
      * already-committed upsert — the replay measures the batch
      * against its own rows, sees no evidence, and carries instead
      * of logging a phantom recovery crossing. */
    def carried(params: Map[String, String]): Map[String, String] =
      params.filter { case (k, _) => k.startsWith("drift") }

    /** Record a fresh reading: `measured` (serialize doubles with
      * Double.toString, NEVER an f-interpolator — that formats under
      * the JVM default locale, and a comma-decimal locale would
      * persist an unparseable "0,0714") plus the state under
      * `stateKey` and, when the state MOVED, the crossing as
      * `driftBoundary` ("prev->cur"), carried until the next
      * crossing replaces it. `onCross` fires only on a state change —
      * the alarm/log hook; alarms that must also fire on a FIRST
      * measurement (no prior state) stay at the call site. */
    def record(params: Map[String, String], stateKey: String,
        state: String, measured: Map[String, String],
        onCross: String => Unit = _ => ()): Map[String, String] = {
      val crossed = params.get(stateKey).filter(_ != state)
        .map(p => s"$p->$state")
      crossed.foreach(onCross)
      measured ++ Map(stateKey -> state) ++
        crossed.orElse(params.get("driftBoundary")).map("driftBoundary" -> _)
    }

    /** Batch-size-weighted integer EWMA fold: recent' =
      * ⌊(W·prev + n·value)/(W + n)⌋ with memory W capped at
      * `windowCap` rows — "recent" means the last ~windowCap ingested
      * rows, so batch means stay low-variance, any batch larger than
      * the window rightly dominates it (weight n/(W+n) → 1), and a
      * single-row outlier moves the signal by at most 1/(W+1) of its
      * excess. Integer arithmetic throughout (sums < 2⁵³) — exact and
      * locale-safe. Shared by the PQ codebook-error and IVF
      * centroid-distance staleness signals. */
    def ewma(params: Map[String, String], prefix: String,
        n: Long, value: Long, windowCap: Long): Map[String, String] = {
      val prev = params.get(s"${prefix}Recent").map(_.toLong)
        .orElse(params.get(s"${prefix}Build").map(_.toLong)).getOrElse(value)
      val w = params.get(s"${prefix}Window").map(_.toLong).getOrElse(windowCap)
      Map(s"${prefix}Recent" -> ((w * prev + n * value) / (w + n)).toString,
        s"${prefix}Window" -> math.min(w + n, windowCap).toString)
    }
  }

  /** The compaction point of every partial-commit index kind: a
    * mutation commits partially only while the member tables it names
    * reference fewer versions than this (the new one counted); past it
    * the mutation takes the full route, which bounds read fan-out and
    * lets the old versions sweep. */
  val MaxVersionChain = 8

  /** THE chain and eligibility rule of a partial commit, shared by
    * every index kind (LSH, sketch, IVF, dup-cluster state): every
    * member table in `tables` is present and partitioned (a full
    * takedown leaves whole-table owners), and the versions they
    * reference plus the next one stay within [[MaxVersionChain]]. */
  private[operators] def canCarry(mf: Map[String, Map[String, Int]],
      tables: Seq[String]): Boolean = {
    val entries = tables.map(mf.getOrElse(_, Map.empty[String, Int]))
    entries.forall(m => m.nonEmpty && !m.contains(WholeTable)) &&
      entries.flatMap(_.values).toSet.size + 1 <= MaxVersionChain
  }

  /** THE carry filter: `table`'s manifest entries other than the
    * `key=v` partitions for `touched` values — what a partial commit
    * references instead of rewriting. */
  private[operators] def carryUntouched(mf: Map[String, Map[String, Int]],
      table: String, key: String, touched: Iterable[Any]): Map[String, Int] = {
    val dirs = touched.map(v => s"$key=$v").toSet
    mf.getOrElse(table, Map.empty).filter { case (d, _) => !dirs(d) }
  }

  /** (carryDepth, carriedParts) of `tables`' member legs at the
    * committed version, from the manifest alone: versions since the
    * oldest still-referenced leg, and legs not owned by the current
    * version. (0, 0) when nothing is committed or no leg exists. */
  private[operators] def carryOf(spark: SparkSession, path: String,
      tables: Seq[String]): (Int, Int) =
    currentVersion(spark, path).fold((0, 0)) { cur =>
      val mf = manifestAt(spark, path, cur)
      val legs = tables.flatMap(t => mf.getOrElse(t, Map.empty).values)
      if (legs.isEmpty) (0, 0) else (cur - legs.min, legs.count(_ != cur))
    }

  /** One mutation's rewrite of `idx_bucket`-partitioned member tables.
    * `partial` is the route ([[canCarry]]); `prior(table)` the rows the
    * commit rewrites, with `idx_bucket`: the touched partitions on the
    * partial route, the whole table with `idx_bucket` re-derived on
    * the full route (an emptied member has none); `carry` the
    * untouched partitions, empty on the full route. */
  private[operators] final case class BucketRewrite(partial: Boolean,
      prior: String => DataFrame, carry: Map[String, Map[String, Int]])

  /** THE bucket-rewrite plan of every `idx_bucket` index mutation (LSH
    * and sketch upsert/delete, dup-cluster state). `keys` pairs member
    * tables with the mutation's key frame for them: its one column is
    * the tables' id column, and `bucketCol(id, nBuckets)` of its rows
    * are the touched buckets — a pure function of the keys, one
    * bounded driver collect (≤ nBuckets ints per frame), no index
    * read. None when the keys touch no bucket: nothing to commit. */
  private[operators] def bucketRewrite(spark: SparkSession, path: String,
      nBuckets: Int, keys: Seq[(Seq[String], DataFrame)]): Option[BucketRewrite] = {
    val hits = keys.zipWithIndex.map { case ((_, k), i) =>
      k.select(lit(i).as("k"), bucketCol(col(k.columns.head), nBuckets).as("b"))
    }.reduce(_.unionByName(_)).distinct().collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toSeq
    if (hits.isEmpty) None
    else {
      val mf = manifest(spark, path)
      val perTable = keys.zipWithIndex.flatMap { case ((ts, k), i) =>
        ts.map(_ -> (k.columns.head, hits.filter(_._1 == i).map(_._2)))
      }.toMap
      val partial = canCarry(mf, perTable.keys.toSeq)
      def prior(t: String): DataFrame = {
        val raw = readTable(spark, path, t)
        if (partial) raw.filter(col("idx_bucket").isin(perTable(t)._2.map(Int.box): _*))
        else raw.drop("idx_bucket")
          .withColumn("idx_bucket", bucketCol(col(perTable(t)._1), nBuckets))
      }
      val carry =
        if (!partial) Map.empty[String, Map[String, Int]]
        else perTable.map { case (t, (_, bs)) =>
          t -> carryUntouched(mf, t, "idx_bucket", bs)
        }.filter(_._2.nonEmpty)
      Some(BucketRewrite(partial, prior, carry))
    }
  }
}
