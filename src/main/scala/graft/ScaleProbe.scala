package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale tooling kept beside the measurements it produced (SCALE.md
  * holds the frozen tables; `perfbench/` is the one measurement
  * harness). Three uses remain:
  *
  *  - [[materialize]]: the ×F replication the similarity and
  *    layout tests use, and the one real-shape scaling input for an
  *    operator family. MEASUREMENT ONLY, never an oracle input (the
  *    driver generates data up to sf0.1; correctness gates run
  *    exclusively on driver data);
  *  - `--health <indexRoot>` ([[healthMain]]): the index health poll
  *    a deployment crons;
  *  - `--commit-crossover <sfDir> <stateRoot>`
  *    ([[commitCrossoverTier]]): the deployment's whole-vs-partial
  *    commit crossover for `dupClusterSink`.
  *
  * The replica built by [[materialize]] preserves the STATISTICAL
  * SHAPE the probed operators are sensitive to rather than raw bytes:
  *
  *  - ids remap into disjoint ranges (`id + k·stride`), so exact-dedup
  *    group counts and join fan-outs scale like real corpus growth;
  *  - replica k>0 text is token-salted (every whitespace token gets an
  *    `rK` suffix), so each replica's shingle/vocab space is DISJOINT
  *    from every other's — without this, every original doc would gain
  *    F−1 near-clones and LSH pair output would blow up O(F²) per doc,
  *    which is not what 10× more crawl data looks like. Salting makes
  *    vocabulary grow linearly (real vocab growth is sublinear), so
  *    BPE-tier ratios here are an UPPER bound;
  *  - replica k>0 embeddings get deterministic per-element jitter
  *    (±0.01, hash-derived), so vectors are near but not identical and
  *    centroid assignment/banding behave like fresh data.
  *
  * Usage: runMain graft.ScaleProbe --health <indexRoot>
  *        runMain graft.ScaleProbe --commit-crossover <sfDir> <stateRoot>
  */
object ScaleProbe {

  /** Replicate documents+embeddings+events ×factor into `outDir`
    * (each table skipped if already present). `jitterPermille` scales
    * the embedding replica jitter amplitude (±jitterPermille/1000):
    * the default 10 (±0.01, ~1.3% sign-bit flips on this corpus) is
    * the r13 dense-regime setting, BIT-IDENTICAL to the original
    * division formula; 50 (±0.05) builds the mid-noise regime of the
    * r14 recall sweep (~5% flips; SCALE.md "Mid-noise recall sweep"). */
  def materialize(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int,
      tables: Set[String] = Set("documents", "embeddings", "events"),
      jitterPermille: Int = 10): Unit = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Replica-param marker: skip-if-present reuse must be keyed on the
    // parameters that shaped the replica, or an outDir built at
    // jitter=10 is silently reused for a jitter=50 request (wrong
    // noise regime — corrupts exactly the numbers a sweep exists to
    // measure; same for factor). An underscore file inside the table
    // dir is invisible to parquet readers. A mismatch is a loud
    // failure, and so is a MISSING marker: the params that built the
    // dir are unknowable, so it is refused, not reused or rebuilt.
    // src is part of the replica identity too: the same outDir built
    // from a DIFFERENT source corpus at matching factor/jitter would
    // otherwise be reused silently — the same wrong-regime failure
    // class, on the source axis (r15 review finding). Path NORMALIZED
    // (Hadoop Path strips trailing/redundant slashes) so an
    // equivalent spelling of the same source never hard-fails reuse
    // of a valid multi-GB replica.
    val srcKey = new org.apache.hadoop.fs.Path(srcDir).toString
    // one field per LINE (not space-separated): a srcDir containing a
    // space must not shear the marker into garbled tokens and hard-fail
    // reuse of a valid multi-GB replica (r15 advisor finding)
    def wanted(name: String): Map[String, String] = {
      val base = Map("src" -> srcKey, "factor" -> factor.toString)
      if (name.startsWith("embeddings"))
        base + ("jitterPermille" -> jitterPermille.toString)
      else base
    }
    def renderMarker(m: Map[String, String]): String =
      Seq("src", "factor", "jitterPermille")
        .flatMap(k => m.get(k).map(v => s"$k=$v")).mkString("\n")
    def marker(name: String) =
      new org.apache.hadoop.fs.Path(s"$outDir/$name/_GRAFT_PARAMS")
    def writeMarker(name: String): Unit = {
      val out = fs.create(marker(name), true)
      try out.write(renderMarker(wanted(name)).getBytes("UTF-8"))
      finally out.close()
    }
    // Line-per-field only. Unparseable content (the old single-line
    // form, or the "no marker" stand-in) maps to a sentinel that can
    // never equal wanted(), so the mismatch require stays loud.
    def parseMarker(stored: String): Map[String, String] =
      stored.trim.linesIterator.map(_.trim).filter(_.nonEmpty).map { line =>
        val i = line.indexOf('=')
        if (i < 0) ("_unparseable" -> line) else (line.take(i) -> line.drop(i + 1))
      }.toMap
    def missing(name: String): Boolean = {
      if (!tables.contains(name.stripSuffix(".parquet"))) return false
      val dir = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      if (!fs.exists(dir)) return true
      val stored = if (!fs.exists(marker(name))) "no marker" else {
        val in = fs.open(marker(name))
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
      // field-by-field compare, with the stored src normalized the same
      // way as wanted()'s — a marker stamped by a revision (or caller)
      // that spelled the identical source differently must not
      // hard-fail reuse of a valid replica
      val normStored = parseMarker(stored).map {
        case ("src", v) =>
          "src" -> new org.apache.hadoop.fs.Path(v).toString
        case kv => kv
      }
      require(normStored == wanted(name),
        s"$dir was materialized with [${stored.trim}] but this run needs " +
          s"[${renderMarker(wanted(name))}] — delete the dir (reusing it " +
          "would measure the wrong replica regime)")
      false
    }

    val reps = explode(sequence(lit(0), lit(factor - 1))).as("rep")

    if (missing("documents.parquet")) {
      val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      val docStride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
      docs.select(col("*"), reps)
        .select(
          (col("doc_id") + col("rep") * docStride).as("doc_id"),
          // replica-salted tokens: "$1rK" = regex group 1 + literal rK —
          // replica shingle/vocab spaces are pairwise disjoint
          when(col("rep") === 0, col("text"))
            .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit("$1r"), col("rep")))).as("text"),
          col("lang"), col("source"), col("n_chars"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      writeMarker("documents.parquet")
    }

    if (missing("embeddings.parquet")) {
      val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
      val vecStride = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
      emb.select(col("*"), reps)
        .select(
          (col("vec_id") + col("rep") * vecStride).as("vec_id"),
          // deterministic jitter so replicas are near, not equal; the
          // divisor keeps the default amplitude's float rounding
          // identical to the original /100000.0f form
          when(col("rep") === 0, col("embedding"))
            .otherwise(transform(col("embedding"), (x, i) =>
              (x + (pmod(hash(col("vec_id") * 31 + i + col("rep")), lit(2000))
                - 1000).cast("float")
                / lit(1000000.0f / jitterPermille)).cast("float")))
            .as("embedding"),
          col("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      writeMarker("embeddings.parquet")
    }

    if (missing("events.parquet")) {
      // replicas keep the same time range (10× traffic density, not a
      // longer window) with event_id AND user_id remapped into
      // disjoint ranges: the CDC key space — and hence the mirror's
      // upsert/delete group count — scales like real growth. Read via
      // Tables.events so the ts normalization contract applies before
      // the rewrite.
      val ev = graft.sources.Tables.events(spark, srcDir)
      val evStride = ev.agg(max(col("event_id"))).head().getLong(0) + 1L
      val userStride = ev.agg(max(col("user_id"))).head().getLong(0) + 1L
      ev.select(col("*"), reps)
        .select(
          (col("event_id") + col("rep") * evStride).as("event_id"),
          col("ts"),
          (col("user_id") + col("rep") * userStride).as("user_id"),
          col("event_type"), col("value"), col("props"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
      writeMarker("events.parquet")
    }
  }

  /** `--health <root>`: the monitoring loop COVERAGE.md promises, as a
    * runnable artifact — open every index committed under `root`
    * (direct children) through the ONE health entry point
    * ([[graft.operators.Index.stats]]: manifest read + one bounded
    * aggregation per index, no serving state loaded) and print the
    * kind/rows/skew/carry/drift table a deployment would poll. Drift
    * reads in ONE 0-is-healthy direction across every mutable kind
    * (sketch flip rate, lsh shift rate, ivf centroid staleness, ivf-pq
    * codebook-error excess). Children without a committed index are
    * reported and skipped, not fatal — a deployment root holds
    * half-built staging dirs. */
  def healthMain(spark: SparkSession, root: String): Unit = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(rootPath), s"--health: no such root $root")
    val children = fs.listStatus(rootPath).filter(_.isDirectory)
      .map(_.getPath.toString).sorted.toSeq
    require(children.nonEmpty, s"--health: $root has no subdirectories")
    val rows = children.flatMap { p =>
      try Some(p.split('/').last -> graft.operators.Index.stats(spark, p))
      catch { case e: Throwable =>
        System.err.println(s"[health] skipped $p: ${e.getMessage}")
        None
      }
    }
    System.err.println(
      "| index | kind | rows | partitions | max | median | skew | carry | carried | emptied | drift |")
    System.err.println("|---|---|---|---|---|---|---|---|---|---|---|")
    rows.foreach { case (name, s) =>
      val drift = s.drift.map(d => f"$d%.4f").getOrElse("—")
      System.err.println(
        f"| $name | ${s.kind} | ${s.rows} | ${s.partitions} | ${s.maxPartition} " +
          f"| ${s.medianPartition} | ${s.skew}%.2f | ${s.carryDepth} " +
          f"| ${s.carriedParts} | ${s.emptied} | $drift |")
    }
    println(healthRecord(root, rows))
  }

  /** The `--health` stdout record, pure so the spec reads it back. */
  private[graft] def healthRecord(root: String,
      rows: Seq[(String, graft.operators.Index.IndexStats)]): String =
    s"""{"metric":"health","root":${JsonStr(root)},"indexes":{""" +
      rows.map { case (name, s) =>
        s"""${JsonStr(name)}:{"kind":${JsonStr(s.kind)},"rows":${s.rows},""" +
          s""""partitions":${s.partitions},"skew":${f"${s.skew}%.4f"},""" +
          s""""carryDepth":${s.carryDepth},"carriedParts":${s.carriedParts},""" +
          s""""emptied":${s.emptied},"drift":${s.drift.map(d => f"$d%.6f").getOrElse("null")}}"""
      }.mkString(",") + "}}"

  /** SPARK_GRAFT_GROW_FACTORS, the commit-crossover state-size
    * ladder. Tolerates trailing commas; an explicitly SET empty value fails
    * loudly — silently running a default ladder would hand the
    * operator default numbers labeled as their requested run. */
  private def parseGrowFactors(default: Seq[Int]): Seq[Int] =
    sys.env.get("SPARK_GRAFT_GROW_FACTORS").map { v =>
      val parsed = v.split(",").map(_.trim).filter(_.nonEmpty)
        .map(_.toInt).toSeq
      require(parsed.nonEmpty,
        s"SPARK_GRAFT_GROW_FACTORS is set but holds no factors: '$v'")
      parsed
    }.getOrElse(default)

  /** Synthetic settled cluster state: `pairs` edges as 4-node chains
    * (3 edges each) over an id space disjoint from the corpus and
    * every probe batch — the total-duplicates-ever stand-in of the
    * commit-crossover tier. */
  private def buildSynthState(spark: SparkSession, pairs: Long,
      path: String): Unit = {
    import graft.operators.Dedup
    val synth = spark.range(pairs).select(
      (lit(1000000000L) + expr("id DIV 3") * 4 + (col("id") % 3)).as("doc_a"),
      (lit(1000000000L) + expr("id DIV 3") * 4 + (col("id") % 3) + 1).as("doc_b"))
    Dedup.writeClusterStateWithPairs(Dedup.dupClusters(synth), synth, path)
  }

  /** The crossover recommendation from (settledPairs, wholeSec,
    * partialSec) rows, pure so the rule is spec-pinned: the smallest
    * pair count where the partial route starts winning, linearly
    * interpolated on the (whole − partial) zero crossing between the
    * bracketing sizes. None = the partial route never won inside the
    * tested range — keep the whole-write default and extend the
    * ladder if the deployment expects bigger states (recommending a
    * number past the measurements would be an extrapolation dressed
    * as one). Rows must be in increasing pair order. */
  private[graft] def crossoverRecommendation(
      rows: Seq[(Long, Double, Double)]): Option[Long] = {
    require(rows.nonEmpty && rows.map(_._1) == rows.map(_._1).sorted,
      "crossover rows must be non-empty and size-ordered")
    val i = rows.indexWhere { case (_, w, p) => p < w }
    if (i < 0) None
    else if (i == 0) Some(rows.head._1) // at or below the tested floor
    else {
      val (p0, w0, q0) = rows(i - 1)
      val (p1, w1, q1) = rows(i)
      val d0 = w0 - q0 // < 0 (whole still ahead)
      val d1 = w1 - q1 // > 0 (partial ahead)
      Some(p0 + ((p1 - p0) * (-d0) / (d1 - d0)).toLong)
    }
  }

  /** Cold-IO support for the crossover probe
    * (SPARK_GRAFT_XOVER_COLD=1): sync + drop the OS page cache before
    * every timed trigger, so every READ in both routes pays real
    * device IO. What it can and cannot emulate, measured (SCALE.md
    * r17): the READ side goes cold, but parquet WRITES still land in
    * the page cache asynchronously — no local-filesystem trick makes
    * the whole-write route pay its write bandwidth synchronously, so
    * a local cold run still understates the whole write relative to
    * a real cluster, where the output commit (object-store upload /
    * rename) IS synchronous. For the write-bound regime, point the
    * probe's stateRoot at the deployment's REAL storage mount — that
    * is the probe's design, the cold flag only removes the read-side
    * page-cache subsidy. Requires root (/proc/sys/vm/drop_caches)
    * and fails LOUDLY when the flag is set but the drop is
    * unavailable — silently measuring warm would hand the operator
    * page-cache numbers labeled cold. */
  private def dropCaches(): Unit =
    try {
      Runtime.getRuntime.exec(Array("sync")).waitFor()
      val w = new java.io.FileOutputStream("/proc/sys/vm/drop_caches")
      try w.write('3'.toInt) finally w.close()
    } catch {
      case e: Exception => sys.error(
        "SPARK_GRAFT_XOVER_COLD=1 but dropping the page cache failed " +
          s"($e) — needs root on the probe host; unset the flag to " +
          "measure the warm regime instead")
    }

  /** `--commit-crossover`: measure THIS deployment's partial-commit
    * crossover ([[graft.operators.Dedup.CcPartialCommitMinPairs]] is
    * local-NVMe truth; a real cluster or object store crosses
    * earlier because the whole write is bandwidth-bound while the
    * partial route's overhead stays driver-scheduling-bound) and
    * print the `partialMinPairs` to pass to `dupClusterSink`. The
    * synthetic settled states ([[buildSynthState]]) live ON
    * `stateRoot` — point it at the deployment's real
    * storage path, because the whole-vs-partial balance IS a storage
    * property — and only the trigger routes are timed (whole BEFORE
    * partial at each size: the layout upgrade is one-way). Probe
    * dirs are removed afterwards. Heap note: bootstrap-closing a
    * ≥10M-edge synthetic state needs a large driver heap (the r16
    * measurements ran 48g); the probe sizes are the operator's call
    * via SPARK_GRAFT_GROW_FACTORS (default 50,100,150 =
    * 5M/10M/15M pairs, bracketing the NVMe crossover). */
  def commitCrossoverTier(spark: SparkSession, srcDir: String,
      stateRoot: String, factors: Seq[Int], runs: Int): Unit = {
    import graft.operators.{Pins, Similarity}
    require(factors == factors.sorted,
      s"commit-crossover factors must be increasing, got $factors")
    val cold = sys.env.get("SPARK_GRAFT_XOVER_COLD").contains("1")
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val corpus = emb.filter(col("vec_id") >= 200)
    Pins { p =>
      val batch = p.checkpoint(corpus.orderBy(col("vec_id")).limit(200)
        .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding")))
      val idx = s"$stateRoot/graft_xover_idx"
      val fs = new org.apache.hadoop.fs.Path(stateRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      try {
        Similarity.writeSketchIndex(corpus, idx, 64)
        val basePairs = 100000L
        val rows = factors.map { g =>
          val st = s"$stateRoot/graft_xover_st$g"
          buildSynthState(spark, basePairs * g, st)
          def trigger(gate: Long): Unit =
            graft.streaming.Pipelines.applyDupClusterBatch(
              batch, idx, st, 0.9, 64, 32, 4, 16, partialMinPairs = gate)
          def timeTrig(gate: Long): Double = {
            trigger(gate) // warm: pairs enter; upgrade (partial) after
            (1 to runs).map { _ =>
              if (cold) dropCaches()
              val t0 = System.nanoTime(); trigger(gate)
              (System.nanoTime() - t0) / 1e9
            }.min
          }
          val tWhole = timeTrig(Long.MaxValue)
          val tPartial = timeTrig(0L)
          System.err.println(
            f"[probe] commit-crossover ${basePairs * g}%9d pairs  " +
              f"whole $tWhole%7.2f s  partial $tPartial%7.2f s" +
              (if (cold) "  (cold IO)" else ""))
          (basePairs * g, tWhole, tPartial)
        }
        val rec = crossoverRecommendation(rows)
        rec match {
          case Some(p) => System.err.println(
            s"[probe] recommended partialMinPairs = $p for state at " +
              s"$stateRoot (pass to dupClusterSink)")
          case None => System.err.println(
            s"[probe] the partial route never won up to " +
              s"${rows.last._1} pairs on $stateRoot — keep the " +
              "whole-write default; extend SPARK_GRAFT_GROW_FACTORS " +
              "if the deployment expects bigger states")
        }
        val rowsJson = rows.map { case (p, w, q) =>
          f"""{"pairs":$p,"whole":$w%.3f,"partial":$q%.3f}"""
        }.mkString("[", ",", "]")
        println(s"""{"metric":"scaleprobe","tier":"commit_crossover",""" +
          s""""runs":$runs,"cold":$cold,"stateRoot":${JsonStr(stateRoot)},"rows":$rowsJson,""" +
          s""""recommendedPartialMinPairs":${rec.map(_.toString).getOrElse("null")}}""")
      } finally {
        // synthetic probe dirs only — everything this tier created
        (Seq(idx) ++ factors.map(g => s"$stateRoot/graft_xover_st$g"))
          .foreach { d =>
            val dir = new org.apache.hadoop.fs.Path(d)
            if (fs.exists(dir)) fs.delete(dir, true)
          }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val modes = Set("--health", "--commit-crossover")
    MainFlags.requireKnown(args, modes)
    val mode = args.filter(modes.contains).distinct
    require(mode.length == 1,
      s"pass exactly one mode flag (known: ${modes.toSeq.sorted.mkString(", ")})")
    val pos = MainFlags.positional(args)
    if (mode.head == "--health")
      // an omitted root must not silently poll a default: the table
      // describes THAT deployment's indexes
      require(pos.nonEmpty,
        "--health needs an explicit index root (positional arg 1): " +
          "pass the directory whose children are the committed index paths")
    else
      // the crossover is a property of the stateRoot's IO, so a
      // default path would hand back local-disk numbers labeled as
      // the deployment's run
      require(pos.length == 2,
        "--commit-crossover needs <sfDir> <stateRoot>: the crossover is " +
          "a property of that path's IO — pass the deployment's real " +
          "storage mount, not a default")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.probeSession("graft-scaleprobe", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftFunctions.register(spark)
    try {
      if (mode.head == "--health") healthMain(spark, pos.head)
      else commitCrossoverTier(spark, pos(0), pos(1),
        parseGrowFactors(Seq(50, 100, 150)),
        sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "2").toInt)
    } finally spark.stop()
  }
}
