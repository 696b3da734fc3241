package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * At cluster scale these would be catalog tables (partitioned by date,
  * bucketed by join key); here they are plain parquet reads. Column
  * pruning and predicate pushdown still apply — callers select/filter
  * and Catalyst pushes into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Scale-adaptive fan-out for kernel-heavy consumers (r21, guide
    * §2.5 "input skew: one huge unsplittable file"): the driver's
    * testdata tables are single-row-group parquet files, so a scan is
    * ONE split and a per-row kernel evaluated in the scan stage runs
    * on one core of the machine (measured: q95's exact-graph kernel
    * stage, 3.1 s single-task at sf0.1 on local[32]). When `df` has
    * fewer partitions than the session's parallelism, one round-robin
    * repartition spreads the rows; at production scale (row groups ≫
    * cores) the branch is a no-op — it keys on the actual partition
    * count, never a local constant. Applied by SPECIFIC kernel-bound
    * operators, not the shared loader: a blanket bottom exchange
    * regressed cache-sharing multi-consumer plans under AQE (q38
    * 3.2 → 8.4 s — measured and reverted, see OPTIMIZATION_r21.md).
    *
    * BATCH-ONLY (r22, advisor): the probe reads `df.rdd`, which throws
    * on streaming DataFrames — streaming operators must not route
    * their source through this helper (none do; micro-batch internals
    * inherit the batch plans per trigger).
    *
    * Probe cost (r22, VERDICT item 7): `df.rdd.getNumPartitions`
    * forces a full physical-planning pass per call, paid on EVERY
    * wrapped query even where the branch is a no-op. Two fixes:
    *  - leaf-file gate: when the logical plan's input-file inventory
    *    already counts ≥ parallelism files, the scan cannot be the
    *    single-split case this helper exists for (with the default
    *    `spark.sql.files.minPartitionNum = defaultParallelism`, ≥ p
    *    nonempty files pack into ≥ ~p splits) — return `df` with NO
    *    physical planning at all. This is the production-scale path
    *    (files ≫ cores), so at scale the helper is now metadata-only.
    *  - probe memo: below the gate (few files — the local/testdata
    *    case), the planned partition count is cached per (context,
    *    parallelism, canonicalized-plan hash, input-file count), so
    *    the many queries wrapping the same loader subtree in one
    *    session (a bench sweep, the composition chains) plan the probe
    *    once. Only file-backed plans are memoized — an in-memory input
    *    keeps the direct probe, exactly as before (same decision
    *    either way; the memo exists purely to not re-pay physical
    *    planning). The file count is in the key because a file index
    *    compares by root path: a directory whose file set changes
    *    within a session keeps its plan hash and must be probed
    *    again. The memo is an LRU of [[FanOutProbeCacheCap]] entries:
    *    an evicted plan is probed again, with the same answer. The
    *    probe runs outside the map's lock, so concurrent queries never
    *    wait on each other's physical planning. */
  private[graft] val FanOutProbeCacheCap = 128

  private[graft] val fanOutProbeCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(Int, Int, Int, Int), Int](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[(Int, Int, Int, Int), Int]): Boolean =
        size > FanOutProbeCacheCap
    })

  def fanOutForKernels(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val p = sc.defaultParallelism
    val files = df.inputFiles
    if (files.length >= p) df
    else {
      val n =
        if (files.isEmpty) df.rdd.getNumPartitions
        else {
          val key = (System.identityHashCode(sc), p,
            df.queryExecution.analyzed.semanticHash(), files.length)
          val memo = fanOutProbeCache.getOrDefault(key, -1)
          if (memo >= 0) memo
          else { val probed = df.rdd.getNumPartitions; fanOutProbeCache.put(key, probed); probed }
        }
      if (n < p) df.repartition(p) else df
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet's `ts` physical type has varied across driver
    * generations — TIMESTAMP(NANOS) (readable only as int64 via
    * `spark.sql.legacy.parquet.nanosAsLong=true`), then TIMESTAMP(µs)
    * without UTC adjustment (inferred as TIMESTAMP_NTZ). Normalize
    * BY SCHEMA to one downstream contract: session-zoned TimestampType
    * at µs precision. Sessions run with timeZone=UTC (GraftSession /
    * Verify / Bench / test suite), so the NTZ→timestamp cast is
    * wall-clock-preserving and matches the DuckDB oracle's naive read
    * of the same file. The nanos branch floor-divides with integer DIV
    * (a double division would lose precision at ~1.7e18 ns). */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => // legacy nanos file read under nanosAsLong
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        // the cast is wall-clock-preserving ONLY under a UTC session —
        // fail loudly (like the old nanosAsLong path) instead of
        // silently shifting every timestamp vs the oracle's naive read
        require(s.conf.get("spark.sql.session.timeZone", "") == "UTC",
          "events(): TimestampNTZ→Timestamp cast requires spark.sql.session.timeZone=UTC " +
            s"(session has '${s.conf.get("spark.sql.session.timeZone", "<unset>")}')")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => sys.error(s"unsupported events.ts type: $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every table as a temp view so spark.sql(...) mirrors the
    * DuckDB oracle's table names. events goes through its converting
    * accessor (ns → µs timestamps). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
