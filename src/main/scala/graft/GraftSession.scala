package graft

import org.apache.spark.sql.SparkSession

import graft.plans.{GraftExtensions, GraftFunctions}

/** Session factory with the engine's recommended configuration:
  * AQE (runtime re-plan + skew-join splitting), UTC, right-sized
  * shuffle parallelism, the [[requiredConfs]] (parquet encoding and
  * pushdown, the fork-free local file system), Graft optimizer rules
  * and native functions.
  *
  * On a cluster, shuffle partitions scale with executors (2–3× total
  * cores is the usual starting point); AQE coalesces small partitions
  * at runtime either way.
  */
object GraftSession {

  /** The confs every graft session MUST carry, as one shared
    * definition — each fails SILENTLY when dropped, so they are not
    * allowed to exist as per-main copy-paste stanzas:
    *  - INT64-micros timestamps: Spark's default INT96 encoding has
    *    NO usable row-group min/max, so a pushed time-range predicate
    *    prunes nothing (measured r14: a minute-sorted table scanned
    *    100% under INT96, 1.1% as INT64 micros). Writers only;
    *    readers are unaffected.
    *  - IN-pushdown threshold EQUAL to the operator cap
    *    (Dedup.MaxShinglePushdownIds, the largest Or(Eq…) depth deemed
    *    executor-stack-safe; ParquetFilters pushes the literal chain
    *    when values.length <= threshold, so equality still pushes the
    *    cap-sized probe set): past the threshold Spark degrades a
    *    pushed IN to a min/max RANGE filter, which prunes nothing over
    *    hash-distributed keys — the candidate-id probes of index
    *    members (Dedup.prunedOldShingles) need the literal set to
    *    reach parquet's row-group dictionaries/stats (SCALE.md,
    *    "What actually skips bytes under the pushed IN"). Derived, not hand-synced: a wider threshold would let
    *    OTHER isin/IN sites push predicate trees deeper than the cap
    *    was sized for.
    *  - the fork-free `file:` file system ([[graft.io.ForkFreeLocalFileSystem]]
    *    for `FileSystem`, [[graft.io.ForkFreeLocalFs]] for `FileContext`):
    *    without it every local file a job or a streaming trigger
    *    writes costs the JVM a `chmod` (and a checkpoint rename a
    *    `readlink`) child process (SCALE.md, "Local file system:
    *    processes per trigger"). Hadoop caches one `file:` instance
    *    per JVM, so the keys must be set before the first session.
    * Every session builder, the test suite's included, routes through this. */
  def requiredConfs(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.parquet.pushdown.inFilterThreshold",
        graft.operators.Dedup.MaxShinglePushdownIds.toString)
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.ForkFreeLocalFs].getName)

  /** The measurement/driver-main session: every probe and bench main
    * builds exactly this shape (AQE on, UTC, right-sized shuffle
    * parallelism, ns-epoch events readable, no UI, the silent-failure
    * required confs) — one definition instead of hand-synced session
    * stanzas. Kept separate from
    * [[create]]: the product session registers optimizer extensions
    * and native functions; measurement mains opt into functions
    * explicitly so a probe can also measure WITHOUT them. */
  def probeSession(appName: String, cpus: String): SparkSession =
    requiredConfs(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()

  def create(
      appName: String = "graft",
      master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = requiredConfs(SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // ns-timestamp parquet (events table) reads as raw int64; the
      // flag lives here, not inside a table loader, so no read path
      // mutates session state as a side effect.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true"))
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    GraftFunctions.register(spark)
    spark
  }
}
