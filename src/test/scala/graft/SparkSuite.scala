package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per JVM (lazy, UTC, small shuffle
  * partitioning to match the test scale) — with a SELF-HEALING
  * accessor (r22, VERDICT item 1).
  *
  * The r21 driver run failed mid-suite with a
  * `RejectedExecutionException: Task ... rejected from
  * ThreadPoolExecutor [Terminated ...]`: the local executor pool was
  * shut down while the DAGScheduler was still submitting tasks. No
  * test stops the shared session — the only in-JVM path that stops a
  * SparkContext mid-run is Spark's own fatal-error handling
  * (`DAGSchedulerEventProcessLoop.onError` → `sc.stopInNewThread()`
  * after a fatal error in the scheduler event loop, e.g. an OOM under
  * a memory/CPU-constrained environment). With a plain `lazy val`,
  * one such death poisons every subsequent suite in the JVM: they all
  * keep using the stopped context and fail in cascade.
  *
  * Two defenses:
  *  - the accessor re-checks `sparkContext.isStopped` per call and
  *    builds a FRESH session when the shared one has died. Recovery
  *    is per suite, not per test: each suite caches the session in
  *    its `lazy val spark` at first use, so a context death poisons
  *    the rest of the suite instance that is running; only suites
  *    that start later resolve the fresh session;
  *  - `spark.cleaner.periodicGC.interval=2min` (default 30min —
  *    longer than the whole test run): 522 tests through one session
  *    accumulate unreferenced localCheckpoint/cache blocks that the
  *    ContextCleaner only releases after a JVM GC notices the dead
  *    references; the shorter interval bounds that accumulation,
  *    removing the memory-pressure ramp that makes a late-run fatal
  *    error likely in constrained environments.
  */
trait SparkSuite extends AnyFunSuite {
  // lazy val, not def: suites `import spark.implicits._`, which needs
  // a stable identifier. Each suite instance resolves the shared
  // session through the self-healing factory at its own first use, so
  // a context death in an earlier suite never leaks into this one —
  // but one during this suite stays with it until it ends.
  lazy val spark: SparkSession = SparkSuite.session()

  lazy val sf0001 = "/root/testdata/sf0.001"

  def init(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftFunctions.register(spark)
  }
}

object SparkSuite {
  // through the product's required confs, so tests run on the
  // parquet settings and the local file system every session carries
  private def build(): SparkSession = GraftSession.requiredConfs(SparkSession.builder()
    .master("local[4]")
    .appName("SparkSuite")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.cleaner.periodicGC.interval", "2min")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  @volatile private var cached: SparkSession = _

  private[graft] def session(): SparkSession = {
    val c = cached
    if (c != null && !c.sparkContext.isStopped) c
    else synchronized {
      if (cached == null || cached.sparkContext.isStopped) {
        if (cached != null)
          System.err.println(
            "[SparkSuite] shared SparkContext found STOPPED mid-run — " +
              "building a fresh session (see SparkSuite scaladoc)")
        cached = build()
      }
      cached
    }
  }
}
