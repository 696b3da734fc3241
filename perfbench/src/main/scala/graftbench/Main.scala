package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Settings of one run, as passed by run.py. */
final case class Ctx(workload: String, seed: Long, seconds: Int, trace: Boolean,
    runDir: String, dataDir: String, cores: Int) {
  def path(rel: String): String = Paths.get(runDir, rel).toString
}

/** One benchmark operation (a query or a sink). */
final case class Op(kind: String, name: String, ms: Double, ok: Boolean,
    error: String = "") {
  def json: Map[String, Any] =
    Map("kind" -> kind, "name" -> name, "ms" -> ms, "ok" -> ok, "error" -> error)
}

/** One output check (untimed). */
final case class Check(name: String, ok: Boolean, detail: String) {
  def json: Map[String, Any] = Map("name" -> name, "ok" -> ok, "detail" -> detail)
}

/** What a workload hands back to [[Main]]; run.py turns it into metrics. */
final case class Result(
    setupS: Seq[Double],
    throughputPerS: Double,
    ops: Seq[Op],
    checks: Seq[Check],
    layers: Map[String, Double],
    extra: Map[String, Any])

/** Harness entry point: `graftbench.Main --workload <name> --seed <n>
  * --seconds <n> --trace <0|1> --run-dir <dir> --data <dir> --cores <n>`.
  *
  * Writes `<run-dir>/jvm_result.json` (and `spans.json` when traced),
  * prints one line, then waits for stdin to close so the caller can
  * read the process's peak RSS before it exits. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("run-dir"), kv("data"), kv("cores").toInt)
    val res = ctx.workload match {
      case "batch_suite" => BatchSuite.run(ctx)
      case "cdc_stream" => CdcStream.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val rec = Map(
      "workload" -> ctx.workload,
      "traced" -> ctx.trace,
      "setup_s" -> res.setupS,
      "throughput_per_s" -> res.throughputPerS,
      "ops" -> res.ops.map(_.json),
      "checks" -> res.checks.map(_.json),
      "layers" -> res.layers,
      "extra" -> res.extra)
    Files.writeString(Paths.get(ctx.path("jvm_result.json")), Json(rec))
    // scalastyle:off println
    println("graftbench: result written")
    // scalastyle:on println
    System.out.flush()
    while (System.in.read() >= 0) {}
    System.exit(0)
  }

  /** JVM launch time, epoch ms: the first set-up is timed from here. */
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Build the workload's serving state `reps` times and keep the last
    * one; set-up i > 0 first tears down the previous one. Set-up 0 is
    * timed from JVM launch, the others from their own start. */
  def setUp[S](reps: Int)(build: Int => S)(teardown: S => Unit): (S, Seq[Double]) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var s: Option[S] = None
    (0 until reps).foreach { i =>
      s.foreach(teardown)
      val start = if (i == 0) jvmStartMs else System.currentTimeMillis()
      s = Some(build(i))
      times += (System.currentTimeMillis() - start) / 1000.0
    }
    (s.get, times.toList)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def deleteTree(p: java.io.File): Unit = {
    if (p.isDirectory) Option(p.listFiles()).foreach(_.foreach(deleteTree))
    p.delete(); ()
  }

  /** Run independent tasks (Spark actions) side by side on `n` threads. */
  def parallel[T](n: Int)(tasks: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
    finally pool.shutdown()
  }

  /** Rows of `df` as sorted strings, for order-insensitive comparison. */
  def rowSet(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Per-layer metrics every workload reports from its trace: sources,
    * plans and operators, summed over every traced job. `wallS` is the
    * timed phase, `callS` the summed time of its calls. */
  def commonLayers(spark: SparkSession, trace: Trace, wallS: Double, cores: Int,
      callS: Double): Map[String, Double] = {
    val c = new Counters
    trace.byGroup.values.foreach(c.add)
    val (planMs, actions) = trace.planning
    val pinned = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
    Map(
      "sources.input_bytes" -> c.inputBytes.toDouble,
      "sources.input_records" -> c.inputRecords.toDouble,
      "plans.planning_s" -> planMs / 1000.0,
      "plans.planning_share" -> (if (callS > 0) planMs / 1000.0 / callS else 0.0),
      "operators.sql_actions" -> actions.toDouble,
      "operators.jobs" -> c.jobs.toDouble,
      "operators.stages" -> c.stages.toDouble,
      "operators.tasks" -> c.tasks.toDouble,
      "operators.task_run_s" -> c.runMs / 1000.0,
      "operators.task_cpu_s" -> c.cpuNs / 1e9,
      "operators.core_busy_ratio" -> (if (wallS > 0) c.runMs / 1000.0 / (wallS * cores) else 0.0),
      "operators.shuffle_read_bytes" -> c.shuffleRead.toDouble,
      "operators.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
      "operators.spill_bytes" -> c.spill.toDouble,
      "operators.peak_exec_mem_bytes" -> c.peakMem.toDouble,
      "operators.pinned_blocks_end" -> pinned.toDouble)
  }

  /** Write the trace's spans and their per-kind self time. */
  def writeSpans(ctx: Ctx, trace: Trace): Map[String, Double] = {
    val spans = trace.allSpans
    val self = Trace.selfTimeByKind(spans)
    Files.writeString(Paths.get(ctx.path("spans.json")), Json(Map(
      "self_s_by_kind" -> self,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "call" -> s.call, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)))))
    self
  }

  /** Time a batch `Cdc.parse` of JSON envelopes through the noop sink. */
  def parseSeconds(spark: SparkSession, envelopes: DataFrame): Double = {
    import org.apache.spark.sql.functions.col
    val t = System.nanoTime()
    graft.model.Cdc.parse(envelopes, col("value")).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t) / 1e9
  }
}
