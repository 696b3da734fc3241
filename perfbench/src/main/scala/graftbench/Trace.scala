package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `call` is the id of the benchmark call (query,
  * request or sink batch) the span belongs to; 0 is the workload root. */
final case class Span(id: Long, parent: Long, call: Long, kind: String,
    name: String, startMs: Double, endMs: Double)

/** Spark counters summed over a set of tasks. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var inputBytes = 0L; var inputRecords = 0L; var peakMem = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    peakMem = math.max(peakMem, o.peakMem)
  }
}

/** The traced run's recorder. With `enabled = false` it only times
  * calls and registers nothing with Spark, so untraced runs measure the
  * engine alone. Enabled, it sets a job group before each call and
  * registers Spark's public SparkListener, QueryExecutionListener and
  * StreamingQueryListener; spans nest workload → call → SQL action →
  * job → stage and are held in memory until [[allSpans]] reads them. */
final class Trace(val enabled: Boolean) {
  private val t0 = System.currentTimeMillis()
  private var nextId = 1L
  private val calls = mutable.ArrayBuffer.empty[Span]
  // streaming: runId -> sink name, and the progress of every batch
  private val runIds = mutable.Map.empty[String, String]
  private val progress =
    mutable.Map.empty[String, mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]]

  import Trace.{JobRec, SqlRec, StageRec}
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, StageRec]
  private val sqls = mutable.Map.empty[Long, SqlRec]

  def now(): Double = System.nanoTime() / 1e6

  /** Seconds spent inside this trace's listener callbacks. */
  @volatile private var busyNs = 0L
  def busyS: Double = busyNs / 1e9
  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    Trace.this.synchronized { body; busyNs += System.nanoTime() - t }
  }

  /** Run `body` as one benchmark call; returns its result, wall ms and
    * call id. */
  def call[T](spark: SparkSession, kind: String, name: String)(body: => T): (T, Double, Long) = {
    val id = synchronized { nextId += 1; nextId }
    val sc = spark.sparkContext
    if (enabled) sc.setJobGroup(s"gb-$id", name, interruptOnCancel = false)
    val startWall = System.currentTimeMillis().toDouble
    val s = now()
    try {
      val r = body
      (r, now() - s, id)
    } finally {
      val dur = now() - s
      if (enabled) {
        sc.clearJobGroup()
        synchronized { calls += Span(id, 0L, id, kind, name, startWall, startWall + dur) }
      }
    }
  }

  def watch(runId: String, sink: String): Unit = synchronized { runIds(runId) = sink }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    // Listener buses are asynchronous: give queued events time to land.
    Thread.sleep(1500)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = Option(e.properties)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
      val desc = p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse("")
      val batch = "batch = (\\d+)".r.findFirstMatchIn(desc).map(_.group(1))
      val key = batch.fold(group)(b => s"$group#$b")
      jobs(e.jobId) = JobRec(e.jobId, key, e.time)
      e.stageInfos.foreach { si =>
        stageJob.getOrElseUpdate(si.stageId, e.jobId)
        stages.getOrElseUpdate(si.stageId, StageRec(si.stageId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, StageRec(e.stageInfo.stageId))
      s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, StageRec(e.stageInfo.stageId))
      s.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      s.agg.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val s = stages.getOrElseUpdate(e.stageId, StageRec(e.stageId))
      val a = s.agg
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, durationNs: Long): Unit = timed {
      val ph = qe.tracker.phases
      val planning = ph.values.map(_.durationMs).sum
      val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
      sqls(qe.id) = SqlRec(qe.id, start, planning, durationNs / 1000000L)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0L)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed {
        progress.getOrElseUpdate(e.progress.runId.toString, mutable.ArrayBuffer.empty) += e
      }
  }

  // ---- summaries, computed once the run is over ----

  /** Job and task counters per call group: the job group id, or
    * `<runId>#<batch>` for a streaming batch. */
  def byGroup: Map[String, Counters] = synchronized {
    val c = mutable.Map.empty[String, Counters]
    jobs.values.foreach { j => c.getOrElseUpdate(j.group, new Counters).jobs += 1 }
    stages.values.foreach { s =>
      stageJob.get(s.id).flatMap(jobs.get).foreach(j => c.getOrElseUpdate(j.group, new Counters).add(s.agg))
    }
    c.toMap
  }

  /** Summed planning ms over all SQL actions, and their number. */
  def planning: (Long, Int) = synchronized((sqls.values.map(_.planningMs).sum, sqls.size))

  def groupOf(callId: Long): String = s"gb-$callId"

  /** Every span: calls, SQL actions, jobs and stages, parent-linked. */
  def allSpans: Seq[Span] = synchronized {
    val out = mutable.ArrayBuffer.empty[Span]
    out += Span(0L, -1L, 0L, "workload", "workload", t0.toDouble, System.currentTimeMillis().toDouble)
    out ++= calls
    val groupSpan = mutable.Map.empty[String, Long]
    calls.foreach(s => groupSpan(groupOf(s.id)) = s.id)
    // streaming batches become call spans too, keyed by runId#batch
    var id = 1000000000L
    progress.foreach { case (runId, evs) =>
      evs.foreach { e =>
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val dur = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
        id += 1
        groupSpan(s"$runId#${p.batchId}") = id
        out += Span(id, 0L, id, "sink_batch", runIds.getOrElse(runId, runId) + "#" + p.batchId,
          start, start + dur)
      }
    }
    // A SQL action carries no job group: it belongs to the call most of
    // whose jobs were submitted inside its interval. A job belongs to the
    // latest-starting SQL action of its call that covers its submission.
    val sqlSpans = sqls.values.toSeq.map { q =>
      val end = q.startMs + q.planningMs + q.execMs
      val call = jobs.values.filter(j => j.submitMs >= q.startMs && j.submitMs <= end)
        .flatMap(j => groupSpan.get(j.group)).groupBy(identity)
        .maxByOption(_._2.size).map(_._1).getOrElse(0L)
      id += 1
      Span(id, call, call, "sql", s"sql-${q.id}", q.startMs.toDouble, end.toDouble)
    }
    out ++= sqlSpans
    val jobSpan = mutable.Map.empty[Int, Long]
    jobs.values.foreach { j =>
      val call = groupSpan.getOrElse(j.group, 0L)
      val parent = sqlSpans.filter(q => q.call == call && q.startMs <= j.submitMs && j.submitMs <= q.endMs)
        .maxByOption(_.startMs).map(_.id).getOrElse(call)
      id += 1; jobSpan(j.id) = id
      out += Span(id, parent, call, "job", s"job-${j.id}", j.submitMs.toDouble,
        math.max(j.endMs, j.submitMs).toDouble)
    }
    stages.values.filter(_.submitMs >= 0).foreach { s =>
      val j = stageJob.get(s.id)
      val parent = j.flatMap(jobSpan.get).getOrElse(0L)
      val call = j.flatMap(jobs.get).flatMap(x => groupSpan.get(x.group)).getOrElse(0L)
      id += 1
      out += Span(id, parent, call, "stage", s"stage-${s.id}", s.submitMs.toDouble,
        math.max(s.endMs, s.submitMs).toDouble)
    }
    out.toList
  }
}

object Trace {
  private final case class JobRec(id: Int, group: String, submitMs: Long, var endMs: Long = -1L)
  private final case class StageRec(id: Int, var submitMs: Long = -1L,
      var endMs: Long = -1L, agg: Counters = new Counters)
  private final case class SqlRec(id: Long, startMs: Long, planningMs: Long, execMs: Long)

  /** Self time per span kind: each span's duration minus the part of
    * its interval that its children cover. */
  def selfTimeByKind(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val iv = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0; var curA = Double.NaN; var curB = Double.NaN
        iv.foreach { case (a, b) =>
          if (curA.isNaN || a > curB) {
            if (!curA.isNaN) covered += curB - curA
            curA = a; curB = b
          } else curB = math.max(curB, b)
        }
        if (!curA.isNaN) covered += curB - curA
        math.max(0.0, (s.endMs - s.startMs) - covered)
      }.sum / 1000.0
    }
  }
}
