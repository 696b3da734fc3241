package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.model.Cdc
import graft.streaming.Pipelines

/** Idempotent mirror sink (FIXTURES A8.4): replaying the same batch
  * must not change state; deletes are soft. */
class SyncMirrorSpec extends SparkSuite {
  init()
  import spark.implicits._

  private def parse(rows: Seq[String]) = Cdc.parse(rows.toDF("value"), col("value"))

  private def state(path: String): Map[Long, (Double, Boolean)] =
    spark.read.parquet(path).collect()
      .map(r => r.getAs[Long]("id") ->
        (Option(r.getAs[java.lang.Double]("value")).map(_.toDouble).getOrElse(-1.0),
          r.getAs[Boolean]("is_deleted"))).toMap

  test("upsert, replay idempotency, then soft delete") {
    val dir = Files.createTempDirectory("mirror").toString + "/m"
    val batch1 = parse(Seq(
      """{"op":"c","after":{"id":1,"value":1.0},"source":{"table":"articles"},"ts_ms":1000}""",
      """{"op":"c","after":{"id":2,"value":2.0},"source":{"table":"articles"},"ts_ms":1000}"""))
    Pipelines.applyCdcBatch(spark, batch1, dir)
    assert(state(dir) == Map(1L -> (1.0, false), 2L -> (2.0, false)))

    // at-least-once replay of the exact same batch → unchanged
    Pipelines.applyCdcBatch(spark, batch1, dir)
    assert(state(dir) == Map(1L -> (1.0, false), 2L -> (2.0, false)))

    // update id=1, delete id=2 (soft)
    val batch2 = parse(Seq(
      """{"op":"u","after":{"id":1,"value":9.0},"source":{"table":"articles"},"ts_ms":2000}""",
      """{"op":"d","before":{"id":2,"value":2.0},"source":{"table":"articles"},"ts_ms":2000}"""))
    Pipelines.applyCdcBatch(spark, batch2, dir)
    val s = state(dir)
    assert(s(1L) == (9.0, false))
    assert(s(2L)._2, "delete must be soft: row retained with is_deleted=true")
    assert(s.size == 2)
  }

  test("streaming mirror sink end-to-end (writeStream + foreachBatch + checkpoint)") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("sink").toString
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String](
        42, spark, None)
    val parsed = Cdc.parse(stream.toDF().toDF("value"), col("value"))
    val q = Pipelines.cdcMirrorSink(spark, parsed, s"$base/mirror", s"$base/ckpt",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    stream.addData(
      """{"op":"c","after":{"id":1,"value":1.0},"source":{"table":"articles"},"ts_ms":1000}""")
    q.processAllAvailable()
    assert(state(s"$base/mirror") == Map(1L -> (1.0, false)))
    stream.addData(
      """{"op":"u","after":{"id":1,"value":4.0},"source":{"table":"articles"},"ts_ms":2000}""",
      """{"op":"c","after":{"id":3,"value":3.0},"source":{"table":"articles"},"ts_ms":2000}""")
    q.processAllAvailable()
    assert(state(s"$base/mirror") == Map(1L -> (4.0, false), 3L -> (3.0, false)))
    q.stop()
  }

  test("checkpoint restart: file-source stream resumes exactly-once") {
    val base = Files.createTempDirectory("restart").toString
    val in = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    def writeFile(name: String, lines: String*): Unit =
      Files.write(java.nio.file.Paths.get(s"$in/$name"),
        lines.mkString("\n").getBytes("UTF-8"))

    def startQuery() = {
      val src = spark.readStream
        .schema("value STRING").format("text")
        .option("maxFilesPerTrigger", "1")
        .load(in)
      Pipelines.cdcMirrorSink(spark, Cdc.parse(src, col("value")),
        s"$base/mirror", s"$base/ckpt",
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    }

    writeFile("f1.json",
      """{"op":"c","after":{"id":1,"value":1.0},"source":{"table":"articles"},"ts_ms":1000}""",
      """{"op":"c","after":{"id":2,"value":2.0},"source":{"table":"articles"},"ts_ms":1000}""")
    val q1 = startQuery()
    q1.processAllAvailable()
    assert(state(s"$base/mirror") == Map(1L -> (1.0, false), 2L -> (2.0, false)))
    q1.stop()

    // restart from the same checkpoint; old files must NOT re-apply
    // destructively, new file applies once
    writeFile("f2.json",
      """{"op":"u","after":{"id":2,"value":9.0},"source":{"table":"articles"},"ts_ms":2000}""")
    val q2 = startQuery()
    q2.processAllAvailable()
    assert(state(s"$base/mirror") == Map(1L -> (1.0, false), 2L -> (9.0, false)))
    q2.stop()
  }

  private def bucketOf(id: Long): Int =
    spark.range(1).select(
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(
          org.apache.spark.sql.functions.lit("articles"),
          org.apache.spark.sql.functions.lit(id)),
        org.apache.spark.sql.functions.lit(Pipelines.MirrorBuckets))).head.getInt(0)

  test("micro-batch touching one key rewrites only that key's bucket partition") {
    val dir = Files.createTempDirectory("mirror3").toString + "/m"
    val seed = parse((1L to 40L).map(i =>
      s"""{"op":"c","after":{"id":$i,"value":$i.0},"source":{"table":"articles"},"ts_ms":1000}"""))
    Pipelines.applyCdcBatch(spark, seed, dir)

    def files(): Map[String, Long] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(_.getName.startsWith("bucket="))
        .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> f.lastModified())).toMap
    }
    val before = files()
    assert(before.keys.map(_.split("/").init.last).toSet.size > 1,
      "seed must span multiple bucket partitions for the test to mean anything")

    Pipelines.applyCdcBatch(spark, parse(Seq(
      """{"op":"u","after":{"id":1,"value":99.0},"source":{"table":"articles"},"ts_ms":2000}""")),
      dir)
    val after = files()
    val touched = s"bucket=${bucketOf(1L)}"
    val untouched = before.filter(!_._1.contains(s"/$touched/"))
    assert(untouched.nonEmpty)
    untouched.foreach { case (path, mtime) =>
      assert(after.get(path).contains(mtime),
        s"untouched partition file was rewritten: $path")
    }
    val s = state(dir)
    assert(s(1L) == (99.0, false) && s.size == 40)
  }

  test("bucket count is a per-mirror layout parameter (sizing rule: mirror/rewrite-unit)") {
    val dir = Files.createTempDirectory("mirror8").toString + "/m"
    val seed = parse((1L to 40L).map(i =>
      s"""{"op":"c","after":{"id":$i,"value":$i.0},"source":{"table":"articles"},"ts_ms":1000}"""))
    Pipelines.applyCdcBatch(spark, seed, dir, nBuckets = 8)
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName).toSet
    assert(dirs.nonEmpty && dirs.forall(_.stripPrefix("bucket=").toInt < 8),
      s"bucket values must land in [0, 8): $dirs")
    // merges against the same mirror must keep using ITS bucket count
    Pipelines.applyCdcBatch(spark, parse(Seq(
      """{"op":"u","after":{"id":7,"value":70.0},"source":{"table":"articles"},"ts_ms":2000}""")),
      dir, nBuckets = 8)
    val s = state(dir)
    assert(s(7L) == (70.0, false) && s.size == 40)
  }

  test("crash mid-swap recovers from .bak when the batch replays") {
    val dir = Files.createTempDirectory("mirror4").toString + "/m"
    val batch1 = parse(Seq(
      """{"op":"c","after":{"id":7,"value":7.0},"source":{"table":"articles"},"ts_ms":1000}"""))
    Pipelines.applyCdcBatch(spark, batch1, dir)
    // simulate a crash between "live → .bak" and "staging → live":
    // the live bucket dir has been moved aside and never replaced.
    val b = s"bucket=${bucketOf(7L)}"
    val bak = java.nio.file.Paths.get(dir, ".bak")
    Files.createDirectories(bak)
    Files.move(java.nio.file.Paths.get(dir, b), bak.resolve(b))
    // checkpointed source replays the interrupted batch → state restored
    Pipelines.applyCdcBatch(spark, batch1, dir)
    assert(state(dir) == Map(7L -> (7.0, false)))
    assert(!Files.exists(bak), ".bak must be cleaned up after recovery")
  }

  test("same id in different tables stays distinct (merge keys on table+id)") {
    val dir = Files.createTempDirectory("mirror5").toString + "/m"
    Pipelines.applyCdcBatch(spark, parse(Seq(
      """{"op":"c","after":{"id":1,"value":1.0},"source":{"table":"articles"},"ts_ms":1000}""",
      """{"op":"c","after":{"id":1,"value":9.0},"source":{"table":"media"},"ts_ms":1000}""")), dir)
    // update only the media row; the articles row must survive untouched
    Pipelines.applyCdcBatch(spark, parse(Seq(
      """{"op":"u","after":{"id":1,"value":5.0},"source":{"table":"media"},"ts_ms":2000}""")), dir)
    val rows = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("table") -> r.getAs[Double]("value")).toMap
    assert(rows == Map("articles" -> 1.0, "media" -> 5.0))
  }

  test("reference policy: articles soft-delete, media hard-delete, " +
      "article_changes skip-delete, unknown table skipped") {
    val dir = Files.createTempDirectory("mirror6").toString + "/m"
    def apply(rows: Seq[String]): Unit =
      Pipelines.applyCdcBatch(spark, parse(rows), dir,
        Pipelines.MirrorBuckets, Pipelines.ReferenceTablePolicy,
        Pipelines.TablePolicy.SkipTable)
    apply(Seq(
      """{"op":"c","after":{"id":1,"value":1.0},"source":{"table":"articles"},"ts_ms":1000}""",
      """{"op":"c","after":{"id":2,"value":2.0},"source":{"table":"media"},"ts_ms":1000}""",
      """{"op":"c","after":{"id":3,"value":3.0},"source":{"table":"article_changes"},"ts_ms":1000}""",
      """{"op":"c","after":{"id":4,"value":4.0},"source":{"table":"nope"},"ts_ms":1000}"""))
    def rows(): Map[(String, Long), Boolean] =
      spark.read.parquet(dir).collect()
        .map(r => (r.getAs[String]("table"), r.getAs[Long]("id")) ->
          r.getAs[Boolean]("is_deleted")).toMap
    assert(rows() == Map(("articles", 1L) -> false, ("media", 2L) -> false,
      ("article_changes", 3L) -> false), "unknown table must never land")

    apply(Seq(
      """{"op":"d","before":{"id":1,"value":1.0},"source":{"table":"articles"},"ts_ms":2000}""",
      """{"op":"d","before":{"id":2,"value":2.0},"source":{"table":"media"},"ts_ms":2000}""",
      """{"op":"d","before":{"id":3,"value":3.0},"source":{"table":"article_changes"},"ts_ms":2000}""",
      """{"op":"d","before":{"id":4,"value":4.0},"source":{"table":"nope"},"ts_ms":2000}"""))
    assert(rows() == Map(("articles", 1L) -> true, ("article_changes", 3L) -> false),
      "articles tombstones, media row is physically gone, article_changes delete ignored")

    // a media delete with no prior upsert must not materialize either
    apply(Seq(
      """{"op":"d","before":{"id":9,"value":9.0},"source":{"table":"media"},"ts_ms":3000}"""))
    assert(!rows().contains(("media", 9L)))
  }

  test("staged bucket files are (table, id)-sorted — the clustered serving layout") {
    // r13: the mirror's staged write sorts within buckets by
    // (table, id) so range reads (q145) prune row groups via min/max
    // stats. DISCRIMINATING: ids arrive interleaved across two tables
    // in reverse order and the batch is forced into multiple files —
    // reverting the sortWithinPartitions makes the per-file order
    // assertion fail on the arrival order.
    val dir = Files.createTempDirectory("mirrorsort").toString + "/m"
    val rows = (0 until 24).map { i =>
      val id = 23 - i // reverse arrival
      val tbl = if (i % 2 == 0) "media" else "articles"
      s"""{"op":"c","after":{"id":$id,"value":1.0},"source":{"table":"$tbl"},"ts_ms":1000}"""
    }
    val prevMax = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "4")
    try Pipelines.applyCdcBatch(spark, parse(rows), dir, nBuckets = 2)
    finally prevMax match {
      case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
      case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
    val buckets = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(buckets.nonEmpty)
    var multiFile = false
    buckets.foreach { b =>
      val files = b.listFiles().filter(_.getName.endsWith(".parquet"))
      multiFile ||= files.length > 1
      files.foreach { f =>
        val keys = spark.read.parquet(f.getPath)
          .select(col("table"), col("id")).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(keys == keys.sorted,
          s"bucket file ${f.getName} not (table, id)-sorted: $keys")
      }
    }
    assert(multiFile, "cap must split a bucket into multiple sorted files")
  }

  test("out-of-order replay keeps last-writer-wins by ts_ms") {
    val dir = Files.createTempDirectory("mirror2").toString + "/m"
    val newer = parse(Seq(
      """{"op":"u","after":{"id":5,"value":7.0},"source":{"table":"articles"},"ts_ms":5000}"""))
    val older = parse(Seq(
      """{"op":"c","after":{"id":5,"value":1.0},"source":{"table":"articles"},"ts_ms":1000}"""))
    Pipelines.applyCdcBatch(spark, newer, dir)
    Pipelines.applyCdcBatch(spark, older, dir) // late arrival must not win
    assert(state(dir)(5L) == (7.0, false))
  }
}
