package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every SparkEntry query timed at the given
  * scale factor; one JSON line on stdout, full JSON (incl. the
  * per-run matrix) to SPARK_GRAFT_BENCH_OUT (default
  * /root/repo/BENCH_FULL.json) — the stdout record gets tail-truncated
  * by the driver, the file never loses q01–q40.
  *
  * Noise control: the WHOLE suite runs SPARK_GRAFT_BENCH_RUNS times
  * (default 3) and each query reports its per-run MEDIAN. Repeating at
  * suite level (not per-query back-to-back) de-correlates shared-host
  * noise waves that travel through the alphabetical execution order —
  * three consecutive timings of one query would all sit inside the
  * same wave.
  *
  * Warm-up: each table's footer/schema is touched once before timing
  * so the first measured query doesn't absorb JVM + parquet-metadata
  * startup cost; queries themselves are timed cold (no caching of
  * inputs between queries).
  */
object Bench {

  /** The LAST stdout line, compact enough (~220 chars) to survive the
    * driver's 2000-char tail capture: the full-contract record above it
    * carries the complete per-query map but at 160 queries (~6 KB) its
    * head gets truncated out of the tail, so the driver has read
    * `parsed: null` since the map outgrew the window (r10–r21). This
    * line repeats every suite-level field (total/runs/run_totals/
    * errors/sf) and points at the per-query file instead of inlining
    * the map. Pure so BenchSpec can pin its size and shape. */
  private[graft] def compactRecord(total: Double, nRuns: Int,
      runTotals: Seq[Double], errors: Seq[String], sfDir: String,
      queriesFile: String, nQueries: Int): String = {
    def r(v: Double) = math.rint(v * 1000) / 1000
    s"""{"metric":"total","value":${r(total)},"unit":"sec","runs":$nRuns,""" +
      s""""run_totals":${runTotals.map(r).mkString("[", ",", "]")},""" +
      s""""errors":${errors.map(JsonStr(_)).mkString("[", ",", "]")},""" +
      s""""n_queries":$nQueries,"queries_file":${JsonStr(queriesFile)},""" +
      s""""sf":${JsonStr(sfDir)}}"""
  }

  /** Per-query median over the suite runs, averaging the middle pair
    * on even counts. */
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Table footer/schema + noop-sink warm-up before any timing. */
  private def warmTables(spark: SparkSession, sfDir: String): Unit = {
    graft.sources.Tables.names.foreach { n =>
      try {
        val df = if (n == "events") graft.sources.Tables.events(spark, sfDir)
        else graft.sources.Tables.load(spark, sfDir, n)
        df.count()
      } catch { case _: Throwable => () }
    }
    spark.range(1).write.format("noop").mode("overwrite").save()
  }

  def main(args: Array[String]): Unit = {
    MainFlags.requireKnown(args, Set.empty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.probeSession("graft-bench", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftFunctions.register(spark)
    // Touch each table once (parquet footer + JVM warm-up) before
    // timing, plus the noop sink, so the alphabetically-first query
    // doesn't absorb one-time initialization. Measured: fully caching
    // the tables (cache().count()) is NOT faster here — the local
    // NVMe parquet scans beat InMemoryRelation's extra copy at this
    // scale.
    warmTables(spark, sfDir)

    // Timing materializes EVERY output column through the noop sink:
    // a .count() lets Catalyst prune computed columns, so projection-
    // only queries (fingerprints, token stats) would be timed as bare
    // scans. A failed query is reported as -1 plus an entry in
    // "errors" — never as a normal-looking timing.
    val errors = scala.collection.mutable.LinkedHashSet[String]()
    // Optional dev filter: SPARK_GRAFT_ONLY=q60,q85 times just those
    // queries (prefix match). The driver never sets it — full suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.startsWith))
    }
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val runs: Seq[Seq[(String, Double)]] = (1 to nRuns).map { _ =>
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case _: Throwable => errors += name; false }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
    }
    val medians = selected.map(_._1).zipWithIndex.map { case (name, i) =>
      name -> median(runs.flatMap(r => Some(r(i)._2).filter(_ >= 0)))
    }
    def qjson(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => JsonStr(k) + ":" + v }.mkString("{", ",", "}")
    val errs = errors.map(JsonStr(_)).mkString("[", ",", "]")
    val total = medians.map(_._2).filter(_ >= 0).sum
    val runTotals = runs.map(_.map(_._2).filter(_ >= 0).sum)
      .mkString("[", ",", "]")
    // one record template for both sinks, differing only in the value
    // formatter — keeps the file and stdout records from diverging
    def mkHead(fmt: Double => Double): String =
      s""""metric":"total","value":${fmt(total)},"unit":"sec","runs":$nRuns,""" +
        s""""run_totals":$runTotals,"queries":${qjson(medians.map { case (k, v) => k -> fmt(v) })},""" +
        s""""errors":$errs,"sf":${JsonStr(sfDir)}"""
    // Full record (per-run matrix) to a file the driver can't truncate.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_FULL.json")
    val detail = runs.map(qjson).mkString("[", ",", "]")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      s"""{${mkHead(identity)},"runs_detail":$detail}""")
    catch { case e: Throwable => System.err.println(s"[bench] write $outPath failed: $e") }
    // stdout line rounded to ms: the driver tail-captures output, and a
    // full-precision 141-entry map has been observed to truncate
    // mid-line there ("parsed": null) — full precision lives in the file
    println(s"{${mkHead(v => math.rint(v * 1000) / 1000)}}")
    // LAST line: the compact summary (~220 chars, no per-query map).
    // Even ms-rounded, the 160-entry line above is ~6 KB and the
    // driver's 2000-char tail capture decapitates it — 12 straight
    // rounds of PERF "parsed": null. The tail still ends with a
    // complete, parseable record this way; per-query data stays in the
    // full line above and in SPARK_GRAFT_BENCH_OUT.
    println(compactRecord(total, nRuns,
      runs.map(_.map(_._2).filter(_ >= 0).sum), errors.toSeq, sfDir,
      outPath, selected.size))
    spark.stop()
  }
}
