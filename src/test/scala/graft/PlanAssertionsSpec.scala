package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Bucketing

/** Physical-plan regression tests: the properties that make these
  * queries scale are asserted, not assumed. */
class PlanAssertionsSpec extends SparkSuite {
  init()

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Full physical-plan traversal: TreeNode.collect stops at
    * AdaptiveSparkPlanExec (AQE wraps the real plan as a member, not a
    * child), so structural assertions must unwrap adaptive nodes
    * explicitly or they pass vacuously. */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.inputPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  private def allNodes(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] =
    allNodes(df.queryExecution.executedPlan)

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf0001)

  test("dimension joins broadcast (no shuffle of the fact table)") {
    val p = plan(q("q08_brand_rollup"))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("top-k plans as TakeOrderedAndProject, not global sort") {
    assert(plan(q("q37_cosine_topk")).contains("TakeOrderedAndProject"))
    assert(plan(q("q23_top_users")).contains("TakeOrderedAndProject"))
  }

  test("predicates push into the parquet scan") {
    val p = q("q12_dynamic_filter").queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters:"))
    assert(p.contains("EqualTo(o_orderstatus,O)"))
    assert(p.contains("StringContains(o_orderpriority,URGENT)"))
  }

  test("column pruning reaches the scan") {
    val p = plan(q("q01_pricing_summary"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && !readSchema.contains("l_shipdate"))
  }

  test("aggregations are partial+final (map-side combine)") {
    val p = plan(q("q14_hourly_counts"))
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("no unpartitioned window over unbounded input in any shipped query") {
    // An empty PARTITION BY drags all rows to one task. That is only
    // acceptable when the window's input is provably bounded — i.e. a
    // limit (TakeOrderedAndProject / GlobalLimit) feeds it, the
    // pattern used by pagination, wordcloud top-50 and rank-delta's
    // candidate over-fetch. Asserted universally: every global window
    // in every shipped query must sit above a limit.
    SparkEntry.queries.keys.foreach { name =>
      val globals = allNodes(SparkEntry.queries(name)(spark, sf0001)).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      globals.foreach { w =>
        val limited = allNodes(w).exists {
          case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
          case _: org.apache.spark.sql.execution.GlobalLimitExec => true
          case _: org.apache.spark.sql.execution.CollectLimitExec => true
          case _ => false
        }
        assert(limited, s"$name has an unpartitioned window over unbounded input:\n$w")
      }
    }
  }

  test("plan census gate: no query's shuffle/SMJ count grows past the committed PLANS.md; udf=0") {
    // PLANS.md is the committed physical-plan census (one line per
    // gated query). This gate re-counts every query's plan with the
    // same regexes graft.Explain uses and fails when a change grows a
    // query's exchange or sort-merge-join count past the committed
    // numbers (+1 slack for AQE/stats jitter), introduces a Scala UDF
    // anywhere, or ships a query the census has never seen — plan
    // regressions must arrive as an explicit PLANS.md diff
    // (regenerate: sbt "runMain graft.Explain").
    val line = """^(q\S+)\s+exchange=\s*(\d+) bcast_join=\s*(\d+) smj=\s*(\d+) window=\s*(\d+) udf=\s*(\d+)$""".r
    val baseline = Files.readAllLines(java.nio.file.Paths.get("PLANS.md"))
      .toArray(Array.empty[String]).collect {
        case line(n, ex, _, smj, _, udf) => n -> ((ex.toInt, smj.toInt, udf.toInt))
      }.toMap
    assert(baseline.size >= 100, s"PLANS.md census parse failed (${baseline.size} rows)")
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val base = baseline.getOrElse(name,
        fail(s"$name missing from PLANS.md — regenerate the census"))
      val p = plan(SparkEntry.queries(name)(spark, sf0001))
      def c(s: String) = s.r.findAllIn(p).size
      assert(c("ScalaUDF") == 0, s"$name plans a Scala UDF")
      assert(c("Exchange") <= base._1 + 1,
        s"$name shuffle count grew: ${c("Exchange")} > census ${base._1} (+1 slack) — " +
          "optimize or regenerate PLANS.md deliberately")
      assert(c("SortMergeJoin") <= base._2 + 1,
        s"$name SMJ count grew: ${c("SortMergeJoin")} > census ${base._2} (+1 slack)")
    }
  }

  test("rank-delta's global rank windows run over pre-limited snapshots") {
    // rankDelta mirrors the reference's candidate over-fetch
    // (realtime_keyword_aggregator.py:166-172): each snapshot is
    // TakeOrderedAndProject-limited to topN BEFORE the single-partition
    // rank window, so the global window never sees an unbounded input.
    val globals = allNodes(q("q22_rank_delta")).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globals.nonEmpty, "expected global rank windows in q22")
    globals.foreach { w =>
      val limited = allNodes(w).collect {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
        case l: org.apache.spark.sql.execution.GlobalLimitExec => l
      }
      assert(limited.nonEmpty, s"global rank window is not fed by a limit:\n$w")
    }
  }

  test("as-of join is join-free: union + keyed window, no join operator") {
    // Joins.asof must never plan a range/equi join (whose candidate
    // volume is per-key |L|x|R|) — the whole point of the union+tag
    // formulation. Windows must be keyed (no global sort).
    val nodes = allNodes(q("q66_asof_join"))
    val joins = nodes.filter {
      case _: org.apache.spark.sql.execution.joins.BaseJoinExec => true
      case _ => false
    }
    assert(joins.isEmpty, s"as-of planned a join: $joins")
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty))
  }

  test("vocab coverage: the membership join broadcasts the vocab side") {
    // buildVocab BOUNDS its output (maxVocab cap), so the OOV join
    // must plan as BroadcastHashJoin — a SortMergeJoin here would
    // shuffle the full token stream of a 100 TB corpus.
    val p = plan(q("q107_vocab_coverage"))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("curation: contamination join broadcasts the benchmark side") {
    // The corpus-side scan must stay shuffle-free: benchmark shingle
    // sets are tiny next to a 100 TB corpus, so a SortMergeJoin here
    // would shuffle the whole corpus shingle stream for nothing.
    val p = plan(q("q70_decontamination"))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("curation: hash sampling/split is a scan-side filter — no shuffle, no UDF") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val sampled = graft.operators.Curation.sampleByHash(docs, col("doc_id"), 20)
    val shuffles = allNodes(sampled).filter {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => true
      case _ => false
    }
    assert(shuffles.isEmpty, "hash sampling must not shuffle")
    // membership is computed by codegen'd expressions, not a UDF stage
    assert(!plan(sampled).contains("BatchEvalPython") && !plan(sampled).contains("ScalaUDF"))
  }

  test("curation: packing and epoch-shuffle windows are keyed (no global sort)") {
    for (name <- Seq("q69_context_packing", "q74_shuffle_shards")) {
      val windows = allNodes(q(name)).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, s"$name should plan window aggregation")
      assert(windows.forall(_.partitionSpec.nonEmpty),
        s"$name has an unpartitioned window")
    }
  }

  test("runtime bloom-filter pruning injects on selective shuffle joins") {
    // The 100 TB fact-dim pattern: a selective dim-side filter turns
    // into a bloom filter probed on the fact side BEFORE the shuffle,
    // so non-joining fact rows never leave the scan stage. The
    // application-side threshold defaults to 10 GB — it fires on its
    // own at production scale; the test lowers it to assert the
    // mechanism on sf0.001.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems" -> "1000",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = graft.sources.Tables.lineitem(spark, sf0001)
      val o = graft.sources.Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("bloom_filter_agg") && opt.contains("might_contain"),
        s"expected an injected runtime bloom filter:\n$opt")
      assert(j.count() > 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("fanOutForKernels: single-split input wrapped, multi-file input returned UNTOUCHED, probe memoized") {
    // The scale contract (r22, VERDICT item 7): at production shape
    // (leaf files ≥ parallelism) the helper must be a no-op that does
    // NOT even pay a physical-planning probe — it returns the same
    // Dataset reference. Locally (single-file scan) it wraps in one
    // round-robin repartition, and the planned-partition probe is
    // memoized per (context, parallelism, plan) so a bench sweep
    // plans it once.
    val dir = Files.createTempDirectory("fanout").toString
    val p = spark.sparkContext.defaultParallelism
    // multi-file side: more files than parallelism
    spark.range(1000).repartition(p + 4).write.parquet(s"$dir/many")
    val many = spark.read.parquet(s"$dir/many")
    assert(many.inputFiles.length >= p)
    val outMany = graft.sources.Tables.fanOutForKernels(many)
    assert(outMany eq many,
      "multi-file input must pass through untouched (no probe, no wrap)")
    // single-file side: one split, must be wrapped
    spark.range(1000).coalesce(1).write.parquet(s"$dir/one")
    val one = spark.read.parquet(s"$dir/one")
    graft.sources.Tables.fanOutProbeCache.clear()
    val outOne = graft.sources.Tables.fanOutForKernels(one)
    assert(!(outOne eq one), "single-split input must be fanned out")
    assert(outOne.rdd.getNumPartitions == p)
    assert(outOne.collect().map(_.getLong(0)).sorted.toSeq == (0L until 1000L))
    assert(graft.sources.Tables.fanOutProbeCache.size == 1,
      "the partition probe must be memoized for file-backed plans")
    // same plan again: memo hit (no growth), same decision
    graft.sources.Tables.fanOutForKernels(spark.read.parquet(s"$dir/one"))
    assert(graft.sources.Tables.fanOutProbeCache.size == 1)
    // same directory, one more file: the plan hash is unchanged (the
    // file index compares by root path) but the file count keys a
    // fresh probe instead of a stale memo hit
    spark.range(1000, 1010).coalesce(1).write.mode("append").parquet(s"$dir/one")
    val grown = spark.read.parquet(s"$dir/one")
    assert(grown.inputFiles.length == 2 && 2 < p)
    val outGrown = graft.sources.Tables.fanOutForKernels(grown)
    assert(graft.sources.Tables.fanOutProbeCache.size == 2,
      "a changed file set must be probed again, not served from the memo")
    assert(outGrown.collect().length == 1010)
  }

  test("bucketed co-located join is shuffle-free") {
    // warehouse.dir is a static conf — use explicit external-table
    // paths in a temp dir instead.
    val wh = Files.createTempDirectory("wh").toString
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val o = graft.sources.Tables.orders(spark, sf0001)
      Bucketing.writeBucketed(o.select("o_orderkey", "o_totalprice"),
        "b_orders", "o_orderkey", 4, Some(s"$wh/b_orders"))
      Bucketing.writeBucketed(
        graft.sources.Tables.lineitem(spark, sf0001)
          .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_lines")),
        "b_lines", "l_orderkey", 4, Some(s"$wh/b_lines"))
      val joined = spark.table("b_orders").join(spark.table("b_lines"),
        col("o_orderkey") === col("l_orderkey"))
      val p = plan(joined)
      assert(p.contains("SortMergeJoin"))
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lines")
    }
  }
}
