package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Pins
import graft.plans.GraftFunctions
import graft.sources.Tables

/** Remaining SURVEY §2 inventory surface: windowed collect (A2),
  * set operations (§2.7), scalar-function families (SC8/SC11/SC13),
  * and the native Catalyst expression in an end-to-end query.
  */
object CoverageQueries {
  import QueryDef.sql

  // Native codegen expression in a real query. The 64-bit wraparound
  // fold IS expressible in DuckDB via HUGEINT modular arithmetic
  // (list_reduce over the byte values, mod 2^64, then mapped back to
  // the signed two's-complement BIGINT Spark emits). ascii() == byte
  // because the corpus is pure ASCII (verified against the testdata).
  val q49 = sql(
    "q49_native_fingerprints",
    """SELECT doc_id,
      |  CAST(CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
      |    THEN u - CAST('18446744073709551616' AS HUGEINT) ELSE u END AS BIGINT) AS fp64
      |FROM (
      |  SELECT doc_id, list_reduce(
      |    list_prepend(CAST(0 AS HUGEINT),
      |      list_transform(range(1, length(text)+1), i -> CAST(ascii(text[i]) AS HUGEINT))),
      |    (acc, b) -> (acc * 1000003 + b) % CAST('18446744073709551616' AS HUGEINT)) AS u
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    GraftFunctions.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"), GraftFunctions.rolling_hash64(col("text")).as("fp64"))
      .orderBy(col("doc_id"))
  }

  // A2: windowed collect_list (the breaking-news per-window article
  // list, AlertTopology.java:57-67) — sorted and string-joined so the
  // value is engine-comparable.
  val q50 = sql(
    "q50_window_collect",
    """SELECT strftime(to_timestamp(CAST(floor(epoch(ts)/300)*300 AS BIGINT)), '%Y-%m-%d %H:%M') AS window_start,
      |  count(*) AS n,
      |  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS ids
      |FROM events WHERE event_type = 'signup'
      |GROUP BY 1 ORDER BY window_start""".stripMargin) { (s, d) =>
    Tables.events(s, d).filter(col("event_type") === "signup")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"),
        array_join(sort_array(collect_list(col("event_id"))), ",").as("ids"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("n"), col("ids"))
      .orderBy(col("window_start"))
  }

  // §2.7 set operations: UNION / INTERSECT / EXCEPT over user sets.
  val q51 = sql(
    "q51_set_ops",
    """SELECT
      |  (SELECT count(*) FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
      |    UNION SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') u) AS n_union,
      |  (SELECT count(*) FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
      |    INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') i) AS n_intersect,
      |  (SELECT count(*) FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
      |    EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') e) AS n_except""".stripMargin) {
    (s, d) =>
      val ev = Tables.events(s, d)
      def users(t: String) =
        ev.filter(col("event_type") === t).select(col("user_id")).distinct()
      // Each distinct-user set feeds three set operators — cache both
      // once (instead of six event-table scans), release after the
      // 1-row result materializes.
      Pins { p =>
        val su = p.cache(users("signup"))
        val pu = p.cache(users("purchase"))
        su.union(pu).distinct().agg(count(lit(1)).as("n_union"))
          .crossJoin(su.intersect(pu).agg(count(lit(1)).as("n_intersect")))
          .crossJoin(su.except(pu).agg(count(lit(1)).as("n_except")))
          .localCheckpoint()
      }
  }

  // SC8/SC11/SC13 scalar families: split-part, log10 view-weight,
  // least/greatest clamps, nullif null-mapping.
  val q52 = sql(
    "q52_scalar_funcs",
    """SELECT o_orderstatus,
      |  count(*) AS n,
      |  round(sum(log10(o_totalprice + 1)), 6) AS log_weight,
      |  max(least(greatest(o_totalprice, 1000.0), 100000.0)) AS clamped_max,
      |  count(nullif(split_part(o_orderpriority, '-', 1), '1')) AS n_not_p1
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    Tables.orders(s, d).groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(log10(col("o_totalprice") + 1)), 6).as("log_weight"),
        max(least(greatest(col("o_totalprice"), lit(1000.0)), lit(100000.0))).as("clamped_max"),
        count(nullif(element_at(split(col("o_orderpriority"), "-"), 1), lit("1"))).as("n_not_p1"))
      .orderBy(col("o_orderstatus"))
  }

  // The custom TopKPerGroupExec operator under the oracle gate:
  // newest-3 events per user (event_id is unique → tie-free, so the
  // heap's output set matches the window formulation bit-for-bit).
  val q56 = sql(
    "q56_custom_topk_per_group",
    """SELECT user_id, event_id, event_type FROM (
      |  SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |  FROM events) t WHERE rn <= 3 ORDER BY user_id, event_id DESC""".stripMargin) { (s, d) =>
    graft.plans.GraftOps.topKPerGroup(
      Tables.events(s, d).select(col("user_id"), col("event_id"), col("event_type")),
      Seq("user_id"), "event_id", 3)
      .orderBy(col("user_id"), col("event_id").desc)
  }

  // OLAP rollup: subtotals per (priority, status), per priority, and
  // grand total. Null group keys are coalesced to a sentinel on both
  // sides so the compare never hinges on engine null semantics.
  val q58 = sql(
    "q58_rollup",
    """SELECT COALESCE(o_orderpriority, '(all)') AS priority,
      |  COALESCE(o_orderstatus, '(all)') AS status,
      |  count(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), graft.functions.Exact.msum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        col("n"), col("sum_price"))
      .orderBy(col("priority"), col("status"))
  }

  // OLAP cube: all 2^2 grouping combinations of (priority, status) —
  // completes the rollup/pivot/cube family. Same null-sentinel
  // treatment as q58.
  val q65 = sql(
    "q65_cube",
    """SELECT COALESCE(o_orderpriority, '(all)') AS priority,
      |  COALESCE(o_orderstatus, '(all)') AS status,
      |  count(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), graft.functions.Exact.msum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        col("n"), col("sum_price"))
      .orderBy(col("priority"), col("status"))
  }

  // Pivot: hour-of-day × event_type count matrix (explicit value list
  // keeps the schema static; oracle = conditional aggregation).
  val q59 = sql(
    "q59_pivot",
    """SELECT CAST(hour(ts) AS BIGINT) AS hod,
      |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
      |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
      |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
      |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
      |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
      |FROM events GROUP BY 1 ORDER BY hod""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(hour(col("ts")).cast("long").as("hod"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("hod"))
  }

  // The DataSourceV2 calendar-dim connector end-to-end: generated
  // date dimension (ISO dow, weekend flag) broadcast-joined to daily
  // event counts. The oracle regenerates the calendar with
  // generate_series — proving the connector's rows, not just its
  // plumbing.
  val q78 = sql(
    "q78_calendar_dim_rollup",
    """WITH cal AS (SELECT CAST(gs AS DATE) AS d
      |  FROM generate_series(DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY) t(gs)),
      |daily AS (SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events
      |  FROM events GROUP BY 1)
      |SELECT day, CAST(isodow(d) AS INT) AS dow, isodow(d) >= 6 AS is_weekend, n_events
      |FROM daily JOIN cal ON day = strftime(d, '%Y-%m-%d')
      |ORDER BY day""".stripMargin) { (s, d) =>
    val cal = s.read.format("graft-calendar")
      .option("start", "2024-01-01").option("days", 30).load()
    Tables.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"))
      .join(broadcast(cal), "day")
      .select(col("day"), col("dow"), col("is_weekend"), col("n_events"))
      .orderBy(col("day"))
  }

  // Z-order layout key (lakehouse ZORDER clustering): Morton-interleave
  // (user bucket × hour bucket) and report per-z-range locality — each
  // z range covers few distinct values of BOTH dimensions, which is
  // exactly why min/max file stats prune 2-D predicates under this
  // sort. The oracle replays the magic-mask bit spreading with DuckDB
  // lateral column aliases.
  val q84 = sql(
    "q84_zorder_locality",
    """WITH base AS (SELECT user_id % 256 AS ub,
      |    (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 1024 AS hb FROM events),
      |s AS (SELECT ub, hb,
      |  (ub & 65535) AS a0,
      |  ((a0 | (a0 << 8)) & 16711935) AS a1,
      |  ((a1 | (a1 << 4)) & 252645135) AS a2,
      |  ((a2 | (a2 << 2)) & 858993459) AS a3,
      |  ((a3 | (a3 << 1)) & 1431655765) AS a4,
      |  (hb & 65535) AS b0,
      |  ((b0 | (b0 << 8)) & 16711935) AS b1,
      |  ((b1 | (b1 << 4)) & 252645135) AS b2,
      |  ((b2 | (b2 << 2)) & 858993459) AS b3,
      |  ((b3 | (b3 << 1)) & 1431655765) AS b4,
      |  (a4 | (b4 << 1)) AS z
      |FROM base)
      |SELECT z // 16384 AS zbucket, count(*) AS n,
      |  count(DISTINCT ub) AS n_users, count(DISTINCT hb) AS n_hours,
      |  min(z) AS zmin, max(z) AS zmax
      |FROM s GROUP BY 1 ORDER BY zbucket""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val z = graft.operators.Bucketing.zorder16(
      pmod(col("user_id"), lit(256L)),
      expr("unix_timestamp(ts) DIV 3600") % 1024)
    ev.select(pmod(col("user_id"), lit(256L)).as("ub"),
        (expr("unix_timestamp(ts) DIV 3600") % 1024).as("hb"), z.as("z"))
      .groupBy(expr("z DIV 16384").as("zbucket"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("ub")).as("n_users"),
        countDistinct(col("hb")).as("n_hours"),
        min(col("z")).as("zmin"), max(col("z")).as("zmax"))
      .orderBy(col("zbucket"))
  }

  val all: Seq[QueryDef] = Seq(q49, q50, q51, q52, q56, q58, q59, q65, q78, q84)
}
