"""Pure helpers of the benchmark: metric names, percentiles, checkpoint
parsing and the result record. Kept free of side effects so the
benchmark's own tests can pin them."""
import json
import math
import os
import statistics

WORKLOADS = ("batch_suite", "cdc_stream")

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.15),
    "throughput_per_s": ("1/s", "higher", 0.25),
    "latency_p50_ms": ("ms", "lower", 0.25),
    "latency_tail_ms": ("ms", "lower", 0.25),
}

QUERY_MODULES = ("Relational", "TimeSeriesQueries", "TextQueries", "VectorQueries",
                 "TrendQueries", "CdcQueries", "MultimodalQueries", "CoverageQueries",
                 "ApiQueries", "CurationQueries", "ClusteringQueries")
TARGET_QUERIES = ("q39", "q40", "q45", "q53", "q54")
SINKS = ("mirror", "counts", "alerts", "rank", "landing", "neardup")


def _per_layer():
    m = {
        "sources.input_bytes": "bytes", "sources.input_records": "count",
        "model.parse_s": "s",
        "plans.planning_s": "s", "plans.planning_share": "ratio",
        "operators.sql_actions": "count", "operators.jobs": "count",
        "operators.stages": "count", "operators.tasks": "count",
        "operators.task_run_s": "s", "operators.task_cpu_s": "s",
        "operators.core_busy_ratio": "ratio",
        "operators.shuffle_read_bytes": "bytes", "operators.shuffle_write_bytes": "bytes",
        "operators.spill_bytes": "bytes", "operators.peak_exec_mem_bytes": "bytes",
        "operators.pinned_blocks_end": "count",
    }
    for mod in QUERY_MODULES:
        m["queries.%s.s" % mod] = "s"
    for q in TARGET_QUERIES:
        m["query.%s.s" % q] = "s"
        m["query.%s.stages" % q] = "count"
    for s in SINKS:
        for k in ("trigger_p50_ms", "addbatch_p50_ms", "planning_p50_ms", "commitlog_p50_ms"):
            m["streaming.%s.%s" % (s, k)] = "ms"
        m["streaming.%s.state_rows_end" % s] = "count"
        m["streaming.%s.state_bytes_end" % s] = "bytes"
    m["streaming.batches"] = "count"
    m["harness.generator_late_max_s"] = "s"
    m["harness.loadavg_1m"] = "load"
    m["harness.trace_overhead_ratio"] = "ratio"
    return m


PER_LAYER = _per_layer()

# Layers each workload exercises; the others read 0 on it by definition.
LAYERS_BY_WORKLOAD = {
    "batch_suite": ("sources", "model", "plans", "operators", "queries", "query", "harness"),
    "cdc_stream": ("sources", "model", "plans", "operators", "streaming", "harness"),
}


def layer_of(name):
    return name.split(".", 1)[0]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_index(n, beyond=10):
    """Index, in sorted order, of the highest percentile with at least
    `beyond` samples above it: the (n - beyond)-th smallest value. It
    never drops below the median: with fewer than 2 * beyond + 1 samples
    the tail is the upper middle value."""
    return max(n - beyond - 1, n // 2)


def _beta_cf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300

    def nz(v):
        return v if abs(v) > tiny else tiny

    c, d = 1.0, 1.0 / nz(1.0 - (a + b) * x / (a + 1.0))
    h = d
    for m in range(1, 1000):
        aa = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        d = 1.0 / nz(1.0 + aa * d)
        c = nz(1.0 + aa / c)
        h *= d * c
        aa = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1.0 / nz(1.0 + aa * d)
        c = nz(1.0 + aa / c)
        h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def beta_cdf(a, b, x):
    """The regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def smoothed_rank(xs, k):
    """The k-th smallest of `xs` (1-based, k may be fractional) as a
    Harrell-Davis estimate: every sorted sample weighted by a Beta(k,
    n + 1 - k) distribution centred on rank k. Unlike a single order
    statistic it does not jump when two neighbouring samples swap
    places, so a few dozen samples give a steady percentile."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0
    a, b = float(k), float(n + 1 - k)
    cdf = [beta_cdf(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * v for i, v in enumerate(s))


def p50(xs):
    """The median latency of `xs`, smoothed (rank (n + 1) / 2)."""
    return smoothed_rank(xs, (len(xs) + 1) / 2.0)


def tail(xs, beyond=10):
    """The tail latency of `xs`: rank `tail_index` + 1, smoothed."""
    return smoothed_rank(xs, tail_index(len(xs), beyond) + 1)


def tail_quantile(n, beyond=10):
    """The quantile `tail` reports for n samples (for the detail file)."""
    return (tail_index(n, beyond) + 1) / n if n else 0.0


def file_batches(sink_ckpt):
    """File name -> batch id, from a file source's metadata log
    (`<ckpt>/sources/0/<batch>` and compacted `<batch>.compact` files:
    a version line, then one JSON entry per file)."""
    out = {}
    d = os.path.join(sink_ckpt, "sources", "0")
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name), encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times(sink_ckpt):
    """Batch id -> commit time (epoch s), from `<ckpt>/commits/<batch>`."""
    d = os.path.join(sink_ckpt, "commits")
    out = {}
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.isdigit():
                out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e9
    return out


def commit_latencies(ckpt_root, sinks, due):
    """For each file in `due` (name -> due epoch s): the time from its due
    time until the last of `sinks` committed the batch holding it, or
    None when some sink never committed it."""
    per_sink = []
    for s in sinks:
        p = os.path.join(ckpt_root, s)
        per_sink.append((file_batches(p), commit_times(p)))
    out = {}
    for name, t in due.items():
        worst = 0.0
        for batches, commits in per_sink:
            b = batches.get(name)
            if b is None or b not in commits:
                worst = None
                break
            worst = max(worst, commits[b] - t)
        out[name] = worst
    return out


def record(correct, attempted, failed, metrics):
    """The last stdout line: one JSON object with exactly these keys."""
    for name, (value, _) in metrics.items():
        if not isinstance(value, (int, float)) or isinstance(value, bool) or not math.isfinite(value):
            raise ValueError("metric %s is not a finite number: %r" % (name, value))
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, ensure_ascii=True)


def benchmark_json():
    """The BENCHMARK.json this benchmark answers to."""
    why = {
        "batch_suite": "the product surface: 13 fixed SparkEntry queries, a cold and a "
                       "warm pass, operator- and stage-bound, builds paid in every pass",
        "cdc_stream": "the StreamingJob topology over a file source: a backlog catch-up "
                      "in large batches, then an open-loop live phase of small triggers",
    }
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 5,
        "workloads": [{"name": w, "why": why[w]} for w in WORKLOADS],
        "end_to_end": [{"name": k, "unit": u, "better": b, "bound": bd}
                       for k, (u, b, bd) in END_TO_END.items()],
        "per_layer": [{"name": k, "unit": u,
                       "better": "higher" if k.endswith(("_ratio", "_per_s")) and
                       "trace_overhead" not in k else "lower"}
                      for k, u in PER_LAYER.items()],
    }
