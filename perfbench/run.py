#!/usr/bin/env python3
"""graft benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <batch_suite|cdc_stream>
        --seed <n> --seconds <n> --trace <0|1>

Run it from the root of a checkout. It builds the harness (perfbench/,
which compiles the engine's sources with it) when the sources changed,
makes the workload's inputs from the seed, launches the JVM directly on
the exported classpath in an isolated run directory (its own
java.io.tmpdir, Spark local dir, warehouse and checkpoints, deleted
afterwards), checks the outputs, and prints one JSON record as the last
line of stdout. Per-operation detail goes to perfbench/results/.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import gen  # noqa: E402

BUILD_DIR = os.path.join(HERE, "target")
STAMP = os.path.join(BUILD_DIR, "graftbench-build.json")
RESULTS = os.path.join(HERE, "results")
DATA = os.path.join(HERE, "data", "sf0.001")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")

# cdc_stream backlog: snapshot articles, then change events
BACKLOG_ARTICLES, BACKLOG_CHANGES = 400, 600

# Spark on JDK 17 needs these outside spark-submit (as in the root build.sbt)
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the harness with the engine; return the runtime classpath."""
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp.get("hash") == digest:
            return stamp["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=%s -Dsbt.offline=true -Xmx2g"
                   % os.path.expanduser("~/.sbt/repositories"))
    log("building the harness (sbt compile)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if "scala-2.13" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"hash": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


# ---------------------------------------------------------------- inputs

def write_lines(path, lines):
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, path)


def prepare_cdc(run_dir, seed):
    src = os.path.join(run_dir, "cdc", "src")
    os.makedirs(src)
    glog, lines = gen.backlog(seed, BACKLOG_ARTICLES, BACKLOG_CHANGES)
    parts = 4
    for k in range(parts):
        write_lines(os.path.join(src, "backlog-%02d.json" % k), lines[k::parts])
    with open(os.path.join(run_dir, "cdc", "backlog_events"), "w") as f:
        f.write(str(len(lines)))
    return glog, len(lines)


class LiveGenerator(threading.Thread):
    """cdc_stream's open-loop generator: once catch-up is done, writes one
    file per second on a fixed schedule, whatever the system does. The
    first file is due 0.5 s after the first 5 s trigger boundary that is
    at least 5 s after catch-up ended (time for the sinks' no-data
    batches), so every run starts its live phase in the same trigger
    phase. File contents are precomputed from the seed."""

    def __init__(self, run_dir, glog, seconds, per_file, jvm):
        super().__init__(daemon=True)
        self.src = os.path.join(run_dir, "cdc", "src")
        self.run_dir = run_dir
        self.files = [gen.live_file(glog, i, per_file)[1] for i in range(seconds)]
        self.jvm = jvm
        self.due = {}
        self.late_max = 0.0
        self.events = 0
        self.error = None

    def run(self):
        try:
            marker = os.path.join(self.run_dir, "catchup.done")
            while not os.path.exists(marker):
                if self.jvm.poll() is not None:
                    return
                time.sleep(0.02)
            start = math.ceil((time.time() + 5) / 5) * 5 + 0.5
            for i, lines in enumerate(self.files):
                due = start + i
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                name = "live-%06d.json" % i
                write_lines(os.path.join(self.src, name), lines)
                self.late_max = max(self.late_max, time.time() - due)
                self.due[name] = due
                self.events += len(lines)
            with open(os.path.join(self.run_dir, "live.done"), "w") as f:
                f.write(str(self.events))
        except Exception as e:  # reported by the caller
            self.error = repr(e)


# ---------------------------------------------------------------- checks

def oracle_checks(out_dir, data_dir):
    """DuckDB oracle compare (row count, schema, exact values after a
    canonical sort) of each dumped query; queries without an oracle must
    return rows. Returns name -> (ok, detail)."""
    import duckdb
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
            elif pd.api.types.is_float_dtype(df[c]):
                df[c] = df[c].astype("float64")
            elif pd.api.types.is_integer_dtype(df[c]):
                df[c] = df[c].astype("int64")
        return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)

    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for name in os.listdir(data_dir):
        if name.endswith(".parquet"):
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s'"
                        % (name[:-len(".parquet")], os.path.join(data_dir, name)))
    res = {}
    for name in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            continue
        try:
            got = pd.read_parquet(qdir)
            if name not in oracle:
                res[name] = (len(got) > 0, "rows-only: %d rows" % len(got))
                continue
            a, b = canon(got), canon(con.execute(oracle[name]).fetchdf())
            if list(a.columns) != list(b.columns):
                res[name] = (False, "schema %s vs %s" % (list(a.columns), list(b.columns)))
            elif len(a) != len(b):
                res[name] = (False, "rows %d vs oracle %d" % (len(a), len(b)))
            else:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
                res[name] = (True, "%d rows match the oracle" % len(a))
        except Exception as e:
            res[name] = (False, "%s: %s" % (type(e).__name__, str(e).splitlines()[-1] if str(e) else ""))
    con.close()
    return res


# ---------------------------------------------------------------- run

def vm_hwm_mb(pid):
    try:
        with open("/proc/%d/status" % pid) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def run_jvm(args, run_dir, classpath, data_dir):
    """Launch the harness for one run; returns (jvm_result, peak_rss_mb, generator)."""
    n = cores()
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dspark.local.dir=" + os.path.join(run_dir, "local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
        "-Dderby.system.home=" + run_dir,
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--data", data_dir, "--cores", str(n),
    ]
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    glog = None
    if args.workload == "cdc_stream":
        glog, _ = prepare_cdc(run_dir, args.seed)
    jvm_log = open(os.path.join(run_dir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                            stderr=jvm_log, text=True)
    generator = None
    try:
        if glog is not None:
            generator = LiveGenerator(run_dir, glog, args.seconds, 20 * n, proc)
            generator.start()
        peak = 0.0
        deadline = time.time() + 160
        # the harness prints one line once its result file is written
        reader = threading.Thread(target=lambda: setattr(proc, "_line", proc.stdout.readline()),
                                  daemon=True)
        reader.start()
        while reader.is_alive() and time.time() < deadline and proc.poll() is None:
            peak = max(peak, vm_hwm_mb(proc.pid))
            reader.join(0.1)
        peak = max(peak, vm_hwm_mb(proc.pid))
        line = getattr(proc, "_line", "")
        proc.stdin.close()
        proc.wait(timeout=30)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        jvm_log.close()
        if generator is not None:
            generator.join(timeout=5)
    result_path = os.path.join(run_dir, "jvm_result.json")
    if "result written" not in (line or "") or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit("perfbench: the harness did not finish (exit %s)" % proc.returncode)
    with open(result_path) as f:
        return json.load(f), peak, generator


def evaluate(args, run_dir, res, generator, data_dir, peak_mb):
    """Check outputs and compute the end-to-end metrics; returns
    (correct, attempted, failed, metrics, detail)."""
    ops = res["ops"]
    checks = {c["name"]: (c["ok"], c["detail"]) for c in res["checks"]}
    attempted = len(ops)
    detail = {}
    if args.workload == "batch_suite":
        oracle = oracle_checks(os.path.join(run_dir, "out"), data_dir)
        oracle.update({n: c for n, c in checks.items() if not c[0]})
        checks = oracle
        bad = {n for n, (ok, _) in checks.items() if not ok}
        failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad)
        lat = [o["ms"] for o in ops]
    else:
        failed = sum(1 for o in ops if not o["ok"])
        if generator.error:
            raise SystemExit("perfbench: generator failed: " + generator.error)
        lats = benchlib.commit_latencies(os.path.join(run_dir, "cdc", "out", "ckpt"),
                                         benchlib.SINKS, generator.due)
        missing = [k for k, v in lats.items() if v is None]
        if missing or not lats:
            failed = min(attempted, failed + 1)
            checks["live_commits"] = (False, "files never committed: %s" % missing[:5])
        # every envelope of a file shares its file's due time
        per_file = 20 * cores()
        lat = [v * 1000.0 for v in lats.values() if v is not None for _ in range(per_file)]
        detail["commit_latency_s_by_file"] = lats
    correct = failed == 0 and all(ok for ok, _ in checks.values())
    metrics = {
        "setup_s": (benchlib.median(res["setup_s"]), "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "throughput_per_s": (res["throughput_per_s"], "1/s"),
        "latency_p50_ms": (benchlib.p50(lat), "ms"),
        "latency_tail_ms": (benchlib.tail(lat), "ms"),
    }
    detail["checks"] = {k: {"ok": ok, "detail": why} for k, (ok, why) in checks.items()}
    detail["latency_samples"] = len(lat)
    detail["latency_tail_quantile"] = benchlib.tail_quantile(len(lat))
    return correct, attempted, failed, metrics, detail


def one_run(args, classpath):
    """One JVM run in its own directory, deleted afterwards. Returns
    (jvm result, correct, attempted, failed, metrics, detail, generator,
    spans)."""
    t0 = time.time()
    base = os.path.join(HERE, ".runs")
    run_dir = os.path.join(base, "%s-%d-%d-%d" % (args.workload, args.seed, args.trace, os.getpid()))
    os.makedirs(run_dir)
    try:
        res, peak, generator = run_jvm(args, run_dir, classpath, DATA)
        t1 = time.time()
        correct, attempted, failed, metrics, detail = evaluate(
            args, run_dir, res, generator, DATA, peak)
        detail["harness_s"] = {"jvm": t1 - t0, "checks": time.time() - t1}
        spans = None
        sp = os.path.join(run_dir, "spans.json")
        if os.path.exists(sp):
            with open(sp) as f:
                spans = json.load(f)
        return res, correct, attempted, failed, metrics, detail, generator, spans
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


def trace_overhead(workload, traced_p50, busy_s, wall_s):
    """The traced run's latency_p50_ms over the median of the untraced
    runs recorded in this checkout. With none recorded, the share of the
    run the tracer's listener callbacks took: 1 + busy s / wall s."""
    p = os.path.join(RESULTS, "%s.untraced.json" % workload)
    if os.path.exists(p):
        with open(p) as f:
            past = json.load(f)
        return traced_p50 / benchlib.median(past), len(past)
    return 1.0 + busy_s / wall_s, 0


def record_untraced(workload, p50):
    """Keep the latency_p50_ms of the last 20 untraced runs."""
    p = os.path.join(RESULTS, "%s.untraced.json" % workload)
    past = []
    if os.path.exists(p):
        with open(p) as f:
            past = json.load(f)
    with open(p, "w") as f:
        json.dump((past + [p50])[-20:], f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=benchlib.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        log("no engine sources at %s: run from the root of a graft checkout" % ENGINE_SRC)
        return 2
    if not os.path.isdir(DATA):
        log("missing the batch_suite tables at %s" % DATA)
        return 2
    classpath = build()
    os.makedirs(RESULTS, exist_ok=True)

    res, correct, attempted, failed, metrics, detail, generator, spans = one_run(args, classpath)

    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    detail.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores(), "setup_s_reps": res["setup_s"],
        "ops": res["ops"], "extra": res["extra"],
        "metrics": {k: v for k, (v, _) in metrics.items()},
    })
    if args.trace:
        layers = dict(res["layers"])
        layers["harness.generator_late_max_s"] = generator.late_max if generator else 0.0
        layers["harness.loadavg_1m"] = os.getloadavg()[0]
        ratio, n_base = trace_overhead(args.workload, metrics["latency_p50_ms"][0],
                                       layers.pop("harness.trace_busy_s"), res["extra"]["wall_s"])
        layers["harness.trace_overhead_ratio"] = ratio
        detail["trace_overhead_untraced_runs"] = n_base
        exercised = benchlib.LAYERS_BY_WORKLOAD[args.workload]
        final = {}
        for name, unit in benchlib.PER_LAYER.items():
            if name in layers:
                final[name] = (float(layers[name]), unit)
            elif benchlib.layer_of(name) in exercised:
                raise SystemExit("perfbench: the harness did not report %s" % name)
            else:
                final[name] = (0.0, unit)
        detail["self_s_by_kind"] = spans["self_s_by_kind"] if spans else {}
        with open(os.path.join(RESULTS, tag + ".spans.json"), "w") as f:
            json.dump(spans, f)
    else:
        record_untraced(args.workload, metrics["latency_p50_ms"][0])
        final = metrics
    with open(os.path.join(RESULTS, tag + ".json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(benchlib.record(correct, attempted, failed, final))
    return 0


def _terminate(signum, _frame):
    # SystemExit unwinds through the finally blocks, which stop the JVM
    # and delete the run directory
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    sys.exit(main())
