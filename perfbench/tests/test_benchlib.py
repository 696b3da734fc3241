"""The benchmark's own tests: record format, tail rule, smoothed
percentiles, generator determinism and commit-latency extraction.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import benchlib  # noqa: E402
import gen  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class RecordTest(unittest.TestCase):
    def test_last_line_parses_with_every_end_to_end_metric(self):
        metrics = {k: (1.25, u) for k, (u, _, _) in benchlib.END_TO_END.items()}
        line = benchlib.record(True, 15, 0, metrics)
        self.assertNotIn("\n", line)
        rec = json.loads(line)
        self.assertEqual(set(rec), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(rec["metrics"]), set(benchlib.END_TO_END))
        for v in rec["metrics"].values():
            self.assertEqual(set(v), {"value", "unit"})

    def test_non_finite_values_are_refused(self):
        with self.assertRaises(ValueError):
            benchlib.record(True, 1, 0, {"latency_p50_ms": (float("nan"), "ms")})

    def test_metric_names_and_counts_stay_within_limits(self):
        self.assertLessEqual(len(benchlib.END_TO_END), 16)
        self.assertLessEqual(len(benchlib.PER_LAYER), 128)
        names = list(benchlib.END_TO_END) + list(benchlib.PER_LAYER)
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for u, _, bound in benchlib.END_TO_END.values():
            self.assertRegex(u, UNIT)
            self.assertLessEqual(bound, 0.25)
        for u in benchlib.PER_LAYER.values():
            self.assertRegex(u, UNIT)
        self.assertEqual(benchlib.END_TO_END["setup_s"], ("s", "lower", 0.25))

    def test_every_layer_is_owned_by_a_workload(self):
        owned = {layer for ls in benchlib.LAYERS_BY_WORKLOAD.values() for layer in ls}
        for n in benchlib.PER_LAYER:
            self.assertIn(benchlib.layer_of(n), owned, n)

    def test_benchmark_json_matches_the_definition(self):
        path = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        with open(path) as f:
            self.assertEqual(json.load(f), benchlib.benchmark_json())


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond_the_tail(self):
        xs = list(range(100))
        t = benchlib.tail(xs)
        self.assertGreaterEqual(sum(1 for x in xs if x > t), 10)
        self.assertAlmostEqual(t, 89, delta=0.5)  # rank 90 of 100
        self.assertEqual(benchlib.tail_quantile(100), 0.9)

    def test_tail_never_below_the_median(self):
        for n in range(1, 40):
            xs = list(range(n))
            self.assertGreaterEqual(benchlib.tail(xs), benchlib.p50(xs) - 1e-9)
        self.assertAlmostEqual(benchlib.tail(list(range(15))), 7, delta=1e-6)
        # two batch_suite passes of 13 queries: rank 16 of 26
        self.assertAlmostEqual(benchlib.tail(list(range(26))), 15, delta=0.5)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(benchlib.tail(xs), benchlib.tail(sorted(xs)))
        self.assertEqual(benchlib.tail([]), 0.0)
        self.assertEqual(benchlib.p50([]), 0.0)


class SmoothedRankTest(unittest.TestCase):
    def test_beta_cdf(self):
        self.assertAlmostEqual(benchlib.beta_cdf(2, 1, 0.3), 0.09)
        # I_0.2(3, 5) = P(Binomial(7, 0.2) >= 3)
        self.assertAlmostEqual(benchlib.beta_cdf(3, 5, 0.2), 0.148032)
        self.assertAlmostEqual(benchlib.beta_cdf(7.5, 7.5, 0.5), 0.5)
        self.assertEqual(benchlib.beta_cdf(2, 3, 0.0), 0.0)
        self.assertEqual(benchlib.beta_cdf(2, 3, 1.0), 1.0)

    def test_median_of_symmetric_samples(self):
        for xs in ([4.0], [1.0, 2.0], list(range(14)), [1.0, 2.0, 4.0, 8.0, 12.0, 14.0, 15.0]):
            self.assertAlmostEqual(benchlib.p50(xs), statistics.median(xs), delta=1e-6)
        self.assertAlmostEqual(benchlib.p50([3.0] * 7), 3.0)

    def test_file_groups_read_as_their_value(self):
        # cdc_stream: every envelope of a file shares the file's latency
        lat = [v for v in (12.0, 13.0, 14.0, 15.0, 16.0) for _ in range(80)]
        self.assertAlmostEqual(benchlib.p50(lat), 14.0)
        self.assertAlmostEqual(benchlib.tail(lat), 16.0)

    def test_no_jump_when_neighbours_swap(self):
        a = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 9.0, 10.0, 11.0, 12.0, 13.0, 14.0]
        b = list(a)
        b[5], b[6] = 7.4, 7.6  # the two middle values almost meet
        c = list(a)
        c[5], c[6] = 7.6, 7.4  # ... and swap
        self.assertAlmostEqual(benchlib.p50(b), benchlib.p50(c))
        self.assertLess(abs(benchlib.p50(a) - benchlib.p50(b)), 0.5)


def live_files(seed, n_files, per_file):
    log, _ = gen.backlog(seed, 20, 30)
    return [gen.live_file(log, i, per_file) for i in range(n_files)]


class GeneratorTest(unittest.TestCase):
    def test_backlog_is_byte_identical_per_seed(self):
        _, a = gen.backlog(3, 50, 80)
        _, b = gen.backlog(3, 50, 80)
        _, c = gen.backlog(4, 50, 80)
        self.assertEqual("\n".join(a).encode(), "\n".join(b).encode())
        self.assertNotEqual(a, c)

    def test_live_files_are_byte_identical_per_seed(self):
        a = live_files(9, 3, 16)
        self.assertEqual(json.dumps(a), json.dumps(live_files(9, 3, 16)))
        self.assertNotEqual(a, live_files(10, 3, 16))

    def test_event_times_are_logical_and_ordered(self):
        _, lines = gen.backlog(1, 20, 30)
        ts = [self._ts(ln) for ln in lines]
        self.assertEqual(ts, sorted(ts))
        self.assertLess(ts[-1], gen.LIVE_EPOCH_MS)
        for i, (due, file_lines) in enumerate(live_files(1, 3, 5)):
            self.assertEqual(due, gen.LIVE_EPOCH_MS + i * 1000 + 500)
            self.assertTrue(all(due < self._ts(ln) < due + 1000 for ln in file_lines))

    def test_both_envelope_shapes_and_all_tables_appear(self):
        _, lines = gen.backlog(2, 20, 300)
        shapes = {"payload" in json.loads(ln) for ln in lines}
        tables = {self._env(ln)["source"]["table"] for ln in lines}
        self.assertEqual(shapes, {True, False})
        self.assertEqual(tables, set(gen.TABLES))

    @staticmethod
    def _env(line):
        e = json.loads(line)
        return e.get("payload", e)

    def _ts(self, line):
        return self._env(line)["ts_ms"]


class CommitLatencyTest(unittest.TestCase):
    def _sink(self, root, name, entries, compact, commits):
        d = os.path.join(root, name)
        os.makedirs(os.path.join(d, "sources", "0"))
        os.makedirs(os.path.join(d, "commits"))
        for batch, files in entries.items():
            fname = "%d.compact" % batch if batch in compact else str(batch)
            with open(os.path.join(d, "sources", "0", fname), "w") as f:
                f.write("v1\n")
                for b, path in files:
                    f.write(json.dumps({"path": "file://" + path, "timestamp": 0,
                                        "batchId": b}) + "\n")
        for batch, t in commits.items():
            p = os.path.join(d, "commits", str(batch))
            with open(p, "w") as f:
                f.write("v1\n{}\n")
            os.utime(p, (t, t))

    def test_latency_is_the_last_sink_commit_after_due(self):
        with tempfile.TemporaryDirectory() as root:
            self._sink(root, "a", {0: [(0, "/s/live-0.json")], 1: [(1, "/s/live-1.json")]},
                       set(), {0: 1000.0, 1: 1005.0})
            # sink b's log is compacted: batch 1 repeats batch 0's entry
            self._sink(root, "b", {1: [(0, "/s/live-0.json"), (1, "/s/live-1.json")]},
                       {1}, {0: 1002.0, 1: 1008.0})
            lat = benchlib.commit_latencies(root, ["a", "b"],
                                            {"live-0.json": 999.5, "live-1.json": 1001.5})
        self.assertAlmostEqual(lat["live-0.json"], 2.5, places=3)
        self.assertAlmostEqual(lat["live-1.json"], 6.5, places=3)

    def test_an_uncommitted_file_has_no_latency(self):
        with tempfile.TemporaryDirectory() as root:
            self._sink(root, "a", {0: [(0, "/s/live-0.json")], 1: [(1, "/s/live-1.json")]},
                       set(), {0: 1000.0})
            lat = benchlib.commit_latencies(root, ["a"],
                                            {"live-0.json": 999.0, "live-1.json": 999.0})
        self.assertAlmostEqual(lat["live-0.json"], 1.0, places=3)
        self.assertIsNone(lat["live-1.json"])


if __name__ == "__main__":
    unittest.main()
