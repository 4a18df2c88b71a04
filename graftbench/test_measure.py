"""Self-tests for the benchmark's own arithmetic (measure.py) and for the
metric code's reading of raw harness output.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import contextlib
import datetime
import decimal
import io
import json
import math
import os
import statistics
import unittest

import measure
import run


class Percentiles(unittest.TestCase):
    def test_matches_linear_interpolation(self):
        xs = [15.0, 20.0, 35.0, 40.0, 50.0]
        self.assertEqual(measure.percentile(xs, 0), 15.0)
        self.assertEqual(measure.percentile(xs, 100), 50.0)
        self.assertEqual(measure.percentile(xs, 50), 35.0)
        self.assertAlmostEqual(measure.percentile(xs, 40), 29.0)
        self.assertAlmostEqual(measure.percentile(xs, 99), 49.6)

    def test_order_does_not_matter(self):
        self.assertEqual(measure.percentile([3, 1, 2], 50), 2)

    def test_median_agrees_with_statistics(self):
        for xs in ([1.0], [1.0, 2.0], [5.0, 1.0, 4.0, 2.0], [2.5, 9.0, 1.0]):
            self.assertAlmostEqual(measure.median(xs), statistics.median(xs))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            measure.percentile([], 50)

    def test_geomean(self):
        self.assertAlmostEqual(measure.geomean([1.0, 4.0, 16.0]), 4.0)
        with self.assertRaises(ValueError):
            measure.geomean([1.0, 0.0])


class IdleCores(unittest.TestCase):
    def test_idle_core_seconds(self):
        # 4 cores for 2 s is 8 core-seconds; tasks used 3 of them
        self.assertAlmostEqual(measure.idle_core_s(4, 2.0, 3.0), 5.0)

    def test_busy_share(self):
        self.assertAlmostEqual(measure.busy_pct(4, 2.0, 3.0), 37.5)
        self.assertEqual(measure.busy_pct(4, 0.0, 0.0), 0.0)


class Digest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = measure.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = measure.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertEqual(a[0], 2)

    def test_values_matter(self):
        a = measure.digest(["a"], [(1,), (2,)])
        self.assertNotEqual(a, measure.digest(["a"], [(1,), (3,)]))
        self.assertNotEqual(a, measure.digest(["b"], [(1,), (2,)]))
        # duplicates are rows too
        self.assertNotEqual(measure.digest(["a"], [(1,)]),
                            measure.digest(["a"], [(1,), (1,)]))

    def test_numbers_compare_by_value(self):
        self.assertEqual(measure.canon_value(5), measure.canon_value(5.0))
        self.assertEqual(measure.canon_value(decimal.Decimal("1.50")),
                         measure.canon_value(decimal.Decimal("1.5")))
        self.assertNotEqual(measure.canon_value(0.1), measure.canon_value(0.2))
        self.assertNotEqual(measure.canon_value("1"), measure.canon_value(1))
        self.assertEqual(measure.canon_value(math.nan), "n:nan")
        self.assertNotEqual(measure.canon_value(math.inf),
                            measure.canon_value(-math.inf))

    def test_nulls_nested_and_times(self):
        self.assertNotEqual(measure.canon_value(None), measure.canon_value("N"))
        self.assertEqual(measure.canon_value([1, None]), "l:[n:1,N]")
        ts = datetime.datetime(2024, 1, 1, 0, 0, 11, 172425)
        self.assertEqual(measure.canon_value(ts), "t:2024-01-01T00:00:11.172425")


def _raw(spans, counters=None):
    return {"spans": spans, "counters": counters or {}, "cpus": 4}


class LayerArithmetic(unittest.TestCase):
    def test_spans_and_counters_sum_per_phase(self):
        raw = _raw(
            [[1, "q", "build", 0.0, 2.0], [1, "q", "exec", 2.0, 3.0],
             [1, "r", "build", 3.0, 4.0], [2, "q", "build", 5.0, 9.0]],
            {"1|q|build": {"jobs": 3, "stages": 3, "stages_run": 3,
                           "tasks": 12, "task_s": 4.0},
             "1|r|build": {"jobs": 1, "stages": 2, "stages_run": 1,
                           "tasks": 4, "task_s": 2.0},
             "1|q|exec": {"jobs": 1, "stages": 2, "stages_run": 1,
                          "tasks": 4, "task_s": 3.0, "scan_bytes": 10},
             "unlabelled": {"jobs": 7}})
        lay = run.phase_layers(raw, 4, {1})
        self.assertAlmostEqual(lay["queries.build_s"][0], 3.0)
        self.assertEqual(lay["queries.build_jobs"][0], 4)
        self.assertEqual(lay["queries.build_tasks"][0], 16)
        # 4 cores x 3 s build wall - 6 task-seconds
        self.assertAlmostEqual(lay["queries.build_idle_core_s"][0], 6.0)
        self.assertAlmostEqual(lay["queries.build_busy_pct"][0], 50.0)
        self.assertEqual(lay["exec.stages_skipped"][0], 1)
        self.assertAlmostEqual(lay["exec.idle_core_s"][0], 1.0)
        self.assertEqual(lay["sources.scan_bytes"][0], 10)

    def test_median_layers(self):
        samples = [{"x": (1.0, "s")}, {"x": (5.0, "s")}, {"x": (2.0, "s")}]
        self.assertEqual(run.median_layers(samples), {"x": (2.0, "s")})


def _batch_raw():
    phases = ("build", "optimize", "plan", "exec", "release")
    spans = [[p, "", "pass", 10.0 * p, 10.0 * p + 6] for p in (0, 1, 2)]
    spans += [[p, "q", ph, 10.0 * p + i, 10.0 * p + i + 1]
              for p in (0, 1, 2) for i, ph in enumerate(phases)]
    return {"spans": spans, "cpus": 4, "queries": ["q"], "oracle_sql": {},
            "counters": {"1|q|build": {"jobs": 2, "task_s": 1.0}},
            "results": [{"pass": p, "query": "q", "rows": 1, "persisted": 0,
                         "error": None} for p in (0, 1, 2)],
            "setup_s": [3.0, 1.0, 1.1], "peak_heap_mb": 100.0,
            "listener_s": 0.01, "out": "unused"}


def _stream_raw():
    prog = [{"batch": i, "rows": 10, "state_rows": 5, "state_memory_bytes": 9,
             "state_commit_ms": 3, "state_updates_ms": 2,
             "duration_ms": {"triggerExecution": 100 + i, "addBatch": 50,
                             "queryPlanning": 10, "walCommit": 5,
                             "commitOffsets": 5}} for i in range(4)]
    ok = {"error": None, "fed": 40, "emitted": 40, "state_matches": True}
    return {"spans": [[0, "closed", "build", 0.0, 1.0],
                      [0, "recompute-open", "exec", 1.0, 2.0],
                      [0, "open", "release", 2.0, 2.5]],
            "cpus": 4, "counters": {"0|closed|stream": {"tasks": 8, "task_s": 1.0}},
            "closed": {"progress": prog}, "open": {"progress": prog,
                                                   "latency_ms": [5.0, 7.0],
                                                   "collect_ms": [1.0]},
            "checks": [dict(ok, loop="closed"), dict(ok, loop="open")],
            "rounds_s": [2.0, 1.0, 1.2], "cold_rows": 10, "round_rows": 10,
            "batch_rows": 10,
            "open_s": 2.0, "generator": {"backlog_rows_max": 3, "late_events": 0},
            "setup_s": [3.0, 1.0, 1.1], "peak_heap_mb": 100.0, "listener_s": 0.01}


class MetricNames(unittest.TestCase):
    """Every workload reports exactly the metrics BENCHMARK.json names."""

    def setUp(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to the benchmark")
        with open(path) as f:
            self.bench = json.load(f)

    def check(self, e2e, layers, raw):
        self.assertEqual([m["name"] for m in self.bench["end_to_end"]],
                         [k for k, _ in run.E2E])
        self.assertEqual(set(e2e), {k for k, _ in run.E2E})
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]},
                         {k: u for k, (_, u) in run.run_layers(raw, layers).items()})

    def test_batch(self):
        raw = _batch_raw()
        with contextlib.redirect_stderr(io.StringIO()):
            e2e, layers, attempted, failed = run.batch_metrics(raw, "unused")
        self.assertEqual((attempted, failed), (3, 1))  # q has no oracle
        self.assertAlmostEqual(e2e["pass_s"], 4.0)
        self.check(e2e, layers, raw)

    def test_stream(self):
        raw = _stream_raw()
        e2e, layers, attempted, failed = run.stream_metrics(raw)
        self.assertEqual((attempted, failed), (8, 0))
        self.assertAlmostEqual(e2e["pass_s"], 1.1)
        self.check(e2e, layers, raw)


if __name__ == "__main__":
    unittest.main()
