"""Self-tests of the benchmark itself (no Spark needed):

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import harness  # noqa: E402
import metrics  # noqa: E402
import serve  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _plan(seed: int) -> list[tuple]:
    orders = {c: [(c * 10 + i, "F") for i in range(3)] for c in range(200)}
    keys = serve.key_space(seed, 200, orders)
    ops = serve.plan_ops(seed, 1, 2, keys, 0, writes=False)
    ops += serve.plan_ops(seed, 2, 4, keys, 10_000)
    return [(op.kind, op.key, op.key2) for op in ops]


class SeedTest(unittest.TestCase):
    def test_same_seed_same_requests_and_keys(self):
        self.assertEqual(_plan(7), _plan(7))
        self.assertNotEqual(_plan(7), _plan(8))

    def test_same_mix_every_seed(self):
        kinds = lambda seed: sorted(k for k, _, _ in _plan(seed))  # noqa: E731
        self.assertEqual(kinds(1), kinds(2))

    def test_reads_and_writes_touch_disjoint_keys(self):
        plan = _plan(3)
        reads = {k for kind, k, _ in plan if kind in serve.READS}
        updates = {k for kind, k, _ in plan if kind in ("update", "txn")}
        self.assertFalse(reads & updates)
        deleted = [k for kind, k, _ in plan if kind == "delete"]
        self.assertEqual(len(deleted), len(set(deleted)))

    def test_same_seed_same_data(self):
        os.makedirs(harness.WORK, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=harness.WORK) as a, \
                tempfile.TemporaryDirectory(dir=harness.WORK) as b:
            gen.generate(a, 5, 0.001)
            gen.generate(b, 5, 0.001)
            names = sorted(os.listdir(a))
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))


class PercentileTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertEqual(stats.percentile(list(range(100)), 90), 89)
        self.assertIsNone(stats.percentile(list(range(99)), 90))
        self.assertIsNone(stats.percentile(list(range(10)), 50))
        self.assertEqual(stats.percentile(list(range(20)), 50), 9)

    def test_highest_supported_percentile(self):
        self.assertEqual(stats.highest_percentile(list(range(1000))), (99, 989))
        self.assertEqual(stats.highest_percentile(list(range(50)))[0], 80)
        self.assertEqual(stats.highest_percentile(list(range(45)))[0], 75)
        self.assertIsNone(stats.highest_percentile(list(range(30))))


class WriteGateTest(unittest.TestCase):
    def test_writes_run_alone(self):
        import threading
        import time

        gate, lock = serve.WriteGate(), threading.Lock()
        inside: list[bool] = []  # write flag of each operation in flight
        seen: list[tuple[bool, int, int]] = []

        def op(write: bool) -> None:
            with gate.hold(write):
                with lock:
                    inside.append(write)
                    seen.append((write, len(inside), sum(inside)))
                time.sleep(0.002)
                with lock:
                    inside.remove(write)

        kinds = [i % 4 == 0 for i in range(40)]
        threads = [threading.Thread(target=op, args=(w,)) for w in kinds]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.assertEqual(len(seen), 40)
        for write, n, writes in seen:
            self.assertEqual(writes, 1 if write else 0)
            if write:
                self.assertEqual(n, 1)


class ErrorClassTest(unittest.TestCase):
    def test_known_failures_show_by_name(self):
        cases = [
            ("SparkException: [FAILED_READ_FILE.FILE_NOT_EXIST] Encountered error", "FAILED_READ_FILE.FILE_NOT_EXIST"),
            ("[ARITHMETIC_OVERFLOW] long overflow. Use 'try_add'", "ARITHMETIC_OVERFLOW"),
            ("ArcadeSQLError: expected ), got ','", "ArcadeSQLError"),
            ("workspace changed since begin - transaction conflict, retry", "HTTP_409"),
        ]
        for message, want in cases:
            self.assertEqual(harness.error_class(message, "HTTP_409"), want)


class CatalogueTest(unittest.TestCase):
    def test_names_match_benchmark_json(self):
        self.assertEqual(
            [(m["name"], m["unit"], m["better"], m["bound"]) for m in BENCH["end_to_end"]],
            [(m.name, m.unit, m.better, m.bound) for m in metrics.END_TO_END],
        )
        self.assertEqual(
            [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]],
            [(m.name, m.unit, m.better) for m in metrics.PER_LAYER if m.in_json],
        )
        self.assertEqual([w["name"] for w in BENCH["workloads"]], list(metrics.WORKLOADS))

    def test_printed_names_are_the_catalogue(self):
        e2e = metrics.end_to_end(1.0, 2.0, [("a", 0.1), ("b", 0.2), ("c", 0.3)])
        self.assertEqual(list(e2e), metrics.END_TO_END_NAMES)

    def test_kind_mean(self):
        # kinds weigh equally however many operations each has
        ops = [("fast", 0.1)] * 9 + [("mid", 0.4)] + [("slow", 1.0)] * 3
        self.assertAlmostEqual(metrics.end_to_end(1, 4.0, ops)["kind_mean_ms"], 500.0)
        # failed operations are left out of latency and throughput
        ops = [("a", 0.1), ("a", None), ("b", 0.3), ("c", None)]
        self.assertAlmostEqual(metrics.end_to_end(1, 2.0, ops)["kind_mean_ms"], 200.0)
        self.assertEqual(metrics.end_to_end(1, 2.0, ops)["ok_per_s"], 1.0)
        self.assertEqual(list(tracing.complete({})), [m.name for m in metrics.PER_LAYER])

    def test_every_workload_has_a_reason(self):
        for w in BENCH["workloads"]:
            self.assertTrue(w["why"].strip())
            self.assertNotIn("\n", w["why"])

    def test_every_layer_metric_names_its_target(self):
        for m in metrics.PER_LAYER:
            if m.name in metrics.NO_TARGET:
                self.assertEqual(m.moves, ())
                continue
            self.assertTrue(m.moves, m.name)
            for target in m.moves:
                name, workload = target.split("@")
                self.assertIn(name, metrics.END_TO_END_NAMES)
                self.assertIn(workload, metrics.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
