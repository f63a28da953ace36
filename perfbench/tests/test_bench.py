"""Self-tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import pandas as pd  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

SPEC_PATH = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")


def _batches(seed, out):
    orders = datagen.tables(3, 0.001, ["orders"])["orders"]
    bs = workloads.lake_batches(seed, orders, out, rounds=4)
    return [(pq.read_table(b["merge"]).to_pydict(), b["delete_lo"], b["delete_hi"],
             b["compact"]) for b in bs]


class SeedTest(unittest.TestCase):
    def test_same_seed_same_op_order(self):
        self.assertEqual(workloads.op_orders(5, 8), workloads.op_orders(5, 8))

    def test_different_seed_different_op_order(self):
        self.assertNotEqual(workloads.op_orders(5, 8), workloads.op_orders(6, 8))

    def test_every_pass_is_a_permutation(self):
        for order in workloads.op_orders(9, 7, passes=20):
            self.assertEqual(sorted(order), list(range(7)))

    def test_same_seed_same_batches(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertEqual(_batches(11, a), _batches(11, b))

    def test_different_seed_different_batches(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertNotEqual(_batches(11, a), _batches(12, b))

    def test_batch_keys_are_distinct(self):
        with tempfile.TemporaryDirectory() as a:
            for keys in (bt[0]["o_orderkey"] for bt in _batches(4, a)):
                self.assertEqual(len(keys), len(set(keys)))

    def test_same_seed_same_tables(self):
        a = datagen.tables(21, 0.001)
        b = datagen.tables(21, 0.001)
        for name in datagen.ALL_TABLES:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_make_plan_is_a_function_of_the_seed(self):
        for name in workloads.WORKLOADS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                pa_, bytes_a = workloads.make_plan(name, 7, a)
                pb, bytes_b = workloads.make_plan(name, 7, b)
                self.assertEqual(json.dumps(pa_).replace(a, "W"), json.dumps(pb).replace(b, "W"))
                self.assertEqual(bytes_a, bytes_b)
                for t in workloads.WORKLOADS[name]["tables"]:
                    with open(os.path.join(a, "data", f"{t}.parquet"), "rb") as fa, \
                            open(os.path.join(b, "data", f"{t}.parquet"), "rb") as fb:
                        self.assertEqual(fa.read(), fb.read(), t)
                self.assertEqual(bool(pa_["batches"]), name == "lake_write")

    def test_different_seed_different_tables(self):
        a = datagen.tables(21, 0.001, ["lineitem"])["lineitem"]
        b = datagen.tables(22, 0.001, ["lineitem"])["lineitem"]
        self.assertFalse(a.equals(b))


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile(range(99), 0.9))
        self.assertEqual(metrics.percentile(range(1, 101), 0.9), 90)

    def test_median_needs_twenty(self):
        self.assertIsNone(metrics.percentile(range(19), 0.5))
        self.assertEqual(metrics.percentile(range(1, 21), 0.5), 10)

    def test_empty(self):
        self.assertIsNone(metrics.percentile([], 0.5))


def _res(steady_passes=(2.0, 3.0, 4.0, 9.0)):
    """A minimal harness results record with a cold pass and steady passes."""
    passes, execs, t = [], [], 0
    for i, secs in enumerate((5.0,) + tuple(steady_passes)):
        kind = "cold" if i == 0 else "steady"
        t1 = t + int(secs * 1e6)
        passes.append({"pass": i, "kind": kind, "traced": i % 2 == 1, "t0": t, "t1": t1})
        execs.append({"exec": i, "op": "F/op", "pass": i, "kind": kind, "ok": True,
                      "memo": False, "t0": t, "t1": t1, "ms": secs * 1000, "build_ms": 1.0,
                      "action_ms": secs * 1000 - 1, "gc_ms": 0, "artifact_versions": 0,
                      "codegen": {"compiles": 1, "compile_ms": 2.0, "class_bytes": 3.0}})
        t = t1
    setup = [{"ms": ms, "session_ms": 1.0, "resolve_ms": 2.0} for ms in (9000.0, 1000.0, 1100.0)]
    return {"sections": {"passes": passes, "setup": setup, "cores": 4, "peak_rss_mb": 1000.0,
                         "storage": {"bytes": 500, "files": 3},
                         "jvm": {"launched_us": 0, "main_us": 500000},
                         "jvm_end": {"gc_ms": 10, "peak_heap_mb": 100.0},
                         "probes": {"anchor_ms": [100.0], "resolve_ms": [1.0],
                                    "resolve_hit_ms": [0.1]}},
            "execs": execs, "failures": [], "spans": [], "jobs": [], "stages": [],
            "queries": [], "stream_starts": [], "batches": []}


class MetricsTest(unittest.TestCase):
    def test_every_steady_pass_is_reported_in_order(self):
        p = metrics.passes(_res((2.0, 3.0, 4.0, 9.0)))
        self.assertEqual(p["steady"], [2.0, 3.0, 4.0, 9.0])
        self.assertEqual(p["cold"], [5.0])

    def test_end_to_end(self):
        e = metrics.end_to_end(_res(), ["F/op"], 1000)
        self.assertEqual(e["stored_bytes_ratio"], 0.5)
        self.assertEqual(e["setup_s"], 1.1)
        self.assertEqual(e["cold_pass_s"], 5.0)
        self.assertEqual(e["pass_s"], 3.5)
        self.assertAlmostEqual(e["op_geomean_ms"], 3500.0)

    def test_typical_pass_by_tracing_mode(self):
        res = _res((2.0, 3.0, 4.0, 9.0))  # odd passes traced
        self.assertEqual(metrics.typical_pass_s(res, traced=True), 3.0)
        self.assertEqual(metrics.typical_pass_s(res, traced=False), 6.0)
        self.assertEqual(metrics.per_layer(res)["trace.overhead_ms"], -3000.0)

    def test_op_geomean_weighs_ops_equally(self):
        res = _res()
        res["execs"] += [dict(e, op="F/fast", ms=e["ms"] / 100) for e in res["execs"]]
        self.assertAlmostEqual(metrics.op_geomean(res, ["F/op", "F/fast"]), 350.0)
        self.assertIsNone(metrics.op_geomean(res, ["F/op", "F/missing"]))

    def test_self_time_subtracts_children(self):
        spans = [{"id": 0, "parent": -1, "exec": 0, "name": "op", "t0": 0, "t1": 10000},
                 {"id": 1, "parent": 0, "exec": 0, "name": "build", "t0": 0, "t1": 4000},
                 {"id": 2, "parent": 0, "exec": 0, "name": "action", "t0": 3000, "t1": 9000}]
        s = metrics.self_times(spans)
        self.assertEqual(s["op"], 1.0)
        self.assertEqual(s["build"], 4.0)
        self.assertEqual(s["action"], 6.0)


class SpecTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(SPEC_PATH) as f:
            cls.spec = json.load(f)

    def test_metric_names_and_units_are_valid(self):
        names = [m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]]
        names += [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, metrics.NAME_RE)
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertRegex(m["unit"], metrics.UNIT_RE)
            self.assertIn(m["better"], ("higher", "lower"))

    def test_bounds(self):
        e2e = {m["name"]: m for m in self.spec["end_to_end"]}
        self.assertEqual((e2e["setup_s"]["unit"], e2e["setup_s"]["better"]), ("s", "lower"))
        for m in e2e.values():
            self.assertLessEqual(m["bound"], 0.25)
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))

    def test_workloads_exist(self):
        for w in self.spec["workloads"]:
            self.assertIn(w["name"], workloads.WORKLOADS)

    def test_every_spec_metric_is_computed(self):
        res = _res()
        e2e = metrics.end_to_end(res, ["F/op"], 1000)
        for m in self.spec["end_to_end"]:
            self.assertIsNotNone(e2e.get(m["name"]), m["name"])
        layers = metrics.per_layer(res)
        for m in self.spec["per_layer"]:
            self.assertIn(m["name"], layers)


class LakeModelTest(unittest.TestCase):
    def test_last_writer_wins_minus_deletes(self):
        with tempfile.TemporaryDirectory() as d:
            orders = pd.DataFrame({"o_orderkey": [1, 2, 3, 4], "v": [10, 20, 30, 40]})
            b1 = os.path.join(d, "b1.parquet")
            b2 = os.path.join(d, "b2.parquet")
            pd.DataFrame({"o_orderkey": [2, 5], "v": [21, 50]}).to_parquet(b1)
            pd.DataFrame({"o_orderkey": [2, 3], "v": [22, 31]}).to_parquet(b2)
            batches = [{"merge": b1, "delete_lo": 4, "delete_hi": 4},
                       {"merge": b2, "delete_lo": 3, "delete_hi": 3}]
            got = checks.lake_model(orders, batches, 2, [(True, True), (True, True)])
            self.assertEqual(got["o_orderkey"].tolist(), [1, 2, 5])
            self.assertEqual(got["v"].tolist(), [10, 22, 50])

    def test_compare_rounds_floats(self):
        a = pd.DataFrame({"x": [1.000001], "k": [1]})
        b = pd.DataFrame({"k": [1], "x": [1.0]})
        self.assertIsNone(checks.compare(a, b))
        self.assertIsNotNone(checks.compare(a, pd.DataFrame({"k": [1], "x": [1.1]})))


if __name__ == "__main__":
    unittest.main()
