"""Tests for the benchmark's own helpers: the tail-percentile rule, the
report schema against BENCHMARK.json and the harness's emitters, and the
oracle result hash.

Run from the repository root: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import re
import unittest
from decimal import Decimal

import pandas as pd

import oracle
import run

SCALA = os.path.join(run.HERE, "src", "main", "scala", "perfbench")


def fake_result():
    """A result file as perfbench.Main writes it, with every layer key the
    Scala emitters produce (read from their source, so a renamed key fails
    here rather than in a benchmark run)."""
    layers = {}
    for f in ("Layers.scala", "Live.scala"):
        with open(os.path.join(SCALA, f)) as fh:
            for key in re.findall(r'"((?:sources|streaming|state|sink|serve|plan|exec|replay)\.[a-z0-9_]+)" ->',
                                  fh.read()):
                layers[key] = [5.0, 7.0, 9.0] if key.endswith("_ms") and key.split(".")[0] in (
                    "streaming", "serve") or key == "sources.publish_job_ms" else 3
    ms = [float(x) for x in range(1, 101)]
    return {
        "setup_s": 30.5, "rss_peak_mb": 1500.0,
        "canary": {"st_s": [0.25, 0.26], "mt_s": [0.15, 0.14]},
        "samples": {"publish_ms": ms, "visible_ms": ms, "gen_late_ms": ms, "sse_gap_ms": ms},
        "catchup": {"events": 3000, "seconds": 2.0},
        "driver": {"batch_s": 4.0, "replay_s": 2.0, "queries": []},
        "ops": {"publishes": 40, "publish_failed": 0, "not_visible": 0, "frames": 12,
                "frames_missed": 0, "query_runs": 6, "query_failed": 0},
        "checks": [], "jvm": {"gc_s": 1.0, "jit_s": 50.0, "classes_loaded": 30000},
        "layers": layers,
    }


class TailRule(unittest.TestCase):
    def test_named_percentile_when_enough_samples(self):
        self.assertEqual(run.tail_rank(1000, 99), 99.0)
        self.assertEqual(run.tail_rank(5000, 99), 99.0)
        self.assertEqual(run.tail_rank(100, 90), 90.0)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertAlmostEqual(run.tail_rank(100, 99), 90.0)
        self.assertAlmostEqual(run.tail_rank(40, 99), 75.0)
        self.assertAlmostEqual(run.tail_rank(50, 90), 80.0)
        for n in range(20, 2000, 7):
            p = run.tail_rank(n, 99)
            self.assertGreaterEqual(n * (1 - p / 100) + 1e-9, 10, n)
            # and no higher percentile would still leave ten beyond it
            if p < 99:
                self.assertLess(n * (1 - (p + 0.5) / 100), 10, n)

    def test_never_below_median(self):
        self.assertEqual(run.tail_rank(12, 99), 50.0)
        self.assertEqual(run.tail_rank(1, 99), 50.0)
        self.assertIsNone(run.tail_rank(0, 99))

    def test_tail_reports_percentile_and_count(self):
        v, p, n = run.tail([float(x) for x in range(1, 101)], 99)
        self.assertEqual((p, n), (90.0, 100))
        self.assertAlmostEqual(v, 90.1)

    def test_percentile_interpolates(self):
        self.assertEqual(run.percentile([3.0, 1.0, 2.0], 50), 2.0)
        self.assertEqual(run.percentile([1.0, 2.0], 50), 1.5)
        self.assertEqual(run.percentile([7.0], 99), 7.0)


class ReportSchema(unittest.TestCase):
    spec = run.load_spec()

    def test_spec_shape(self):
        self.assertEqual(set(self.spec), {"command", "paths", "run_seconds", "workloads",
                                          "end_to_end", "per_layer"})
        names = [m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", names)
        for m in self.spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup_bound = [m["bound"] for m in self.spec["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup_bound, max(m["bound"] for m in self.spec["end_to_end"]))

    def test_every_end_to_end_metric_printed_with_unit(self):
        e2e, notes = run.end_to_end(fake_result())
        metrics, missing = run.report(self.spec["end_to_end"], e2e)
        self.assertEqual(missing, [])
        for m in self.spec["end_to_end"]:
            self.assertEqual(metrics[m["name"]]["unit"], m["unit"])
            self.assertTrue(math.isfinite(metrics[m["name"]]["value"]))
        self.assertEqual(notes["sse_gap_p90_ms"], {"percentile": 90.0, "samples": 100})

    def test_every_per_layer_metric_printed_with_unit(self):
        res = fake_result()
        layer = run.per_layer(res, failed=1, attempted=58)
        metrics, missing = run.report(self.spec["per_layer"], layer)
        self.assertEqual(missing, [])
        self.assertEqual(set(metrics), {m["name"] for m in self.spec["per_layer"]})
        self.assertAlmostEqual(metrics["failed_frac"]["value"], 1 / 58)

    def test_missing_metric_is_reported(self):
        metrics, missing = run.report(self.spec["end_to_end"], {"setup_s": 1.0})
        self.assertIn("batch_s", missing)
        self.assertIsNone(metrics["batch_s"]["value"])

    def test_layer_map_names_only_catalogued_metrics(self):
        with open(os.path.join(run.HERE, "layers.json")) as f:
            layers = json.load(f)["layers"]
        per = {m["name"] for m in self.spec["per_layer"]}
        e2e = {m["name"] for m in self.spec["end_to_end"]} | {
            n for n in per if n.startswith(("visible_", "publish_"))}
        workloads = {w["name"] for w in self.spec["workloads"]}
        mapped = set()
        for layer in layers:
            mapped |= set(layer["metrics"])
            self.assertLessEqual(set(layer["metrics"]), per, layer["layer"])
            for move in layer["moves"]:
                self.assertIn(move["metric"], e2e)
                self.assertLessEqual(set(move["workloads"]), workloads)
        self.assertEqual(mapped, per)


class OracleHash(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = pd.DataFrame({"k": ["x", "y"], "n": [1, 2]})
        b = pd.DataFrame({"n": [2, 1], "k": ["y", "x"]})
        self.assertEqual(oracle.frame_hash(a), oracle.frame_hash(b))

    def test_values_and_dtypes_matter(self):
        a = pd.DataFrame({"v": [Decimal("1.50")]})
        self.assertEqual(oracle.frame_hash(a), oracle.frame_hash(pd.DataFrame({"v": [Decimal("1.5")]})))
        self.assertNotEqual(oracle.frame_hash(a), oracle.frame_hash(pd.DataFrame({"v": [1.5]})))
        self.assertNotEqual(oracle.frame_hash(pd.DataFrame({"v": [1.0]})),
                            oracle.frame_hash(pd.DataFrame({"v": [1.0000000001]})))

    def test_nan_is_null_only_outside_float_columns(self):
        obj_nan = pd.DataFrame({"v": pd.Series([float("nan"), "a"], dtype=object)})
        obj_none = pd.DataFrame({"v": pd.Series([None, "a"], dtype=object)})
        self.assertEqual(oracle.frame_hash(obj_nan), oracle.frame_hash(obj_none))
        self.assertEqual(oracle._cell(float("nan"), True), "nan")


if __name__ == "__main__":
    unittest.main()
