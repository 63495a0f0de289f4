#!/usr/bin/env python3
"""The benchmark's own test, at tiny size.

    python3 perfbench/test_bench.py          # all, ~3 min (builds on first use)
    python3 perfbench/test_bench.py -k Fast  # checks and generators only

The fast cases exercise the generators and the output checks on synthetic
run records. The slow cases run the benchmark end to end on a 500-product
catalogue and on a few cheap queries of the shipped sf0.01 corpus.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402


def query_op(name, checksum="7", ok=True, missed=False, wall=10.0):
    return {"op": f"query-{name}", "kind": "query", "name": name, "phase": "measure",
            "family": "EvalQueries", "wall_ms": wall, "cpu_ms": 5.0,
            "gc_ms": 0.0, "ok": ok, "deadline_missed": missed, "rows": 1,
            "checksum": checksum}


class Fast(unittest.TestCase):
    def test_same_seed_same_stream_other_seed_other_stream(self):
        self.assertEqual(gen.request_stream(5, 500), gen.request_stream(5, 500))
        self.assertNotEqual(gen.request_stream(5, 500), gen.request_stream(6, 500))
        with tempfile.TemporaryDirectory() as d:
            a = gen.write_catalog(5, os.path.join(d, "a"), n=300, dim=16)
            b = gen.write_catalog(5, os.path.join(d, "b"), n=300, dim=16)
            c = gen.write_catalog(6, os.path.join(d, "c"), n=300, dim=16)
            self.assertTrue((a == b).all())
            self.assertFalse((a == c).all())

    def test_stream_phrases_carry_a_budget(self):
        for _, text, qs in gen.request_stream(1, 100, n_requests=20):
            self.assertRegex(text, r" under \$\d+$")
            self.assertEqual(len(qs), 3)
            self.assertTrue(all(1 <= r <= 10 for r, _ in qs))

    def test_corrupted_expected_checksum_is_a_failed_operation(self):
        rec = {"ops": [query_op("q140_auc", "7"), query_op("q71_price_deciles", "9")]}
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "registry_sweep.json"), "w") as f:
                json.dump({"q140_auc": {"rows": 1, "checksum": "8"},
                           "q71_price_deciles": {"rows": 1, "checksum": "9"}}, f)
            got = metrics.check("registry_sweep", rec, d, {})
        self.assertEqual((got["attempted"], got["failed"]), (2, 1))
        self.assertIn("q140_auc", got["problems"][0])

    def test_missed_deadline_is_failed_and_charged(self):
        rec = {"ops": [query_op("q140_auc"), query_op("q157_itemcf_recommend", None, ok=False,
                                                      missed=True, wall=60000.0)],
               "boot_s": 1.0, "setup_s": [0.5], "measure_cpu_s": 0.01, "peak_heap_mb": 10.0}
        with tempfile.TemporaryDirectory() as d:
            got = metrics.check("heavy_skew", rec, d, {})
        self.assertEqual(got["failed"], 2)  # no expected file: the good one fails too
        m = metrics.end_to_end("heavy_skew", rec)
        self.assertAlmostEqual(m["wall_s"], 60.01)

    def test_metric_sets_have_units(self):
        self.assertIn("setup_s", metrics.END_TO_END)
        for name, unit in metrics.UNITS.items():
            self.assertTrue(unit, name)


def run(*args):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), *args]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    return p, (json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None)


class EndToEnd(unittest.TestCase):
    def assert_metrics(self, p, out, names):
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(out["metrics"]), set(names))
        for name, unit in names.items():
            self.assertEqual(out["metrics"][name]["unit"], unit)
            self.assertIsInstance(out["metrics"][name]["value"], float)
            self.assertIn(f" {name} = ", p.stdout)

    def test_request_path_prints_every_metric(self):
        tiny = ["--workload", "request_path", "--seed", "3", "--seconds", "2",
                "--products", "500"]
        p, out = run(*tiny, "--trace", "0")
        self.assert_metrics(p, out, metrics.END_TO_END)
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        p, out = run(*tiny, "--trace", "1")
        self.assert_metrics(p, out, metrics.PER_LAYER)

    def test_sweep_checks_outputs_and_deadlines(self):
        tiny = ["--workload", "registry_sweep", "--seed", "3", "--seconds", "0.1",
                "--queries", "q140_auc,q71_price_deciles"]
        p, out = run(*tiny, "--trace", "0")
        self.assert_metrics(p, out, metrics.END_TO_END)
        self.assertEqual((out["correct"], out["attempted"], out["failed"]), (True, 2, 0))

        # a deadline no cold query meets: every query fails, charged the deadline
        p, out = run(*tiny, "--trace", "0", "--deadline", "0.05")
        self.assertEqual((out["attempted"], out["failed"]), (2, 2), p.stdout[-2000:])
        self.assertAlmostEqual(out["metrics"]["wall_s"]["value"], 0.1)

    def test_traced_sweep_prints_every_layer_metric(self):
        p, out = run("--workload", "heavy_skew", "--seed", "3", "--seconds", "0.1",
                     "--queries", "q140_auc", "--trace", "1")
        self.assert_metrics(p, out, metrics.PER_LAYER)
        for art in ("suffix_array", "bpe", "copurchase_edges"):
            self.assertIn(f"layer artifacts.{art}_s = ", p.stdout)
        self.assertIn("layer EvalQueries.cpu_s = ", p.stdout)


if __name__ == "__main__":
    unittest.main()
