#!/usr/bin/env python3
"""Self-tests of the benchmark's own code (not of the engine).

    python3 perfbench/selftest.py            # fast checks, a few seconds
    PERFBENCH_SELFTEST_RUNS=1 python3 perfbench/selftest.py
                                             # also one traced and one
                                             # untraced run per workload

The slow mode checks the emitted metric names against BENCHMARK.json on
real runs; it needs the engine sources and a JDK, and takes ~6 minutes.
"""
import csv
import filecmp
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Generator(unittest.TestCase):

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            for kind, small in (("flights", (60,)), ("corpus", (50, 40, 300))):
                fn = getattr(gen, kind)
                a, b, c = (os.path.join(d, kind + x) for x in "abc")
                fn(a, 7, *small)
                fn(b, 7, *small)
                fn(c, 8, *small)
                names = sorted(os.listdir(a))
                _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), kind)
                _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
                self.assertTrue(differ, kind + ": seed does not matter")

    def test_flight_mix_matches_reference_shape(self):
        with tempfile.TemporaryDirectory() as d:
            sizes = gen.flights(d, 3)
            with open(os.path.join(d, "month.csv")) as f:
                rows = list(csv.DictReader(f))
            n = len(rows)
            self.assertEqual(n, sizes["month"][0])
            self.assertAlmostEqual(n / 31, gen.DEFAULT_ROWS_PER_DAY, delta=60)
            rate = lambda pred: sum(1 for r in rows if pred(r)) / n
            self.assertAlmostEqual(rate(lambda r: r["CANCELLED"] == "1.0"),
                                   0.030, delta=0.006)
            self.assertAlmostEqual(rate(lambda r: r["DIVERTED"] == "1.0"),
                                   0.0022, delta=0.0015)
            self.assertAlmostEqual(
                rate(lambda r: r["DEP_DELAY"] != "" and
                     float(r["DEP_DELAY"]) >= 15), 0.33, delta=0.03)
            self.assertAlmostEqual(rate(lambda r: r["DEP_TIME"] == ""),
                                   0.03, delta=0.01)
            self.assertGreater(rate(lambda r: len(r["CRS_DEP_TIME"]) == 3), 0.01)
            self.assertGreaterEqual(len({r["OP_UNIQUE_CARRIER"] for r in rows}), 15)
            key = {(r["FL_DATE"], r["OP_UNIQUE_CARRIER"], r["OP_CARRIER_FL_NUM"],
                    r["ORIGIN"].upper(), r["CRS_DEP_TIME"]) for r in rows}
            self.assertEqual(len(key), n, "silver merge key not unique")
            with open(os.path.join(d, "L_AIRPORT_ID.csv")) as f:
                lookup = {r["Code"] for r in csv.DictReader(f)}
            used = {r["ORIGIN_AIRPORT_ID"] for r in rows}
            self.assertTrue(used - lookup, "no flight misses the lookup")
            self.assertTrue(lookup - used, "no dangling lookup code")
            self.assertGreaterEqual(len(lookup), 340)
            with open(os.path.join(d, "delta.csv")) as f:
                delta = list(csv.DictReader(f))
            self.assertEqual({r["FL_DATE"].split("/")[0] for r in delta}, {"2"})


class Percentiles(unittest.TestCase):

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(run.percentile(xs, 50), 50)
        self.assertEqual(run.percentile(xs, 90), 90)
        self.assertEqual(run.percentile(reversed(xs), 99), 99)
        self.assertEqual(run.percentile([4.0], 50), 4.0)
        self.assertEqual(run.percentile([3, 1, 2], 50), 2)

    def test_reported_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(run.tail_percentile(19))
        self.assertEqual(run.tail_percentile(20), 50)
        self.assertEqual(run.tail_percentile(99), 50)
        self.assertEqual(run.tail_percentile(100), 90)
        self.assertEqual(run.tail_percentile(1000), 99)
        self.assertEqual(run.tail_percentile(10000), 99.9)


class Names(unittest.TestCase):

    def test_benchmark_json_shape(self):
        b = spec()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
                 for m in b[k]]
        self.assertEqual(len(names), len(set(names)))
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
        self.assertTrue(all(0 < v <= 0.25 for v in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))

    def test_end_to_end_names_are_exactly_the_emitted_ones(self):
        want = {m["name"] for m in spec()["end_to_end"]}
        etl = {"ops": [{"name": p, "ms": 1000.0 * i, "ok": True} for i, p in
                       enumerate(("build", "fold", "refold"), 1)],
               "month_rows": 100, "peak_rss_mb": 1.0}
        corpus = {"ops": [{"name": "q", "ms": 5.0, "ok": True}] * 18,
                  "passes_s": [1.0], "peak_rss_mb": 1.0}
        for w, res in (("etl_month", etl), ("corpus_ops", corpus)):
            metrics, _, attempted, failed = run.summarize(w, res, [])
            metrics["setup_s"] = 1.0   # added by main() for every run
            self.assertEqual(set(metrics), want, w)
            self.assertTrue(all(v > 0 for v in metrics.values()), w)
            self.assertEqual(failed, 0)

    def test_every_per_layer_name_belongs_to_a_layer(self):
        layers = ("cli.", "pipeline.", "quality.", "core.", "queries.",
                  "operators.", "spark.", "trace.")
        for m in spec()["per_layer"]:
            self.assertTrue(m["name"].startswith(layers), m["name"])


@unittest.skipUnless(os.environ.get("PERFBENCH_SELFTEST_RUNS"),
                     "set PERFBENCH_SELFTEST_RUNS=1 for real runs")
class RealRuns(unittest.TestCase):

    def test_runs_emit_exactly_the_declared_metrics(self):
        b = spec()
        for w in run.WORKLOADS:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                r = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"),
                     "--workload", w, "--seed", "5", "--seconds", "1",
                     "--trace", str(trace)], cwd=run.ROOT,
                    capture_output=True, text=True, timeout=900)
                self.assertEqual(r.returncode, 0, r.stderr[-2000:])
                last = json.loads(r.stdout.strip().splitlines()[-1])
                self.assertEqual(set(last), {"correct", "attempted", "failed",
                                             "metrics"})
                self.assertTrue(last["correct"])
                self.assertEqual(set(last["metrics"]),
                                 {m["name"] for m in b[key]}, (w, trace))


if __name__ == "__main__":
    unittest.main()
