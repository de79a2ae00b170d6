"""Self-test of the benchmark at the smallest scale (sf0.001-sized inputs).

Run from the repository root:  python3 -m unittest discover -s perfbench/tests -v

It checks that the percentile helper is nearest-rank, that every metric named
in BENCHMARK.json is printed with its unit, and that one seed always yields
the same input digest while another seed yields a different one. The
end-to-end cases start the real harness (a few JVM runs, a few minutes).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import stats  # noqa: E402


def run(workload, seed, trace):
    """Runs the harness at tiny scale; returns (last-line result, report)."""
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny", "--setups", "2"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd[1:])} exited {p.returncode}: {p.stderr[-2000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    out = os.path.join(BENCH, "out", f"{workload}-seed{seed}-trace{trace}")
    with open(os.path.join(out, "report.json")) as fh:
        return result, json.load(fh)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_on_fixed_arrays(self):
        xs = [15, 20, 35, 40, 50]
        self.assertEqual([stats.percentile(xs, p) for p in (5, 30, 40, 50, 100)],
                         [15, 20, 20, 35, 50])
        ys = [3, 6, 7, 8, 8, 10, 13, 15, 16, 20]
        self.assertEqual([stats.percentile(ys, p) for p in (25, 50, 75, 100)],
                         [7, 8, 15, 20])
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)
        self.assertEqual(stats.percentile(list(range(100, 0, -1)), 91), 91)
        self.assertEqual(stats.median([7.5]), 7.5)
        self.assertEqual(stats.median([2, 1]), 1)

    def test_rejects_bad_input(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.percentile([1], 0)


class EndToEndTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)

    def assert_metrics(self, result, names):
        self.assertTrue(result["correct"], result)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in names})
        units = {m["name"]: m["unit"] for m in names}
        for name, v in result["metrics"].items():
            self.assertEqual(v["unit"], units[name])
            self.assertIsInstance(v["value"], (int, float))

    def test_every_workload_prints_every_metric(self):
        for w in [x["name"] for x in self.spec["workloads"]]:
            with self.subTest(workload=w):
                result, report = run(w, 7, 0)
                self.assert_metrics(result, self.spec["end_to_end"])
                self.assertGreater(report["samples"]["ops"], 0)
                self.assertIn("contaminated", report["host"])
                result, report = run(w, 7, 1)
                self.assert_metrics(result, self.spec["per_layer"])
                self.assertTrue(report["trace"]["reconciled"], report["trace"])

    def test_olap_matches_duckdb(self):
        result, report = run("olap", 7, 0)
        self.assertTrue(result["correct"], report["checks"])
        self.assertTrue(any(c["name"].endswith(".duckdb_oracle") for c in report["checks"]))

    def test_seed_fixes_the_inputs(self):
        w = self.spec["workloads"][0]["name"]
        _, a = run(w, 21, 0)
        _, b = run(w, 21, 0)
        _, c = run(w, 22, 0)
        self.assertEqual(a["input_digest"], b["input_digest"])
        self.assertNotEqual(a["input_digest"], c["input_digest"])


if __name__ == "__main__":
    unittest.main()
