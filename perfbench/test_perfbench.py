"""The benchmark's own tests.

Run from the repository root: python3 perfbench/test_perfbench.py

- the generator: the same seed writes the same files and ground truth,
  and the ground truth equals a direct recount of the written files;
- the tracer: every task of a traced job is attributed to exactly one
  span (these three run inside the JVM, through `run.py --selftest`);
- the command: every metric it prints is declared in BENCHMARK.json,
  for every workload, traced and untraced (run at a small --scale), and
  a declared metric it did not measure fails the run unless its layer
  is one the workload declares idle.
"""
import json
import os
import subprocess
import sys
import unittest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
RUN = [sys.executable, os.path.join(BENCH_DIR, "run.py")]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class SelfTest(unittest.TestCase):
    def test_generator_and_tracer(self):
        r = subprocess.run(RUN + ["--selftest"], cwd=ROOT,
                           capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:] + r.stdout[-3000:])
        checks = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(len(checks), 3)
        for c in checks:
            with self.subTest(c["name"]):
                self.assertTrue(c["ok"], c["detail"])


class DeclaredMetrics(unittest.TestCase):
    DECLARED = [{"name": "job_s"}, {"name": "report.jobs"},
                {"name": "operators.dedup.pairs"}]

    def setUp(self):
        sys.dont_write_bytecode = True
        sys.path.insert(0, BENCH_DIR)
        import run
        self.declared_metrics = run.declared_metrics

    def test_idle_layer_reads_zero(self):
        got = self.declared_metrics(self.DECLARED,
                                    {"job_s": 1.5, "report.jobs": 2.0},
                                    ["operators."])
        self.assertEqual(got, {"job_s": 1.5, "report.jobs": 2.0,
                               "operators.dedup.pairs": 0.0})

    def test_unmeasured_layer_fails(self):
        with self.assertRaises(SystemExit):
            self.declared_metrics(self.DECLARED, {"job_s": 1.5},
                                  ["operators."])

    def test_undeclared_metric_fails(self):
        with self.assertRaises(SystemExit):
            self.declared_metrics(self.DECLARED,
                                  {"job_s": 1.5, "report.jobs": 2.0,
                                   "report.typo": 1.0}, ["operators."])


class PrintedMetricsAreDeclared(unittest.TestCase):
    def run_bench(self, workload, trace):
        r = subprocess.run(
            RUN + ["--workload", workload, "--seed", "3", "--seconds", "1",
                   "--trace", str(trace), "--scale", "0.05"],
            cwd=ROOT, capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def test_every_workload(self):
        s = spec()
        for w in s["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    out = self.run_bench(w["name"], trace)
                    self.assertEqual(set(out), {"correct", "attempted",
                                                "failed", "metrics"})
                    self.assertTrue(out["correct"])
                    self.assertEqual(out["failed"], 0)
                    self.assertGreaterEqual(out["attempted"], 1)
                    declared = {m["name"]: m["unit"] for m in s[key]}
                    printed = {k: v["unit"] for k, v in out["metrics"].items()}
                    self.assertEqual(printed, declared)
                    for v in out["metrics"].values():
                        self.assertIsInstance(v["value"], (int, float))


if __name__ == "__main__":
    unittest.main()
