#!/usr/bin/env python3
"""The benchmark's own test, on small inputs derived from the sf0.001 fixture.

Run from the root of a checkout:

    python3 perfbench/test_smoke.py

For every workload it runs the benchmark untraced and traced and checks that
every named metric of BENCHMARK.json is printed with its unit and that every
output checked correct. It then gives the check a deliberately wrong expected
hash and requires the run to fail. It also checks that two traced runs with
the same seed count the same jobs, stages, tasks, shuffle records and state
rows (and shuffle bytes within 0.1%), that a run leaves no generated input or artifact behind, and that
the benchmark fails without printing a result where the library is absent.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RUN = [sys.executable, os.path.join(BENCH, "run.py")]

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

EXACT = ["sched.jobs", "sched.stages", "sched.tasks", "shuffle.records", "stream.state_rows"]
# shuffle blocks are lz4-compressed; jobs the library runs concurrently
# (overlapped staged writes, parallel index fits) can deliver rows in
# another order, which moves the compressed size by a few bytes
NEAR = ["shuffle.write_bytes", "shuffle.read_bytes"]


def bench(workload, trace, seed=1, extra=()):
    p = subprocess.run(RUN + ["--workload", workload, "--seed", str(seed), "--seconds", "1",
                              "--trace", str(trace), "--smoke", *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last), p.stderr


class Smoke(unittest.TestCase):

    def check_metrics(self, result, group):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        for m in SPEC[group]:
            self.assertIn(m["name"], result["metrics"])
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_every_workload_prints_every_metric(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w):
                code, res, err = bench(w["name"], 0)
                self.assertEqual(code, 0, err[-2000:])
                self.check_metrics(res, "end_to_end")
                for m in SPEC["end_to_end"]:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])
                code, res, err = bench(w["name"], 1)
                self.assertEqual(code, 0, err[-2000:])
                self.check_metrics(res, "per_layer")

    def test_traced_counts_repeat(self):
        w = SPEC["workloads"][-1]["name"]
        runs = [bench(w, 1, seed=3) for _ in range(2)]
        for code, _, err in runs:
            self.assertEqual(code, 0, err[-2000:])
        a, b = (r[1]["metrics"] for r in runs)
        for m in EXACT:
            self.assertEqual(a[m]["value"], b[m]["value"], m)
        for m in NEAR:
            self.assertAlmostEqual(a[m]["value"], b[m]["value"], delta=0.001 * a[m]["value"], msg=m)

    def test_wrong_expected_hash_fails(self):
        code, res, _ = bench("curate_batch", 0, extra=("--expected-hash", "q_text_stats=0000000000000000"))
        self.assertNotEqual(code, 0)
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)

    def test_fails_without_the_library(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "curate_batch",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")

    def test_run_leaves_no_inputs_or_artifacts(self):
        build = os.path.join(ROOT, ".bench_build")
        left = [d for d in os.listdir(build) if d.startswith("run-")] if os.path.isdir(build) else []
        self.assertEqual(left, [])


if __name__ == "__main__":
    unittest.main(verbosity=2)
