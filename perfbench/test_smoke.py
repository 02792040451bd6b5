#!/usr/bin/env python3
"""The benchmark's own tests: each workload in --smoke mode, traced and
untraced, must pass every correctness check and print every metric named in
BENCHMARK.json with its unit; an operation cut by the run's deadline must
count as failed while the run still prints its result; and without the
engine next to it the command must fail without printing a result.

    python3 perfbench/test_smoke.py        # from the checkout root, ~3 min
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] +
                          list(args), cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, timeout=900)


class SmokeTest(unittest.TestCase):

    def test_spec_matches_the_metrics_run_py_prints(self):
        self.assertEqual([(m["name"], m["unit"]) for m in SPEC["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in SPEC["per_layer"]], run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in SPEC["workloads"]), sorted(run.WORKLOADS))

    def test_every_workload_checks_out_and_prints_every_metric(self):
        for w in sorted(run.WORKLOADS):
            for trace, expected in (("0", SPEC["end_to_end"]), ("1", SPEC["per_layer"])):
                with self.subTest(workload=w, trace=trace):
                    r = bench("--workload", w, "--seed", "1", "--seconds", "1",
                              "--trace", trace, "--smoke")
                    self.assertEqual(r.returncode, 0, r.stderr[-3000:])
                    lines = r.stdout.strip().splitlines()
                    res = json.loads(lines[-1])
                    self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
                    self.assertTrue(res["correct"], r.stdout + r.stderr[-3000:])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                                     {m["name"]: m["unit"] for m in expected})
                    for m in expected:
                        self.assertTrue(any(ln.split()[1:2] == [m["name"]] and
                                            ln.split()[-1] == m["unit"] for ln in lines[:-1]),
                                        f"{m['name']} not printed with its unit")
                    if trace == "0":
                        for m in expected:
                            self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])

    def test_an_operation_cut_by_the_deadline_counts_as_failed(self):
        # The smoke parafac JVM needs about 25 s; a 12 s deadline cuts it
        # (or, on a slow host, leaves no time for any operation).
        r = bench("--workload", "parafac", "--seed", "1", "--seconds", "1",
                  "--trace", "0", "--smoke", "--deadline", "12")
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        res = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        self.assertEqual(res["attempted"], 7)
        self.assertGreaterEqual(res["failed"], 1)
        self.assertIn("FAILED: timeout", r.stderr)

    def test_without_the_engine_it_fails_without_a_result(self):
        bare = os.path.join(run.WORK, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
        try:
            r = bench("--workload", "parafac", "--seed", "1", "--seconds", "1",
                      "--trace", "0", cwd=bare)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"metrics"', r.stdout)
        finally:
            shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main()
