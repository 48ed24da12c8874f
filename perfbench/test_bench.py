#!/usr/bin/env python3
"""Tests of the journey benchmark itself. Each test launches the benchmark,
so a run takes minutes. From the root of a checkout:

    python3 perfbench/test_bench.py
"""
import json
import os
import subprocess
import sys
import unittest

BUILD = os.path.abspath(".bench_build")


def run(workload, seed, trace, *extra):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), *extra],
        capture_output=True, text=True, timeout=1200)
    with open(os.path.join(BUILD, "results", f"{workload}-seed{seed}-trace{trace}",
                           "result.json")) as fh:
        return p, json.load(fh)


class FailuresFail(unittest.TestCase):
    def test_throwing_op_is_counted_untimed_and_fails_the_run(self):
        p, res = run("fit_scan", 5, 0, "--fail-op", "moments_cl_month")
        self.assertNotEqual(p.returncode, 0)
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(last["correct"])
        self.assertGreaterEqual(last["failed"], 1)
        self.assertGreater(res["metrics"]["failed_op_ratio"], 0)
        failed = [o for o in res["ops"] if not o["ok"]]
        self.assertTrue(failed and all(o["kind"] == "moments_cl_month" for o in failed))
        # a pass with a failed op is not timed, so no timed pass is left
        self.assertEqual(res["metrics"]["run_s"], 0)


class Determinism(unittest.TestCase):
    # the counters metrics.json marks exact
    def test_same_seed_same_inputs_and_counts(self):
        with open("perfbench/metrics.json") as fh:
            exact = [k for k, v in json.load(fh)["per_layer"].items() if v["exact"]]
        for workload in ["fit_scan", "ingest_daily"]:
            _, a = run(workload, 7, 1)
            _, b = run(workload, 7, 1)
            self.assertEqual(a["inputs"]["sha256"], b["inputs"]["sha256"])
            differ = {k: (a["metrics"][k], b["metrics"][k]) for k in exact
                      if a["metrics"][k] != b["metrics"][k]}
            self.assertEqual(differ, {}, workload)


if __name__ == "__main__":
    unittest.main()
