#!/usr/bin/env python3
"""Tests of the benchmark harness itself. Each test starts a run, so the
file takes a few minutes:

    python3 perfbench/test_bench.py
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


class FailureAccounting(unittest.TestCase):
    def test_failed_operation_is_counted_and_not_timed(self):
        p = run("--workload", "suite-mix", "--seed", "1", "--seconds", "1",
                "--trace", "0", "--inject-fail", "q77_asof_join")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(result["failed"], 1)
        self.assertFalse(result["correct"])
        self.assertGreater(result["attempted"], result["failed"])
        # logged with its name and exception, and its pass dropped from the samples
        self.assertIn("pass 1 q77_asof_join FAILED: java.lang.IllegalStateException",
                      p.stderr)
        self.assertRegex(p.stderr, r"pass 1 wall .* FAILED")
        self.assertNotIn("pass 1 q77_asof_join 0.", p.stderr)


class MissingProgram(unittest.TestCase):
    def test_exits_nonzero_without_a_result(self):
        bare = os.path.join(ROOT, ".bench_work", f"bare-{os.getpid()}")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = run("--workload", "suite-mix", "--seed", "1", "--seconds", "1",
                    "--trace", "0", cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
