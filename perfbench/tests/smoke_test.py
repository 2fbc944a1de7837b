"""Smoke checks of the benchmark command.

    python3 perfbench/tests/smoke_test.py

- A one-workload, one-query run succeeds, checks its output against the
  oracle, and leaves `git status` as it found it: everything the benchmark
  writes is ignored, and BENCH_SELF.json is not touched.
- In a directory holding only BENCHMARK.json and perfbench/ (no graft
  sources), the command fails without printing a result.
- A copy of the checkout at a long path builds and runs: sbt binds a
  unix socket under the build's temp dir, whose path can outgrow the OS
  limit there.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SMOKE = ["--workload", "relational", "--seed", "1", "--seconds", "1",
         "--trace", "0", "--queries", "q06"]


def git_status():
    return subprocess.run(["git", "status", "--porcelain", "--untracked-files=all"],
                          cwd=ROOT, capture_output=True, text=True, check=True).stdout


def copy_checkout(dest):
    """The files a checkout holds, without build output or benchmark state."""
    skip = shutil.ignore_patterns("target", ".bsp", ".cache", ".work", "results",
                                  "__pycache__", ".git")
    os.makedirs(dest)
    for name in ("build.sbt", "BENCHMARK.json"):
        shutil.copy(os.path.join(ROOT, name), dest)
    for name in ("project", "src", "perfbench"):
        shutil.copytree(os.path.join(ROOT, name), os.path.join(dest, name), ignore=skip)


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class SmokeTest(unittest.TestCase):
    def test_one_query_run_leaves_tree_clean(self):
        if not os.path.isdir(os.path.join(ROOT, ".git")):
            self.skipTest("not a git checkout")
        before = git_status()
        bench_self = os.path.join(ROOT, "BENCH_SELF.json")
        self_before = digest(bench_self) if os.path.exists(bench_self) else None
        r = subprocess.run([sys.executable, "perfbench/run.py"] + SMOKE, cwd=ROOT,
                           capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], r.stderr[-3000:])
        self.assertEqual(git_status(), before)
        if self_before is not None:
            self.assertEqual(digest(bench_self), self_before)

    def test_fails_without_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".cache", ".work", "results",
                                                          "target", "project"))
            shutil.copytree(os.path.join(ROOT, "perfbench", "project"),
                            os.path.join(d, "perfbench", "project"),
                            ignore=shutil.ignore_patterns("target", "project"))
            r = subprocess.run([sys.executable, "perfbench/run.py"] + SMOKE, cwd=d,
                               capture_output=True, text=True, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")

    def test_builds_at_long_path(self):
        with tempfile.TemporaryDirectory() as d:
            checkout = os.path.join(d, "a-checkout-path-long-enough-that-the-sbt-boot-socket-"
                                       "under-it-exceeds-the-unix-socket-limit", "repo")
            copy_checkout(checkout)
            r = subprocess.run([sys.executable, "perfbench/run.py"] + SMOKE, cwd=checkout,
                               capture_output=True, text=True, timeout=900)
            self.assertEqual(r.returncode, 0, r.stderr[-3000:])
            result = json.loads(r.stdout.strip().splitlines()[-1])
            self.assertTrue(result["correct"], r.stderr[-3000:])


if __name__ == "__main__":
    unittest.main()
