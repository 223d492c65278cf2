"""Tests of the benchmark command itself. Run from the checkout root:

    python3 -m unittest perfbench/test_run.py

The planted-failure case runs the analytics_sweep workload once (about a
minute, plus the build on a fresh checkout).
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN = ["perfbench/run.py", "--seed", "1", "--seconds", "2", "--trace", "0"]


def run(cwd, *extra):
    return subprocess.run([sys.executable, *RUN, *extra], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


class CommandTest(unittest.TestCase):
    def test_planted_failure_is_counted_and_fails_the_command(self):
        p = run(ROOT, "--workload", "analytics_sweep", "--plant-failure")
        self.assertNotEqual(p.returncode, 0, p.stderr[-2000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(last["failed"], 1)
        self.assertGreater(last["attempted"], 1)
        detail = json.loads(p.stdout.strip().splitlines()[-2].split(": ", 1)[1])
        self.assertTrue(detail["failures"][0].startswith("q1_pricing_summary: IllegalStateException"))

    def test_without_program_sources_it_fails_fast_and_prints_no_result(self):
        bare = ROOT / ".bench_build" / "tmp" / "bare-checkout"
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns("project/target", "project/project"))
        shutil.copy(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
        try:
            p = run(bare, "--workload", "doc_chat_refresh")
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
