"""Tests of the benchmark itself. Run from the root of the checkout:

  python3 -m unittest discover -s perfbench/tests -v

The smoke runs build the engine first (about a minute) and then take about a
minute per workload.
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT / "perfbench"))
import compare  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


class SelfTest(unittest.TestCase):
    def test_checks_reject_corrupted_answers(self):
        """Every workload's check rejects a corrupted answer (live set,
        stored embedding, DuckDB oracle comparison) and a thrown call counts
        as failed without marking the run incorrect."""
        r = run("--selftest")
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertIn('"selftest": "ok"', r.stdout)


class Smoke(unittest.TestCase):
    def smoke(self, workload, trace):
        r = run("--workload", workload, "--seed", "7", "--seconds", "2", "--trace", str(trace))
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        last = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"])
        self.assertEqual(last["failed"], 0)
        self.assertGreaterEqual(last["attempted"], 1)
        wanted = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(last["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            self.assertEqual(last["metrics"][m["name"]]["unit"], m["unit"])
        if not trace:
            for m in wanted:
                self.assertGreater(last["metrics"][m["name"]]["value"], 0, m["name"])

    def test_ingest_stream_second_seed(self):
        self.smoke("ingest_stream", 0)

    def test_analytics_suite_second_seed(self):
        self.smoke("analytics_suite", 0)

    def test_traced_run_reports_every_layer(self):
        self.smoke("analytics_suite", 1)


class Standalone(unittest.TestCase):
    def test_fails_without_the_engine(self):
        """With only BENCHMARK.json and perfbench/ present the run must fail
        and print no result."""
        (ROOT / ".bench_build").mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(ROOT / "perfbench", Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = run("--workload", "ingest_stream", "--seed", "1", "--seconds", "1",
                    "--trace", "0", cwd=d)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


class Compare(unittest.TestCase):
    def test_verdicts(self):
        base = [100.0, 101.0, 99.0, 100.5, 99.5, 100.2, 99.8, 100.1, 99.9, 100.3]
        self.assertEqual(compare.verdict(base, [x * 1.2 for x in base], "lower", 0.1), "regression")
        self.assertEqual(compare.verdict(base, [x * 0.8 for x in base], "lower", 0.1), "gain")
        self.assertEqual(compare.verdict(base, list(base), "lower", 0.1), "same")
        self.assertEqual(compare.verdict(base, [x * 0.8 for x in base], "higher", 0.1), "regression")
        noisy = [50.0, 150.0, 80.0, 120.0, 60.0, 140.0, 90.0, 110.0, 70.0, 130.0]
        self.assertEqual(compare.verdict(noisy, list(noisy), "lower", 0.1), "unresolved")


if __name__ == "__main__":
    unittest.main()
