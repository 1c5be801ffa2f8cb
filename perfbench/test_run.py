"""Smoke tests of the benchmark command, at the tiny size.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Each workload runs once untraced and once traced. The last line must be
the result object with exactly the metrics BENCHMARK.json declares, each
with its declared unit, and the run must be correct. A copy of the
benchmark without the engine's sources must fail without a result.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
QUERY_LAYERS = {"build.s", "build.jobs", "build.tasks", "plan.s", "execute.s",
                "execute.jobs", "execute.tasks", "task_util", "input_mb"}
ETL_LAYERS = {"ingest.s", "ingest.rows_parsed", "ingest.rows_rejected",
              "ingest.reject_ratio", "catalog.s", "load.s", "load.jobs",
              "load.rows_offered", "load.rows_inserted", "load.useful_ratio",
              "load.target_files_read", "load.files_written",
              "load.bytes_written_mb", "store.files_total", "bootstrap_s",
              "noop_rerun_s", "rows_per_s", "store_bytes_per_row"}


def run(cwd, workload, trace, tiny=True):
    cmd = [sys.executable, str(Path(cwd) / "perfbench" / "run.py"),
           "--workload", workload, "--seed", "5", "--seconds", "0",
           "--trace", str(trace)] + (["--tiny"] if tiny else [])
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        p = run(ROOT, workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.strip().split("\n")
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        want = BENCH["per_layer" if trace else "end_to_end"]
        self.assertEqual(list(result["metrics"]), [m["name"] for m in want])
        for m in want:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        report = json.loads(lines[-2])["report"]
        self.assertEqual(report["host"]["seed"], 5)
        self.assertTrue(report["host"]["master"].startswith("local["))
        if trace:
            skipped = QUERY_LAYERS if workload == "etl_incremental" else ETL_LAYERS
            self.assertEqual(set(report["bypassed"]), skipped)
            spans = json.loads(
                (HERE / ".work" / "traces" / f"{workload}-seed5.json").read_text())
            self.assertTrue(spans["spans"])
            self.assertTrue(all(s["workload"] == workload and s["seed"] == 5
                                for s in spans["spans"]))

    def test_workloads(self):
        for w in [x["name"] for x in BENCH["workloads"]]:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    self.check(w, trace)

    def test_fails_without_engine_sources(self):
        bare = HERE / ".work" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns(".work", "target"))
        try:
            p = run(bare, "graph_fixpoint", 0, tiny=False)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
