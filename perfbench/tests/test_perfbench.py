"""The benchmark's own tests. Each runs the real command at a smoke size.

    python3 -m unittest discover -s perfbench/tests -v

Run from the repository root. The first test to run builds the harness.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SEED = 7


def run(workload, trace=0, corrupt=0, cwd=ROOT, script=None, seconds=1):
    cmd = [sys.executable, script or os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", str(seconds), "--trace", str(trace)]
    if corrupt:
        cmd += ["--corrupt", "1"]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p, last


class SmokeTest(unittest.TestCase):
    def test_every_workload_end_to_end(self):
        """Every declared workload runs, passes its checks, and prints
        exactly the declared end-to-end metrics with their units."""
        declared = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        self.assertEqual(sorted(WORKLOADS), sorted(workloads.WORKLOADS))
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p, out = run(w)
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(out["correct"])
                self.assertGreaterEqual(out["attempted"], 1)
                self.assertEqual(out["failed"], 0)
                self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, declared)
                for k, v in out["metrics"].items():
                    self.assertGreater(v["value"], 0, k)

    def test_traced_run_prints_declared_layer_metrics(self):
        """Every per-layer figure the harness computes is declared in
        BENCHMARK.json (run.py refuses an undeclared one), and the traced
        run prints every declared per-layer metric."""
        declared = {m["name"] for m in SPEC["per_layer"]}
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p, out = run(w, trace=1)
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                self.assertEqual(set(out["metrics"]), declared)
                self.assertGreater(out["metrics"]["spark.jobs"]["value"], 0)


class CorrectnessCheckTest(unittest.TestCase):
    CHECKS = {
        "ask": ["ask.batched_payload_complete", "ask.answer_recall", "ask.batch_invariance"],
        "ingest": ["ingest.replay_noop", "ingest.full_probe_equals_exact", "ingest.exactly_once"],
    }

    def test_each_check_fails_on_corrupted_expected_output(self):
        """With every expected output perturbed, each of a workload's checks
        fails; the run reports correct=false, counts a failure and exits
        non-zero."""
        self.assertEqual(sorted(self.CHECKS), sorted(WORKLOADS))
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p, out = run(w, corrupt=1)
                self.assertEqual(p.returncode, 1, p.stderr[-3000:])
                self.assertFalse(out["correct"])
                self.assertGreaterEqual(out["failed"], 1)
                for check in self.CHECKS[w]:
                    self.assertIn(f"CHECK FAILED {check}", p.stderr)


class HygieneTest(unittest.TestCase):
    def test_run_leaves_no_index_checkpoint_or_staging_dirs(self):
        run(WORKLOADS[0])  # builds, if the sources changed
        tmp = tempfile.gettempdir()
        before = set(os.listdir(tmp)), set(os.listdir(ROOT))
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p, _ = run(w)
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                work = os.path.join(BENCH, ".work")
                self.assertFalse(os.path.exists(os.path.join(work, "run")))
                self.assertLessEqual(set(os.listdir(work)), {"inputs", "jvm.log", "spans.json"})
                for d in os.listdir(os.path.join(work, "inputs")):
                    for f in os.listdir(os.path.join(work, "inputs", d)):
                        self.assertTrue(f.endswith(".parquet") or f == "_DONE", f)
        self.assertEqual((set(os.listdir(tmp)), set(os.listdir(ROOT))), before)

    def test_fails_without_engine_sources(self):
        """In a directory holding only BENCHMARK.json and the benchmark's
        own files, the command exits non-zero and prints no result."""
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
            p, out = run(WORKLOADS[0], cwd=d, script=os.path.join(d, "perfbench", "run.py"))
            self.assertNotEqual(p.returncode, 0)
            self.assertIsNone(out)


if __name__ == "__main__":
    unittest.main()
