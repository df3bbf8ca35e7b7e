"""Checks of the benchmark as a whole: BENCHMARK.json agrees with what
run.py prints, a bare copy without the engine refuses to run, and a tiny run
of every workload passes its oracle checks in both modes (about a minute per
run)."""
import json
import os
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def last_json(stdout):
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    return json.loads(lines[-1]) if lines else None


class SpecTest(unittest.TestCase):
    def test_workloads_and_metrics_match_run_py(self):
        self.assertEqual([w["name"] for w in SPEC["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in SPEC["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in SPEC["per_layer"]},
                         run.PER_LAYER_UNITS)
        self.assertEqual(SPEC["command"], ["python3", "perfbench/run.py"])

    def test_setup_metric_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertLessEqual(max(bounds.values()), 0.25)

    def test_bare_copy_fails_without_a_result(self):
        bare = build.build_dir() / "bare-copy-test"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        try:
            shutil.copy(ROOT / "BENCHMARK.json", bare)
            shutil.copytree(HERE, bare / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            env = dict(os.environ, CARGO_TARGET_DIR=".bench_build")
            p = subprocess.run(
                ["python3", "perfbench/run.py", "--workload", "bulk-backfill", "--seed", "1",
                 "--seconds", "1", "--trace", "0"],
                cwd=bare, env=env, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


class SmokeTest(unittest.TestCase):
    def smoke(self, workload, trace):
        p = subprocess.run(
            ["python3", "perfbench/run.py", "--workload", workload, "--seed", "5",
             "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=400)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = last_json(p.stdout)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], p.stdout)
        self.assertEqual(res["failed"], 0)
        self.assertGreater(res["attempted"], 0)
        want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                         {m["name"]: m["unit"] for m in want})
        return res["metrics"], p.stdout

    def test_bulk_backfill(self):
        self.smoke("bulk-backfill", 0)
        metrics, _ = self.smoke("bulk-backfill", 1)
        self.assertEqual(metrics["ingest.corrupt_rows"]["value"], 0)

    def test_steady_tail(self):
        self.smoke("steady-tail", 0)
        metrics, out = self.smoke("steady-tail", 1)
        # two segments carry 4 malformed lines each; all are quarantined
        self.assertEqual(metrics["ingest.corrupt_rows"]["value"], 8)
        self.assertIn("streaming.batch_ms.p50", out)


if __name__ == "__main__":
    unittest.main()
