"""Smoke tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

Each test runs `perfbench/run.py --smoke` (tiny inputs, the same code path
and output checks as a measured run) and checks the result line against
BENCHMARK.json: every declared metric, with its unit, and nothing else. The
first test builds the benchmark if it is not built yet.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SEED = 7
# corpus_build stage row counts (dedup survivors, stripped docs, curated
# docs, packed segments) for the smoke input of SEED
PINNED_CORPUS_ROWS = [324, 324, 49, 50]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run_bench(workload, trace, cwd=ROOT, seconds=1):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", str(seconds), "--trace", str(trace),
         "--smoke"],
        cwd=cwd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True, timeout=900)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if lines else None
    return proc, result


class SmokeTest(unittest.TestCase):

    def check_result(self, workload, trace):
        proc, result = run_bench(workload, trace)
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(result["correct"], True)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        declared = SPEC["per_layer" if trace else "end_to_end"]
        want = {m["name"]: m["unit"] for m in declared}
        got = result["metrics"]
        self.assertEqual(set(got), set(want))
        for name, m in got.items():
            self.assertEqual(m["unit"], want[name], name)
            self.assertIsInstance(m["value"], (int, float), name)
            self.assertTrue(math.isfinite(m["value"]), name)
            if not trace:
                self.assertGreater(m["value"], 0, name)
        return {k: v["value"] for k, v in got.items()}

    def test_spec_names_workloads(self):
        names = [w["name"] for w in SPEC["workloads"]]
        self.assertEqual(names, ["ingest_durable", "corpus_build"])
        self.assertIn("setup_s", [m["name"] for m in SPEC["end_to_end"]])

    def test_ingest_durable(self):
        self.check_result("ingest_durable", 0)
        m = self.check_result("ingest_durable", 1)
        # every root is either read by the source or counted as missing
        self.assertEqual(m["sources.rows"] + m["sources.missing_inputs"], 120)
        self.assertGreater(m["classify.calls"], m["sources.rows"])
        self.assertGreater(m["table.commits"], 1)
        self.assertGreater(m["analysis.tags_out"], 0)
        self.assertGreaterEqual(m["trace.attributed_share"], 0.9)

    def test_corpus_build(self):
        self.check_result("corpus_build", 0)
        m = self.check_result("corpus_build", 1)
        # stage outputs for the smoke seed, pinned
        self.assertEqual(
            [m[f"ops.{op}.rows_out"] for op in ("dedup", "strip", "curate", "pack")],
            PINNED_CORPUS_ROWS)
        self.assertGreaterEqual(m["trace.attributed_share"], 0.9)

    def test_refuses_without_program(self):
        """Only BENCHMARK.json and perfbench/ present: no result, non-zero exit."""
        bare = os.path.join(BENCH, ".work", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", ".build", "target", "__pycache__"))
        try:
            proc, result = run_bench("corpus_build", 0, cwd=bare)
            self.assertNotEqual(proc.returncode, 0)
            self.assertIsNone(result)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
