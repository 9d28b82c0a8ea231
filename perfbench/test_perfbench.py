"""Self-test of the benchmark at a tiny input size.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the repository root (builds graft on first use, then about five
minutes of JVM runs). It checks that every metric BENCHMARK.json names is
emitted with its unit, that all checks pass on the real outputs, and that
the checkers flag damaged outputs.
"""
import json
import os
import subprocess
import sys
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
GENOMICS_CHECKED = {f"sources.{n}" for n in (
    "BamIO.write_unsorted", "Bgzf.inflate", "Bgzf.deflate", "BamIO.scan", "BamIO.pruned_scan",
    "v2.bam_filter_scan", "CramIO.scan", "Vcf.scan_full", "Vcf.scan_sites", "BcfIO.scan_full", "BcfIO.scan_sites",
    "BamIO.region", "CramIO.region", "Vcf.region", "BcfIO.region")}


def bench(workload, *extra):
    """Run one tiny benchmark; returns (report line, result line)."""
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                          "--seed", "7", "--seconds", "1", "--scale", "tiny", *extra],
                         cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class CheckerTest(unittest.TestCase):
    def test_oracle_compare(self):
        df = pd.DataFrame({"b": [2.5, 1.0, 3.0], "a": [3, 1, 2]})
        self.assertEqual(oracle.same(df, df.iloc[::-1]), "ok")  # row order is free
        self.assertNotEqual(oracle.same(df, df.iloc[:-1]), "ok")
        self.assertNotEqual(oracle.same(df, df.assign(b=[2.5, 1.0, 3.5])), "ok")
        self.assertNotEqual(oracle.same(df, df.rename(columns={"a": "c"})), "ok")


class WorkloadTest(unittest.TestCase):
    def test_metrics_and_checks(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                report, result = bench(w, "--trace", "1")
                self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(result["correct"], report["failures"])
                self.assertGreaterEqual(result["attempted"], 1)
                for m in BENCH["per_layer"]:
                    self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"], m["name"])
                for m in BENCH["end_to_end"]:
                    got = report["metrics"][m["name"]]
                    self.assertEqual(got["unit"], m["unit"], m["name"])
                    self.assertGreater(got["value"], 0, m["name"])
                summary = report["span_summary"]
                self.assertTrue(summary, "traced run recorded no spans")
                for name, e in summary.items():
                    # self time is what the children leave uncovered
                    self.assertGreaterEqual(e["self_s"], 0, name)
                    self.assertLessEqual(e["self_s"], e["total_s"] + 1e-9, name)
                # stages are leaves: all their time is self time
                if "stage" in summary:
                    self.assertAlmostEqual(summary["stage"]["self_s"], summary["stage"]["total_s"])

    def test_corrupted_outputs_fail(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                report, result = bench(w, "--trace", "0", "--corrupt")
                self.assertFalse(result["correct"])
                if w == "genomics_io":
                    # the other writes are checked through the reads that follow them
                    self.assertEqual(set(report["failures"]), GENOMICS_CHECKED)
                else:
                    self.assertEqual(result["failed"], result["attempted"], report["failures"])


if __name__ == "__main__":
    unittest.main()
