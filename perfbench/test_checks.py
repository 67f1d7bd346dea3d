#!/usr/bin/env python3
"""Tests of the benchmark's own output checks.

    python3 perfbench/test_checks.py          # comparison helpers only (seconds)
    python3 perfbench/test_checks.py --e2e    # plus planted faults end to end

The --e2e part runs run.py with PERFBENCH_PLANT=1, which makes the program
produce a wrong output on purpose (the filter passes use a stricter rule
threshold than the oracle, one dedup output loses a row, one written plan
file goes missing), and asserts that every planted fault is reported as a
failed check. Run it from the repository root.
"""
import json
import os
import subprocess
import sys
import unittest

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class CompareTables(unittest.TestCase):
    def table(self, a, b):
        return pa.table({"a_id": pa.array(a, pa.int64()), "b_id": pa.array(b, pa.int64())})

    def test_equal_in_any_order(self):
        self.assertIsNone(run.compare_tables(self.table([1, 2], [3, 4]), self.table([2, 1], [4, 3])))

    def test_missing_row(self):
        self.assertIn("row count", run.compare_tables(self.table([1, 2], [3, 4]), self.table([1], [3])))

    def test_changed_value(self):
        self.assertIn("rows differ", run.compare_tables(self.table([1, 2], [3, 4]), self.table([1, 2], [3, 5])))

    def test_type_drift(self):
        got = pa.table({"a_id": pa.array([1], pa.int32()), "b_id": pa.array([3], pa.int64())})
        self.assertIn("types", run.compare_tables(self.table([1], [3]), got))

    def test_union_find_labels_are_component_minimum(self):
        self.assertEqual(run.components([(5, 3), (3, 9), (7, 8)]), {3: 3, 5: 3, 9: 3, 7: 7, 8: 7})


class PickMetrics(unittest.TestCase):
    listed = [{"name": n, "unit": "s"} for n in ("pipeline.run_s", "plan.run_s", "spill_mb")]

    def test_layer_not_called_reads_zero(self):
        metrics, missing = run.pick_metrics(self.listed, {"pipeline.run_s": 2.5, "spill_mb": 0.0}, ("plan.",))
        self.assertEqual(missing, [])
        self.assertEqual(metrics["plan.run_s"], {"value": 0.0, "unit": "s"})

    def test_other_missing_metric_is_reported(self):
        _, missing = run.pick_metrics(self.listed, {"pipeline.run_s": 2.5}, ("plan.",))
        self.assertEqual(missing, ["spill_mb"])


def planted(workload, trace):
    env = dict(os.environ, PERFBENCH_PLANT="1")
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
                          "--seconds", "1", "--trace", str(trace)],
                         env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-2000:]
    failed = [line for line in out.stderr.splitlines() if "check FAIL" in line]
    return json.loads(out.stdout.strip().splitlines()[-1]), failed


class PlantedFaults(unittest.TestCase):
    def test_filter_and_dedup(self):
        res, failed = planted("filter", 1)
        self.assertFalse(res["correct"])
        self.assertTrue(any("filter.kept" in f for f in failed), failed)
        self.assertTrue(any("dedup.q11_minhash_lsh.oracle" in f for f in failed), failed)

    def test_plan(self):
        res, failed = planted("plan", 0)
        self.assertFalse(res["correct"])
        self.assertTrue(any("plan.orphan_fks" in f for f in failed), failed)


if __name__ == "__main__":
    if "--e2e" not in sys.argv:
        del PlantedFaults
    else:
        sys.argv.remove("--e2e")
    unittest.main()
