"""Tests of the benchmark itself. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The JVM tests build the library and run each workload twice, untraced
and traced (about a minute per run).
"""

import filecmp
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen.daily_batches(5, a, 300, 1200, 1200, 2, 60, 40)
            gen.daily_batches(5, b, 300, 1200, 1200, 2, 60, 40)
            gen.daily_batches(6, c, 300, 1200, 1200, 2, 60, 40)
            self.assertTrue(same_tree(a, b))
            self.assertFalse(same_tree(a, c))

    def test_star_is_deterministic(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as t:
            gen.star(42, os.path.join(t, "a"), 0.001)
            gen.star(42, os.path.join(t, "b"), 0.001)
            for f in sorted(os.listdir(os.path.join(t, "a"))):
                self.assertTrue(pq.read_table(os.path.join(t, "a", f)).equals(
                    pq.read_table(os.path.join(t, "b", f))), f)

    def test_manifest_covers_every_dirtiness_class(self):
        with tempfile.TemporaryDirectory() as t:
            base, batches = gen.daily_batches(1, t, 2000, 8000, 8000, 2, 300, 200)
        issues = {(tb, i) for tb, d in base["dq"].items() for i in d}
        for want in [("staging_employee", "missing_employee_id"),
                     ("staging_employee", "duplicate_row"),
                     ("staging_employee", "invalid_date"),
                     ("staging_employee", "invalid_or_negative_salary"),
                     ("staging_finance", "missing_approver"),
                     ("staging_finance", "duplicate_row"),
                     ("staging_operations", "imputed_downtime"),
                     ("staging_operations", "invalid_date"),
                     ("fact_expenses", "fk_miss")]:
            self.assertIn(want, issues)
        for m in batches:
            self.assertGreater(m["scd2"]["expired"], 0)
            f = m["facts"]["fact_expenses"]
            # same-day replays and late rows are filtered or deduped
            self.assertLess(f["appended"], f["candidates"])


    def test_replayed_rows_log_nothing(self):
        # a same-day replay renders cleaned values; picked twice in one
        # batch, its twin is logged only as a duplicate
        fin = {"EmployeeID": "100001", "ExpenseType": "Unknown",
               "ExpenseAmount": "12.34", "ExpenseDate": "2024-01-01",
               "ApprovedBy": "UNKNOWN"}
        ops = {"Department": "UNASSIGNED_DEPT", "ProcessName": "UNKNOWN_PROCESS",
               "DowntimeHours": "1.25", "ProcessDate": "2024-01-01",
               "Location": "UNKNOWN_LOCATION"}
        self.assertEqual(gen._fin_issues(fin), [])
        self.assertEqual(gen._ops_issues(ops), [])
        self.assertEqual(gen._fin_issues(dict(fin, ApprovedBy=" nan ")), ["missing_approver"])


class SpecLint(unittest.TestCase):
    def test_names_and_units(self):
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        names = [w["name"] for w in s["workloads"]] + \
            [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in s["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in s["end_to_end"]))


class RunTest(unittest.TestCase):
    """Each workload, shortest run: every check passes (for
    daily_incremental this compares the manifests with the DQ log, the
    staging tables, SCD2 state and facts; for kpi_analytics every result
    with its recorded digest), and the result carries exactly the metric
    names of BENCHMARK.json."""

    def run_bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:] + p.stdout[-3000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def check(self, workload):
        s = spec()
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = self.run_bench(workload, trace)
            self.assertTrue(r["correct"])
            self.assertEqual(r["failed"], 0)
            self.assertGreaterEqual(r["attempted"], 1)
            self.assertEqual(set(r["metrics"]), {m["name"] for m in s[key]})
            for name, m in r["metrics"].items():
                self.assertRegex(name, NAME)
                self.assertEqual(m["unit"], {x["name"]: x["unit"] for x in s[key]}[name])

    def test_daily_incremental(self):
        self.check("daily_incremental")

    def test_kpi_analytics(self):
        self.check("kpi_analytics")


if __name__ == "__main__":
    unittest.main()
