"""Self-test of tools/check_oracle.py (no Spark needed).

Three gates are declared in oracle_sql.json: one whose output matches its
oracle, one whose output differs in a value, and one with no output dir (a
gate that threw in Verify writes none). The check must pass the first, fail
the other two and exit non-zero.

The tool's DuckDB connection must spill to a fresh directory under the
system temp dir, capped at half of that filesystem's free space.

Run from the repository root:  python3 -m unittest discover -s tools/tests
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import duckdb

TOOLS = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, TOOLS)
import check_oracle  # noqa: E402

UNITS = {"bytes": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40}


def _write(con, sql, path):
    os.makedirs(path)
    con.execute(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT PARQUET)")


class CheckOracleTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.sf = os.path.join(self.tmp, "sf")
        self.out = os.path.join(self.tmp, "out")
        os.makedirs(self.sf)
        con = duckdb.connect()
        con.execute(f"""COPY (SELECT range AS event_id, range % 3 AS user_id
                        FROM range(10)) TO '{self.sf}/events.parquet' (FORMAT PARQUET)""")
        oracle = "SELECT user_id, count(*) AS n FROM events GROUP BY 1"
        _write(con, "SELECT * FROM (VALUES (0, 4), (1, 3), (2, 3)) t(user_id, n)",
               os.path.join(self.out, "q_match"))
        _write(con, "SELECT * FROM (VALUES (0, 4), (1, 3), (2, 9)) t(user_id, n)",
               os.path.join(self.out, "q_value_diff"))
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump({"q_match": oracle, "q_value_diff": oracle, "q_missing": oracle}, f)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_missing_output_and_value_diff_fail(self):
        run = subprocess.run(
            [sys.executable, os.path.join(TOOLS, "check_oracle.py"), self.sf, self.out],
            capture_output=True, text=True)
        lines = run.stdout.splitlines()
        self.assertIn("1 pass, 2 fail", lines[-1])
        self.assertTrue(any(l.startswith("q_match") and "PASS" in l for l in lines))
        self.assertTrue(any(l.startswith("q_value_diff") and "VALUE-DIFF" in l for l in lines))
        self.assertTrue(any(l.startswith("q_missing") and "MISSING" in l for l in lines))
        self.assertNotEqual(run.returncode, 0)


class SpillSettingsTest(unittest.TestCase):

    def test_spill_goes_to_a_capped_temp_dir(self):
        con = check_oracle.connect()
        temp_dir, cap = con.execute(
            "SELECT current_setting('temp_directory'), "
            "current_setting('max_temp_directory_size')").fetchone()
        con.close()
        self.assertTrue(os.path.isdir(temp_dir))
        self.assertEqual(os.path.dirname(temp_dir), tempfile.gettempdir())
        # DuckDB reports the cap rounded, e.g. '9.7 GiB'
        value, unit = cap.split()
        half_free = shutil.disk_usage(temp_dir).free / 2
        self.assertAlmostEqual(float(value) * UNITS[unit] / half_free, 1.0, delta=0.05)


if __name__ == "__main__":
    unittest.main()
