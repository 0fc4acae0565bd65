"""Self-test of tools/check_oracle.py (no Spark needed).

Three gates are declared in oracle_sql.json: one whose output matches its
oracle, one whose output differs in a value, and one with no output dir (a
gate that threw in Verify writes none). The check must pass the first, fail
the other two and exit non-zero.

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


if __name__ == "__main__":
    unittest.main()
