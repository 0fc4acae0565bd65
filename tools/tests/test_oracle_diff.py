"""Self-test of tools/oracle_diff.py (no Spark needed).

Three gates are declared in both oracle files: one whose text is unchanged,
one rewritten into a different text with equal results, and one rewritten
into a text whose results differ. The diff must report SAME, EQUAL and
DIFFER for them and exit non-zero.

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


class OracleDiffTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.sf = os.path.join(self.tmp, "sf")
        os.makedirs(self.sf)
        duckdb.connect().execute(
            f"""COPY (SELECT range AS event_id, range % 3 AS user_id FROM range(10))
                TO '{self.sf}/events.parquet' (FORMAT PARQUET)""")
        count = "SELECT user_id, count(*) AS n FROM events GROUP BY 1"
        old = {"q_same": count, "q_equal": count, "q_differ": count}
        new = {
            "q_same": count,
            # same rows, different text: a CTE and a window instead of GROUP BY
            "q_equal": """WITH e AS (SELECT user_id FROM events)
                          SELECT DISTINCT user_id,
                            count(*) OVER (PARTITION BY user_id) AS n FROM e""",
            "q_differ": "SELECT user_id, count(*) AS n FROM events "
                        "WHERE event_id > 0 GROUP BY 1",
        }
        self.old = os.path.join(self.tmp, "old.json")
        self.new = os.path.join(self.tmp, "new.json")
        json.dump(old, open(self.old, "w"))
        json.dump(new, open(self.new, "w"))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_reports_same_equal_and_differ(self):
        run = subprocess.run(
            [sys.executable, os.path.join(TOOLS, "oracle_diff.py"),
             self.sf, self.old, self.new],
            capture_output=True, text=True)
        status = {l.split()[0]: l.split()[1] for l in run.stdout.splitlines()
                  if l.startswith("q_")}
        self.assertEqual(status, {"q_same": "SAME", "q_equal": "EQUAL",
                                  "q_differ": "DIFFER"})
        self.assertIn("2 same or equal, 1 differ or error", run.stdout)
        self.assertNotEqual(run.returncode, 0)


if __name__ == "__main__":
    unittest.main()
