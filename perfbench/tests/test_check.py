"""Self-test of the benchmark's correctness check (no Spark needed).

Step outputs are produced by the oracles themselves, in pipeline order, so a
clean work directory must pass; then one output is corrupted and exactly
that step must be reported. It also pins the vectorized oracle replays in
fasthash.py to the ported SQL they stand in for.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import shutil
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import check  # noqa: E402
import fasthash  # noqa: E402

VOCAB = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast the row agg key query "
         "a scan batch").split()


def _write(con, sql, path):
    os.makedirs(path)
    con.execute(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT PARQUET)")


def _corpus(n=240, seed=7):
    """Random documents plus near copies (one word changed) of every 12th.
    Planted copies have odd ids: the page synthesized for an even id has one
    more boilerplate block, which the quality rule drops."""
    rnd = random.Random(seed)
    docs = [(i, " ".join(rnd.choice(VOCAB) for _ in range(rnd.randint(25, 90)))) for i in range(n)]
    for i in range(1, n, 12):
        words = docs[i][1].split()
        words[rnd.randrange(len(words))] = "merged"
        docs.append((n + i, " ".join(words)))
    docs.append((2 * n + 1, docs[5][1]))  # one exact duplicate
    return docs


class CheckTest(unittest.TestCase):
    def setUp(self):
        self.work = tempfile.mkdtemp()
        self.con = duckdb.connect()

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.work)

    def _build(self, workload, table, sql):
        """Input table from `sql`, then every step output from its oracle."""
        con = self.con
        _write(con, sql, os.path.join(self.work, "input", f"{table}.parquet"))
        check._register(con, f"in_{table}", os.path.join(self.work, "input", f"{table}.parquet"))
        for step, views in check.STEPS[workload]:
            for name, v in views.items():
                con.execute(f"CREATE OR REPLACE TEMP VIEW {name} AS {v}")
            con.register("_want", check.oracle(con, step))
            path = os.path.join(self.work, "output", f"{step}.parquet")
            _write(con, "SELECT * FROM _want", path)
            check._register(con, f"out_{step}", path)

    def _corrupt(self, step, sql):
        path = os.path.join(self.work, "output", f"{step}.parquet")
        con = duckdb.connect()
        df = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
        con.register("t", df)
        shutil.rmtree(path)
        _write(con, sql, path)
        con.close()

    def test_kwwhat_clean_then_corrupted(self):
        self._build("kwwhat", "events", """
            SELECT i AS event_id,
              TIMESTAMP '2024-01-01' + to_microseconds(((i * 7919) % 2592000) * 1000000) AS ts,
              (i * 31) % 40 AS user_id,
              ['view', 'click', 'purchase', 'signup', 'error'][1 + (i * 13) % 5] AS event_type,
              round(((i * 17) % 1000) / 7.0, 2) AS value,
              '{"k": ' || (i % 100) || '}' AS props
            FROM range(3000) r(i)""")
        self.assertEqual(check.check("kwwhat", self.work), {})
        self._corrupt("visits", "SELECT * REPLACE (charge_attempt_count + "
                      "CASE WHEN visit_seq = 1 THEN 1 ELSE 0 END AS charge_attempt_count) FROM t")
        self._corrupt("transactions", "SELECT * FROM t LIMIT (SELECT count(*) - 1 FROM t)")
        shutil.rmtree(os.path.join(self.work, "output", "interval_15m.parquet"))
        self.assertEqual(sorted(check.check("kwwhat", self.work)),
                         ["interval_15m", "transactions", "visits"])

    def test_curation_clean_then_corrupted(self):
        docs = _corpus()
        values = ", ".join(f"({i}, '{t}')" for i, t in docs)
        self._build("curation", "documents",
                    f"SELECT * FROM (VALUES {values}) v(doc_id, text)")
        self.assertEqual(check.check("curation", self.work), {})
        self._corrupt("pack", "SELECT * REPLACE (total_tokens + 1 AS total_tokens) FROM t")
        self.assertEqual(list(check.check("curation", self.work)), ["pack"])

    def test_fast_oracles_match_sql(self):
        docs = _corpus()
        con = self.con
        con.register("_docs", fasthash.pd.DataFrame(docs, columns=["doc_id", "text"]))
        con.execute("CREATE VIEW documents AS SELECT * FROM _docs")
        fast = check.oracle(con, "near_dedup")
        self.assertGreater(len(fast), 5)
        self.assertIsNone(check.compare(fast, check.oracle(con, "near_dedup", fast=False)))
        con.execute("CREATE VIEW dg AS SELECT doc_id, 'Document ' || doc_id || ' ' || text "
                    "AS text, 3 AS n_blocks_kept, doc_id % 12 AS n_blocks_dropped FROM _docs")
        self.assertIsNone(check.compare(check.oracle(con, "lang_quality"),
                                        check.oracle(con, "lang_quality", fast=False)))


if __name__ == "__main__":
    unittest.main()
