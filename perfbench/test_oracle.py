"""Tests that the output checks catch corrupted outputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

No Spark needed: a reference row set from DuckDB stands in for the
benchmark's output, and is then corrupted in the ways a wrong engine
result would be.
"""
import copy
import unittest

import duckdb

import oracle

TOPK_SQL = """
SELECT user_id, item_id, CAST(round(user_id * 0.37 + item_id * 0.011, 4) AS DOUBLE) AS score,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY item_id) AS INTEGER) AS rk
FROM range(0, 40) u(user_id), range(100, 105) i(item_id)
"""


def as_output(con, sql):
    cur = con.execute(sql)
    return {"columns": [d[0] for d in cur.description],
            "rows": [list(r) for r in cur.fetchall()]}


class CorruptedOutputIsCaught(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        self.good = as_output(self.con, TOPK_SQL)

    def check(self, out):
        return oracle.check_sql(self.con, "topk", out, TOPK_SQL)

    def test_identical_output_passes(self):
        self.assertEqual(self.check(self.good), [])

    def test_row_order_and_column_order_do_not_matter(self):
        out = copy.deepcopy(self.good)
        out["rows"].reverse()
        out["columns"] = out["columns"][::-1]
        out["rows"] = [r[::-1] for r in out["rows"]]
        self.assertEqual(self.check(out), [])

    def test_wrong_score_is_caught(self):
        out = copy.deepcopy(self.good)
        out["rows"][7][2] += 0.001
        self.assertTrue(self.check(out))

    def test_rounding_noise_is_tolerated(self):
        out = copy.deepcopy(self.good)
        out["rows"][7][2] += 1e-9
        self.assertEqual(self.check(out), [])

    def test_wrong_item_is_caught(self):
        out = copy.deepcopy(self.good)
        out["rows"][3][1] = 999
        self.assertTrue(self.check(out))

    def test_missing_row_is_caught(self):
        out = copy.deepcopy(self.good)
        del out["rows"][11]
        self.assertTrue(self.check(out))

    def test_duplicated_row_is_caught(self):
        out = copy.deepcopy(self.good)
        out["rows"][11] = list(out["rows"][12])
        self.assertTrue(self.check(out))


class ReferencesAreIndependent(unittest.TestCase):
    def test_clusters_follow_transitive_pairs(self):
        got = sorted(oracle.clusters([(5, 9), (9, 12), (1, 2), (20, 21), (21, 20)]))
        self.assertEqual(got, [(1, 2, "1,2"), (5, 3, "5,9,12"), (20, 2, "20,21")])

    def test_ranking_metrics(self):
        recs = {"columns": ["user_id", "item_id", "score", "rk"],
                "rows": [[1, 10, 0.9, 1], [1, 11, 0.8, 2], [2, 12, 0.7, 1]]}
        got = oracle.ranking_metrics(recs, [(1, 11), (1, 30), (2, 99)], k=2)
        # user 1: one hit at rank 2 -> P = 1/2, R = 1/2, AP = (0/1 + 1/2)/2
        # user 2: no hit -> P = R = AP = 0
        self.assertAlmostEqual(got["avg_precision_at_2"], 0.25)
        self.assertAlmostEqual(got["avg_recall_at_2"], 0.25)
        self.assertAlmostEqual(got["map_at_2"], 0.125)


if __name__ == "__main__":
    unittest.main()
