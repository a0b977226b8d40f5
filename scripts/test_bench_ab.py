"""Tests for the verdicts, the query selection and the command line of
scripts/bench_ab.py.

    python3 -m unittest discover -s scripts
"""
import contextlib
import io
import json
import os
import tempfile
import unittest

import bench_ab
from bench_ab import report, selected, verdict


def series(medians, floors, first):
    """A Bench artifact: per query its median, floor and first-repeat wall."""
    return {"queries": medians, "floors": floors,
            "runs": [first, {q: m + 0.5 for q, m in medians.items()}]}


class VerdictTest(unittest.TestCase):

    def test_every_change_above_every_base_is_slower(self):
        self.assertEqual(verdict([1.0, 1.2], [1.3, 1.5]), "slower")

    def test_every_change_below_every_base_is_faster(self):
        self.assertEqual(verdict([1.0, 1.2], [0.7, 0.9]), "faster")

    def test_interleaved_or_touching_series_overlap(self):
        self.assertEqual(verdict([1.0, 1.2], [1.1, 1.3]), "overlap")
        self.assertEqual(verdict([1.0, 1.2], [1.2, 1.4]), "overlap")
        self.assertEqual(verdict([1.0], [1.0]), "overlap")

    def test_a_failed_query_reads_failed(self):
        self.assertEqual(verdict([1.0, -1.0], [0.5, 0.6]), "failed")


class SelectionTest(unittest.TestCase):

    def test_names_match_whole_queries_or_their_prefix(self):
        qs = {"q16_user_knn", "q16b_user_knn_dimsum", "q29_pair_rules"}
        self.assertEqual(selected(qs, []), sorted(qs))
        self.assertEqual(selected(qs, ["q16"]), ["q16_user_knn"])
        self.assertEqual(selected(qs, ["q16b_user_knn_dimsum", "q29"]),
                         ["q16b_user_knn_dimsum", "q29_pair_rules"])


class CommandLineTest(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.addCleanup(self.dir.cleanup)

    def write(self, name, d):
        path = os.path.join(self.dir.name, name)
        with open(path, "w") as f:
            json.dump(d, f)
        return path

    def run_main(self, argv):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            bench_ab.main(argv)
        return out.getvalue()

    def test_reads_median_floor_and_first_repeat_of_common_queries(self):
        b1 = self.write("b1.json", series({"q16_a": 10.0, "q29_b": 1.0, "q99_only_base": 3.0},
                                          {"q16_a": 9.0, "q29_b": 0.9}, {"q16_a": 60.0, "q29_b": 11.0}))
        b2 = self.write("b2.json", series({"q16_a": 11.0, "q29_b": 1.1},
                                          {"q16_a": 9.5, "q29_b": 0.8}, {"q16_a": 58.0, "q29_b": 12.0}))
        c1 = self.write("c1.json", series({"q16_a": 10.5, "q29_b": 1.3},
                                          {"q16_a": 9.2, "q29_b": 1.0}, {"q16_a": 50.0, "q29_b": 6.0}))
        out = self.run_main(["--base", b1, b2, "--change", c1]).splitlines()
        self.assertNotIn("q99_only_base", "\n".join(out))
        i = out.index("q16_a")
        self.assertEqual(out[i + 1].split(), ["median", "base", "10.000", "11.000", "change", "10.500"])
        self.assertEqual(out[i + 2].split(), ["floor", "base", "9.000", "9.500", "change", "9.200"])
        self.assertEqual(out[i + 3].split(), ["first", "base", "60.000", "58.000", "change", "50.000"])
        self.assertEqual(out[i + 4].strip(), "verdict median overlap, first repeat faster")
        j = out.index("q29_b")
        self.assertEqual(out[j + 4].strip(), "verdict median slower, first repeat faster")

    def test_names_after_the_change_series_select_queries(self):
        b = self.write("b.json", series({"q16_a": 1.0, "q29_b": 1.0}, {}, {"q16_a": 2.0, "q29_b": 2.0}))
        c = self.write("c.json", series({"q16_a": 1.0, "q29_b": 1.0}, {}, {"q16_a": 2.0, "q29_b": 2.0}))
        out = self.run_main(["--base", b, "--change", c, "q29"])
        self.assertIn("q29_b", out)
        self.assertNotIn("q16_a", out)
        self.assertEqual(report([bench_ab.load(b)], [bench_ab.load(c)], ["q29"]),
                         out.splitlines())


if __name__ == "__main__":
    unittest.main()
