"""Tests for the regression verdict, the pair filter and the workload
list of scripts/ab.py.

    python3 -m unittest discover -s scripts
"""
import contextlib
import io
import json
import os
import tempfile
import unittest
from unittest import mock

import ab
from ab import equal_pass_pairs, verdict


class VerdictTest(unittest.TestCase):
    # a quiet base: median 10.0, quartiles about [9.9, 10.1]
    quiet = [9.8, 9.9, 10.0, 10.0, 10.1, 10.2]

    def test_within_the_bound_is_ok(self):
        self.assertEqual(verdict(self.quiet, [x * 1.2 for x in self.quiet], 0.25, True), "ok")
        self.assertEqual(verdict(self.quiet, [x * 0.8 for x in self.quiet], 0.25, False), "ok")

    def test_median_worse_by_more_than_the_bound(self):
        self.assertEqual(verdict(self.quiet, [x * 1.3 for x in self.quiet], 0.25, True), "worse")
        # higher is better: a 30% drop is worse, a 30% rise is not
        self.assertEqual(verdict(self.quiet, [x * 0.7 for x in self.quiet], 0.25, False), "worse")
        self.assertEqual(verdict(self.quiet, [x * 1.3 for x in self.quiet], 0.25, False), "ok")

    def test_a_wide_base_leaves_a_close_change_unresolved(self):
        wide = [5.0, 7.0, 10.0, 10.0, 13.0, 15.0]  # IQR/median > 0.5
        self.assertEqual(verdict(wide, [9.0, 10.0, 11.0, 12.0], 0.25, True), "unresolved")
        # unless every change run beats every base run
        self.assertEqual(verdict(wide, [4.0, 4.5, 4.8], 0.25, True), "ok")
        self.assertEqual(verdict(wide, [16.0, 17.0], 0.25, False), "ok")

    def test_the_worse_median_wins_over_a_wide_base(self):
        wide = [5.0, 7.0, 10.0, 10.0, 13.0, 15.0]
        self.assertEqual(verdict(wide, [13.0, 14.0, 15.0], 0.25, True), "worse")

    def test_runs_that_did_not_finish(self):
        self.assertEqual(verdict(self.quiet, [None, None], 0.25, True), "worse")
        self.assertEqual(verdict([None], [1.0], 0.25, True), "unresolved")
        self.assertEqual(verdict(self.quiet, [None] + self.quiet, 0.25, True), "ok")


class EqualPassPairsTest(unittest.TestCase):
    @staticmethod
    def run_of(attempted):
        return {"attempted": attempted, "metrics": {}}

    def test_keeps_only_finished_pairs_with_equal_pass_counts(self):
        pairs = [
            {"seed": 1, "base": self.run_of(2), "change": self.run_of(2)},
            {"seed": 2, "base": self.run_of(1), "change": self.run_of(2)},  # change fit one more
            {"seed": 3, "base": None, "change": self.run_of(1)},  # base did not finish
            {"seed": 4, "base": self.run_of(3), "change": self.run_of(3)},
        ]
        self.assertEqual([p["seed"] for p in equal_pass_pairs(pairs)], [1, 4])
        self.assertEqual(equal_pass_pairs(pairs[1:3]), [])


class WorkloadListTest(unittest.TestCase):
    def test_a_comma_list_runs_each_workloads_pairs_and_prints_one_table_each(self):
        calls = []

        def fake_run(checkout, workload, seed, seconds):
            calls.append((os.path.basename(checkout), workload, seed))
            value = 2.0 if os.path.basename(checkout) == "base" else 1.0
            return {"attempted": 1, "failed": 0, "correct": True,
                    "metrics": {"job_s": {"value": value}}}

        with tempfile.TemporaryDirectory() as d:
            for side in ("base", "change"):
                os.mkdir(os.path.join(d, side))
            with open(os.path.join(d, "change", "BENCHMARK.json"), "w") as f:
                json.dump({"end_to_end": [
                    {"name": "job_s", "better": "lower", "bound": 0.25}]}, f)
            out = io.StringIO()
            with mock.patch.object(ab, "run", fake_run), contextlib.redirect_stdout(out):
                ab.main([os.path.join(d, "base"), os.path.join(d, "change"),
                         "--workload", "fold_eval,corpus_dedup", "--seeds", "5-6",
                         "--json", os.path.join(d, "ab.json")])
            with open(os.path.join(d, "ab.json")) as f:
                written = json.load(f)
        # every pair of the first workload runs before the second's, each
        # pair alternating which side goes first
        self.assertEqual(calls, [
            ("base", "fold_eval", 5), ("change", "fold_eval", 5),
            ("change", "fold_eval", 6), ("base", "fold_eval", 6),
            ("base", "corpus_dedup", 5), ("change", "corpus_dedup", 5),
            ("change", "corpus_dedup", 6), ("base", "corpus_dedup", 6)])
        text = out.getvalue()
        self.assertEqual([l.split(":")[0] for l in text.splitlines() if " pairs, base = " in l],
                         ["fold_eval", "corpus_dedup"])
        self.assertEqual(text.count("job_s    "), 2)
        self.assertEqual(sorted(written), ["corpus_dedup", "fold_eval"])
        self.assertEqual([p["seed"] for p in written["corpus_dedup"]], [5, 6])


if __name__ == "__main__":
    unittest.main()
