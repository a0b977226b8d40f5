"""Tests for the bench-series adoption rule of scripts/round_close.py.

    python3 -m unittest discover -s scripts
"""
import unittest

from round_close import decide


def series(cpus, floor, done=5, target=5, errors=None):
    s = {"repeats_done": done, "repeats_target": target, "errors": errors or {},
         "band_or_regression": "stable", "floors": {"q_a": floor, "q_b": floor},
         "floors_cpu": {}}
    if cpus is not None:
        s["cpus"] = cpus
    return s


class DecideTest(unittest.TestCase):
    def test_equal_core_counts_compare_floors(self):
        self.assertTrue(decide(1, series(32, 10.0), series(32, 10.0))[0])
        adopt, line = decide(1, series(32, 10.0), series(32, 12.0))
        self.assertFalse(adopt)
        self.assertNotIn("incomparable", line)

    def test_other_core_counts_are_never_ratio_compared(self):
        # a slower series at another core count is adopted when complete
        adopt, line = decide(1, series(8, 10.0), series(32, 20.0))
        self.assertTrue(adopt)
        self.assertIn("incomparable", line)
        # and a faster one is rejected when incomplete or failing
        self.assertFalse(decide(1, series(8, 10.0), series(32, 5.0, done=3))[0])
        self.assertFalse(decide(1, series(8, 10.0),
                                series(32, 5.0, errors={"q_a": "boom"}))[0])

    def test_a_reference_without_a_core_count_is_incomparable(self):
        adopt, line = decide(1, series(None, 10.0), series(32, 10.0))
        self.assertTrue(adopt)
        self.assertIn("incomparable", line)
        self.assertIn("incomparable", decide(1, series(32, 10.0), series(None, 10.0))[1])


if __name__ == "__main__":
    unittest.main()
