"""Self-test of the refine check in run.py:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class RefineCheck(unittest.TestCase):
    cols = ["lang", "n_input", "n_mixture_survivors"]
    rows = [["de", "10", "4"], ["en", "70", "60"]]
    oracle = [("en", 70, 60), ("de", 10, 4)]

    def test_equal_rows_in_any_order_and_column_order_pass(self):
        self.assertTrue(run.refine_check(self.cols, self.rows, self.cols, self.oracle))
        swapped = [(r[2], r[0], r[1]) for r in self.oracle]
        self.assertTrue(run.refine_check(self.cols, self.rows, ["n_mixture_survivors", "lang", "n_input"], swapped))

    def test_a_changed_or_missing_row_fails(self):
        self.assertFalse(run.refine_check(self.cols, [["de", "10", "5"], self.rows[1]], self.cols, self.oracle))
        self.assertFalse(run.refine_check(self.cols, self.rows[:1], self.cols, self.oracle))
        self.assertFalse(run.refine_check(self.cols[:2], [r[:2] for r in self.rows], self.cols, self.oracle))


if __name__ == "__main__":
    unittest.main()
