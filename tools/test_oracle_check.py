"""Cell and row comparison of oracle_check.py.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os, sys, unittest
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import oracle_check as oc


class EqCellTest(unittest.TestCase):
    def test_decimals_compare_by_value(self):
        self.assertTrue(oc.eq_cell(Decimal("1.10"), Decimal("1.1")))
        self.assertTrue(oc.eq_cell(Decimal("2.50"), 2.5))
        self.assertTrue(oc.eq_cell(Decimal("3.00"), 3))
        self.assertFalse(oc.eq_cell(Decimal("1.10"), Decimal("1.11")))

    def test_none_equals_only_none(self):
        self.assertTrue(oc.eq_cell(None, None))
        self.assertFalse(oc.eq_cell(None, "None"))
        self.assertFalse(oc.eq_cell("None", None))
        self.assertFalse(oc.eq_cell(None, 0))

    def test_nan_equals_nan(self):
        self.assertTrue(oc.eq_cell(float("nan"), float("nan")))
        self.assertFalse(oc.eq_cell(float("nan"), 0.0))


class CanonTest(unittest.TestCase):
    def test_rows_sort_on_the_compared_values(self):
        # equal tables whose cells print differently: sorted by their
        # strings, '0.5' < '1e-05' but '0.00001' < '0.5', so the rows would
        # pair up crosswise
        got = [(Decimal("0.00001"), "a"), (Decimal("0.50"), "b")]
        want = [(0.5, "b"), (1e-05, "a")]
        self.assertIsNone(oc.first_mismatch(got, want))

    def test_mismatch_is_reported(self):
        got = [(Decimal("1.10"), None)]
        want = [(Decimal("1.1"), "None")]
        self.assertEqual(oc.first_mismatch(got, want)[0], 0)


if __name__ == "__main__":
    unittest.main()
