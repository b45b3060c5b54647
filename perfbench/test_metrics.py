"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import decimal
import random
import unittest

import metrics as M


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        v = list(range(1, 40))            # 39 samples: rank of p75 is 30, 9 beyond
        self.assertIsNone(M.percentile(v, 0.75))
        v = list(range(1, 41))            # 40 samples: rank 30, 10 beyond
        self.assertEqual(M.percentile(v, 0.75), 30)

    def test_median_of_twenty(self):
        v = [float(x) for x in range(20, 0, -1)]
        self.assertEqual(M.percentile(v, 0.5), 10.0)
        self.assertIsNone(M.percentile(v[:19], 0.5))

    def test_p90_needs_a_hundred(self):
        self.assertIsNone(M.percentile(list(range(99)), 0.9))
        self.assertEqual(M.percentile(list(range(1, 101)), 0.9), 90)

    def test_median(self):
        self.assertEqual(M.median([3, 1, 2]), 2)
        self.assertEqual(M.median([4, 1, 3, 2]), 2.5)


class GeomeanTest(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(M.geomean([1, 4]), 2.0)
        self.assertAlmostEqual(M.geomean([0.5, 2, 8]), 2.0)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            M.geomean([1.0, 0.0])
        with self.assertRaises(ValueError):
            M.geomean([])


class DigestTest(unittest.TestCase):
    ROWS = [
        (1, "a", 1.5, None, decimal.Decimal("12.30")),
        (2, "ü", -0.0, True, decimal.Decimal("0E-2")),
        (2, "ü", -0.0, True, decimal.Decimal("0E-2")),
        (3, "", float("nan"), False, decimal.Decimal("-7.05")),
    ]
    COLS = ["k", "s", "x", "b", "d"]

    def test_order_insensitive(self):
        want = M.digest_rows(self.COLS, self.ROWS)
        rows = list(self.ROWS)
        for seed in range(5):
            random.Random(seed).shuffle(rows)
            self.assertEqual(M.digest_rows(self.COLS, rows), want)

    def test_column_order_insensitive(self):
        perm = [4, 2, 0, 3, 1]
        cols = [self.COLS[i] for i in perm]
        rows = [tuple(r[i] for i in perm) for r in self.ROWS]
        self.assertEqual(M.digest_rows(cols, rows), M.digest_rows(self.COLS, self.ROWS))

    def test_sensitive_to_values_and_multiplicity(self):
        want = M.digest_rows(self.COLS, self.ROWS)
        self.assertNotEqual(M.digest_rows(self.COLS, self.ROWS[:-1]), want)
        self.assertNotEqual(M.digest_rows(self.COLS, self.ROWS[1:]), want)
        changed = [(1, "a", 1.5000000001, None, decimal.Decimal("12.30"))] + self.ROWS[1:]
        self.assertNotEqual(M.digest_rows(self.COLS, changed), want)
        self.assertEqual(M.digest_rows(self.COLS, self.ROWS)[0], 4)

    def test_render(self):
        self.assertEqual(M.render(-0.0), M.render(0.0))
        self.assertEqual(M.render(1.0), "F3ff0000000000000")
        self.assertEqual(M.render(True), "T")
        self.assertEqual(M.render(7), "I7")
        self.assertEqual(M.render(decimal.Decimal("0E-10")), "D0.0000000000")
        self.assertEqual(M.render("ü"), "S2:ü")
        self.assertEqual(M.render(datetime.date(1970, 1, 11)), "d10")
        self.assertEqual(M.render(datetime.datetime(1970, 1, 1, 0, 0, 1, 5)), "t1000005")
        self.assertEqual(M.render([1, None]), "[I1,N]")
        self.assertEqual(M.render({"a": 1, "b": "x"}), "{I1,S1:x}")


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "name": name, "item": "", "start_ns": start, "end_ns": end}


class SelfTimeTest(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(M.self_times([span(1, 0, 10, 30)]), {1: 20})

    def test_children_subtracted_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 50),
                 span(4, 1, 60, 70), span(5, 2, 15, 20)]
        st = M.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)   # children cover [10,50] and [60,70]
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 20)

    def test_child_clipped_to_parent(self):
        st = M.self_times([span(1, 0, 0, 10), span(2, 1, 5, 25)])
        self.assertEqual(st[1], 5)

    def test_by_name(self):
        spans = [span(1, 0, 0, 2_000_000_000, "item"), span(2, 1, 0, 500_000_000, "build"),
                 span(3, 0, 0, 1_000_000_000, "item")]
        self.assertEqual(M.self_seconds_by_name(spans), {"item": 2.5, "build": 0.5})


if __name__ == "__main__":
    unittest.main()
