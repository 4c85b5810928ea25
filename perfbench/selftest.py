#!/usr/bin/env python3
"""Spark-free self-tests of the benchmark's pure helpers.

    python3 perfbench/selftest.py
"""
import os
import sys
import tempfile
import unittest
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import compare  # noqa: E402
import tracelog  # noqa: E402
import workloads  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_p90_needs_100_samples(self):
        self.assertEqual(compare.tail_percentile(100), 90)
        self.assertEqual(compare.tail_percentile(99), 89)

    def test_small_samples_fall_back_to_lower_percentiles(self):
        self.assertEqual(compare.tail_percentile(20), 50)
        self.assertEqual(compare.tail_percentile(11), 9)
        self.assertIsNone(compare.tail_percentile(10))

    def test_never_above_wanted(self):
        self.assertEqual(compare.tail_percentile(10_000), 90)
        self.assertEqual(compare.tail_percentile(10_000, wanted=99), 99)

    def test_percentile_interpolates(self):
        self.assertEqual(compare.percentile([3, 1, 2], 50), 2)
        self.assertEqual(compare.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(compare.percentile([5], 90), 5)


class IntervalUnion(unittest.TestCase):
    def test_overlapping_and_nested(self):
        self.assertEqual(compare.union_length([(0, 10), (5, 15), (6, 7)]), 15)

    def test_disjoint_unsorted_and_empty(self):
        self.assertEqual(compare.union_length([(20, 25), (0, 5)]), 10)
        self.assertEqual(compare.union_length([]), 0)
        self.assertEqual(compare.union_length([(3, 3), (5, 4)]), 0)

    def test_touching_intervals_do_not_double_count(self):
        self.assertEqual(compare.union_length([(0, 5), (5, 10)]), 10)

    def test_driver_gap_clips_jobs_to_the_wall(self):
        # wall 0..100; jobs cover 10..30 and 25..40, one starts before the
        # wall and one runs past its end
        self.assertEqual(compare.driver_gap(0, 100, [(10, 30), (25, 40)]), 70)
        self.assertEqual(compare.driver_gap(0, 100, [(-50, 20), (90, 200)]), 70)
        self.assertEqual(compare.driver_gap(0, 100, []), 100)


class Comparator(unittest.TestCase):
    COLS = ["k", "price", "n", "name"]
    ROWS = [(1, Decimal("84197.04"), 3, "A"), (2, Decimal("100.00"), 7, "N")]

    def test_same_rows_any_order_and_column_order(self):
        got = (["name", "n", "k", "price"], [("N", 7, 2, Decimal("100.0")),
                                             ("A", 3, 1, Decimal("84197.040"))])
        self.assertEqual(compare.same_result(got, (self.COLS, self.ROWS)), (True, ""))

    def test_csv_text_equals_typed_values(self):
        got = (self.COLS, [("1", "84197.04", "3", "A"), ("2", "100.00", "7", "N")])
        self.assertTrue(compare.same_result(got, (self.COLS, self.ROWS))[0])

    def test_int_float_and_decimal_spellings_agree(self):
        self.assertEqual(compare.canon(5), compare.canon(5.0))
        self.assertEqual(compare.canon(Decimal("5.00")), "5")
        self.assertEqual(compare.canon("1.0E7"), "10000000")
        self.assertEqual(compare.canon(0.1), compare.canon(Decimal("0.1")))

    def test_detects_value_row_and_column_differences(self):
        exp = (self.COLS, self.ROWS)
        off_by_cent = (self.COLS, [(1, Decimal("84197.05"), 3, "A"), self.ROWS[1]])
        self.assertFalse(compare.same_result(off_by_cent, exp)[0])
        self.assertFalse(compare.same_result((self.COLS, self.ROWS[:1]), exp)[0])
        renamed = (["k", "price", "cnt", "name"], self.ROWS)
        self.assertFalse(compare.same_result(renamed, exp)[0])
        dup_instead = (self.COLS, [self.ROWS[0], self.ROWS[0]])
        self.assertFalse(compare.same_result(dup_instead, exp)[0])

    def test_doubles_compare_exactly(self):
        self.assertNotEqual(compare.canon(0.1 + 0.2), compare.canon(0.3))
        self.assertNotEqual(compare.canon(None), compare.canon("\\N "))
        self.assertNotEqual(compare.canon(None), compare.canon(""))

    def test_reads_csv_and_ndjson_exports(self):
        with tempfile.TemporaryDirectory() as d:
            csv_path, json_path = os.path.join(d, "o.csv"), os.path.join(d, "o.json")
            with open(csv_path, "w") as f:
                f.write("k,price,n,name\n1,84197.04,3,A\n2,100.00,7,N\n")
            with open(json_path, "w") as f:
                f.write('{"k":2,"price":100.00,"n":7,"name":"N"}\n'
                        '{"k":1,"price":84197.04,"n":3,"name":"A"}\n')
            for path in (csv_path, json_path):
                self.assertTrue(compare.same_result(
                    compare.read_export(path, None), (self.COLS, self.ROWS))[0], path)


class Generator(unittest.TestCase):
    def test_seeded_and_distinct(self):
        a, b = workloads.AdhocStream(7), workloads.AdhocStream(7)
        pa = [a.next_pass() for _ in range(20)]
        self.assertEqual(pa, [b.next_pass() for _ in range(20)])
        sqls = [sql for p in pa for _, sql, _ in p]
        self.assertEqual(len(sqls), len(set(sqls)))
        self.assertNotEqual(pa[0], workloads.AdhocStream(8).next_pass())

    def test_every_pass_runs_every_template_and_formats_rotate(self):
        s = workloads.AdhocStream(3)
        first = s.next_pass()
        self.assertEqual(sorted(t for t, _, _ in first),
                         sorted(t.__name__ for t in workloads.TEMPLATES))
        formats = [f for _, _, f in first + s.next_pass()]
        self.assertEqual(formats[:3], list(workloads.FORMATS))
        self.assertEqual(formats[3:6], list(workloads.FORMATS))

    def test_operator_rounds_are_seeded_permutations(self):
        a, b = workloads.OperatorOrder(5), workloads.OperatorOrder(5)
        rounds = [a.next_round() for _ in range(4)]
        self.assertEqual(rounds, [b.next_round() for _ in range(4)])
        for r in rounds:
            self.assertEqual(sorted(r), sorted(workloads.OPERATORS))
        self.assertEqual(rounds[1], rounds[0][::-1])
        self.assertEqual(rounds[2], rounds[0])


class Reconciliation(unittest.TestCase):
    def test_every_job_in_the_window_belongs_to_one_span(self):
        spans = [(0, 100), (110, 200)]
        # before and after the window: ignored; inside a span: attributed
        jobs = [(-5, None), (0, 10), (50, 100), (110, 150), (200, 200), (250, None)]
        self.assertEqual(tracelog.unattributed_jobs(jobs, spans), 0)
        # in the gap between two operations, past its operation's end, or
        # never ended: unattributed
        self.assertEqual(tracelog.unattributed_jobs([(105, 108)], spans), 1)
        self.assertEqual(tracelog.unattributed_jobs([(50, 120)], spans), 1)
        self.assertEqual(tracelog.unattributed_jobs([(50, None)], spans), 1)
        # overlapping spans would count a job twice
        self.assertEqual(tracelog.unattributed_jobs([(60, 70)], [(0, 100), (50, 150)]), 1)

    def test_final_stage_and_commit_must_fit_in_the_write(self):
        write = (1000, 1500)
        # stage 1200..1450, commit 1450..1500: fits
        self.assertFalse(tracelog.sink_overrun(write, (1200, 1450), 1450))
        # stage longer than the write leaves no room for the commit
        self.assertTrue(tracelog.sink_overrun(write, (900, 1450), 1450))
        # a last job that ends after the write returned
        self.assertTrue(tracelog.sink_overrun(write, (1200, 1450), 1600))

if __name__ == "__main__":
    unittest.main()
