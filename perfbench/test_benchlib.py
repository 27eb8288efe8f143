"""Tests for the benchmark's own arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench
"""
import math
import random
import unittest

import benchlib


class TailPercentile(unittest.TestCase):

    def test_leaves_exactly_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        pct, value, n = benchlib.tail_percentile(xs)
        self.assertEqual((pct, value, n), (90.0, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_of_input_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(benchlib.tail_percentile(xs),
                         benchlib.tail_percentile(sorted(xs)))
        pct, value, n = benchlib.tail_percentile(xs)
        self.assertEqual((value, n), (2.0, 12))
        self.assertAlmostEqual(pct, 100 * 2 / 12)

    def test_smallest_sample_with_a_supported_percentile(self):
        pct, value, n = benchlib.tail_percentile(list(range(11)))
        self.assertEqual((value, n), (0, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(benchlib.tail_percentile([3.0, 1.0, 2.0]),
                         (100.0, 3.0, 3))
        self.assertEqual(benchlib.tail_percentile(list(range(10))),
                         (100.0, 9, 10))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.tail_percentile([])


class SelfTime(unittest.TestCase):

    def test_no_children(self):
        self.assertEqual(benchlib.self_time((0, 100), []), 100)

    def test_disjoint_children(self):
        self.assertEqual(benchlib.self_time((0, 100), [(10, 20), (30, 50)]), 70)

    def test_overlapping_children_count_once(self):
        kids = [(10, 40), (20, 60), (50, 55), (70, 80)]
        self.assertEqual(benchlib.self_time((0, 100), kids), 100 - 50 - 10)

    def test_nested_and_identical_children(self):
        kids = [(10, 90), (20, 30), (10, 90)]
        self.assertEqual(benchlib.self_time((0, 100), kids), 20)

    def test_children_clipped_to_the_span(self):
        kids = [(-50, 10), (95, 200), (300, 400)]
        self.assertEqual(benchlib.self_time((0, 100), kids), 85)

    def test_fully_covered_span(self):
        self.assertEqual(benchlib.self_time((0, 100), [(0, 60), (40, 100)]), 0)

    def test_union_ignores_empty_intervals(self):
        self.assertEqual(benchlib.union_length([(5, 5), (7, 3), (1, 2)]), 1)


class OracleNormalization(unittest.TestCase):

    def test_floats_round_to_six_places(self):
        self.assertEqual(benchlib.norm_value(0.1234564999), 0.123456)
        self.assertEqual(benchlib.norm_value(2.0000004), 2.0)
        self.assertEqual(benchlib.norm_value(7), 7)
        self.assertEqual(benchlib.norm_value("x"), "x")

    def test_nan_becomes_a_comparable_string(self):
        self.assertEqual(benchlib.norm_value(float("nan")), "NaN")
        self.assertEqual(benchlib.norm_value(math.nan),
                         benchlib.norm_value(float("nan")))

    def test_columns_sorted_by_name_then_rows_sorted(self):
        cols = ["b", "a"]
        rows = [(2, "y"), (1, "x"), (3, "w")]
        self.assertEqual(benchlib.norm_rows(cols, rows),
                         [("w", 3), ("x", 1), ("y", 2)])

    def test_same_table_in_another_column_order_compares_equal(self):
        spark = benchlib.norm_rows(["k", "v"], [("a", 1.0000001), ("b", 2.0)])
        oracle = benchlib.norm_rows(["v", "k"], [(2.0, "b"), (1.0, "a")])
        self.assertEqual(spark, oracle)

    def test_a_real_difference_survives(self):
        spark = benchlib.norm_rows(["v"], [(1.00001,)])
        oracle = benchlib.norm_rows(["v"], [(1.0,)])
        self.assertNotEqual(spark, oracle)


class SeededOrder(unittest.TestCase):

    def test_same_seed_same_plan(self):
        for w in benchlib.WORKLOADS:
            self.assertEqual(benchlib.make_plan(w, 7, 5),
                             benchlib.make_plan(w, 7, 5))

    def test_other_seed_other_order(self):
        for w in benchlib.WORKLOADS:
            self.assertNotEqual(benchlib.make_plan(w, 1, 5),
                                benchlib.make_plan(w, 2, 5))

    def test_longer_plan_extends_the_shorter(self):
        short = benchlib.make_plan("feed_scan", 3, 2)
        self.assertEqual(benchlib.make_plan("feed_scan", 3, 6)[:len(short)],
                         short)

    def test_every_pass_holds_the_whole_mix(self):
        for w in benchlib.WORKLOADS:
            plan = benchlib.make_plan(w, 11, 4)
            warm = sorted(op[1:] for op in plan if op[0] < 0)
            mixes = [sorted(op[1:] for op in plan if op[0] == p)
                     for p in range(4)]
            rounds = benchlib.WARMUP_ROUNDS
            self.assertTrue(all(sorted(m * rounds) == warm for m in mixes))
            self.assertEqual(len(plan), (4 + rounds) * len(mixes[0]))

    def test_warm_up_waves_order_the_summary_lifecycle(self):
        for w in benchlib.WORKLOADS:
            waves = [op for op in benchlib.make_plan(w, 5, 1) if op[0] < 0]
            order = [-p for p, *_ in waves]  # waves run -1 first
            self.assertEqual(order, sorted(order))
            if w != "summary_rw":
                self.assertEqual(set(order), {1, 2})
                continue
            for r in range(benchlib.WARMUP_ROUNDS):
                rnd = [op for op in waves if -3 * r - 3 <= op[0] <= -3 * r - 1]
                wave = {(k, n): -p for p, k, n, _ in rnd}
                self.assertEqual(len(wave), 10)
                setup = wave[("setup", "q172_summary_pricing")]
                drop = wave[("teardown", "q172_summary_pricing")]
                for n in benchlib.WORKLOADS[w]["reads"]:
                    self.assertTrue(setup < wave[("query", n)] < drop)

    def test_feed_and_probe_mixes(self):
        for w, size in [("feed_scan", 13), ("driver_probes", 7)]:
            ops = benchlib.one_pass(w, random.Random(0))
            self.assertEqual(len(ops), size)
            self.assertTrue(all(k == "query" for k, _, _ in ops))

    def test_summary_built_before_its_reads_and_dropped_after(self):
        for seed in range(200):
            plan = benchlib.make_plan("summary_rw", seed, 2)
            for p in (0, 1):
                ops = [op[1:] for op in plan if op[0] == p]
                kinds = [k for k, _, _ in ops]
                setup, drop = kinds.index("setup"), kinds.index("teardown")
                reads = [i for i, (_, _, r) in enumerate(ops)
                         if r == benchlib.READ]
                self.assertEqual(len(reads), 5)
                self.assertTrue(setup < min(reads) and max(reads) < drop)
                self.assertEqual(len(ops), 10)

    def test_pass_count_depends_on_seconds_only(self):
        self.assertEqual(benchlib.timed_passes(18), 2)
        self.assertEqual(benchlib.timed_passes(1), 1)
        self.assertEqual(benchlib.timed_passes(27), 3)

    def test_warm_up_queries_have_distinct_waves_per_round(self):
        # the harness writes each warm-up result under its wave, so two
        # rounds of one query must never share a wave
        for w in benchlib.WORKLOADS:
            plan = benchlib.make_plan(w, 9, 1)
            keys = [(p, n) for p, k, n, _ in plan if p < 0 and k == "query"]
            self.assertEqual(len(keys), len(set(keys)))
            names = {n for _, n in keys}
            self.assertEqual(len(keys), benchlib.WARMUP_ROUNDS * len(names))

    def test_summary_interleavings_vary_with_the_seed(self):
        shapes = {tuple(k for p, k, _, _ in benchlib.make_plan(
            "summary_rw", s, 1) if p == 0) for s in range(50)}
        self.assertGreater(len(shapes), 5)


if __name__ == "__main__":
    unittest.main()
