#!/usr/bin/env python3
"""Self-tests of the benchmark's statistics.

    python3 perfbench/test_stats.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats


def span(i, parent, start, end, name="job", op="q"):
    return {"id": i, "parent": parent, "name": name, "op": op,
            "start_ms": float(start), "end_ms": float(end), "attrs": {}}


class QuantileTest(unittest.TestCase):
    def test_symmetric_sample_median_is_the_middle(self):
        self.assertAlmostEqual(stats.quantile(list(range(1, 34))[::-1], 0.5), 17.0, places=6)

    def test_constant_sample(self):
        self.assertAlmostEqual(stats.quantile([0.4] * 26, 0.5), 0.4, places=9)

    def test_weights_sum_to_one(self):
        self.assertAlmostEqual(stats._beta_cdf(1.0, 3.5, 7.5) - stats._beta_cdf(0.0, 3.5, 7.5), 1.0)
        self.assertAlmostEqual(stats._beta_cdf(0.5, 17, 17), 0.5, places=9)

    def test_does_not_jump_across_a_gap(self):
        # 16 small ops, one in the middle, 16 large: the middle order
        # statistic swings with the one op; the estimate moves far less
        low, high = [0.3] * 16, [0.9] * 16
        a = stats.quantile(low + [0.35] + high, 0.5)
        b = stats.quantile(low + [0.85] + high, 0.5)
        self.assertLess(abs(a - b), (0.85 - 0.35) / 3)
        self.assertTrue(0.3 < a < b < 0.9)


class TailTest(unittest.TestCase):
    def test_percentile_leaves_ten_ops_beyond(self):
        values = list(range(1, 42))
        value, pct, n = stats.tail(values)
        self.assertEqual(n, 41)
        self.assertAlmostEqual(pct, 100 * 31 / 41)
        # estimated where the 11th-largest sample (31) sits
        self.assertTrue(30 < value < 32, value)

    def test_percentile_rises_with_sample_count(self):
        _, p33, _ = stats.tail(range(33))
        _, p1000, _ = stats.tail(range(1000))
        self.assertAlmostEqual(p33, 100 * 23 / 33)
        self.assertAlmostEqual(p1000, 99.0)

    def test_order_of_samples_does_not_matter(self):
        values = [0.2, 3.1, 0.5, 0.9, 1.7, 0.3, 0.25, 2.2, 0.4, 0.6, 1.1, 0.45, 0.8]
        self.assertEqual(stats.tail(values), stats.tail(sorted(values)))

    def test_too_few_samples_raise(self):
        with self.assertRaises(ValueError):
            stats.tail(list(range(10)))


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span(1, 0, 0, 10)]), {1: 10.0})

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100, "op"), span(2, 1, 10, 50), span(3, 1, 30, 70),
                 span(4, 1, 60, 65)]
        self.assertEqual(stats.self_times(spans)[1], 100 - 60)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, 10, 20, "op"), span(2, 1, 5, 15), span(3, 1, 18, 40)]
        self.assertEqual(stats.self_times(spans)[1], 10 - 5 - 2)

    def test_nesting_charges_each_level_once(self):
        spans = [span(1, 0, 0, 100, "op"), span(2, 1, 0, 80, "queries.construct"),
                 span(3, 2, 20, 60), span(4, 3, 20, 30, "stage"), span(5, 3, 25, 40, "stage")]
        selfs = stats.self_times(spans)
        self.assertEqual(selfs, {1: 20.0, 2: 40.0, 3: 20.0, 4: 10.0, 5: 15.0})
        self.assertEqual(sum(selfs.values()) - 5, 100)  # the stages overlap by 5

    def test_orphans_join_the_innermost_driver_span(self):
        spans = [span(1, 0, 0, 100, "op", "a"), span(2, 1, 50, 90, "execute", "a"),
                 span(3, -1, 60, 62, "catalyst.planning", ""),
                 span(4, -1, 10, 12, "catalyst.analysis", ""),
                 span(5, -1, 200, 210, "catalyst.analysis", "")]
        placed = {s["id"]: s for s in stats.attach_orphans(spans)}
        self.assertEqual((placed[3]["parent"], placed[3]["op"]), (2, "a"))
        self.assertEqual(placed[4]["parent"], 1)
        self.assertEqual(placed[5]["parent"], 0)

    def test_self_by_layer_sums_in_seconds(self):
        spans = [span(1, 0, 0, 1000, "op"), span(2, 1, 0, 400, "job"),
                 span(3, 0, 2000, 2500, "op")]
        by = stats.self_by_layer(spans)
        self.assertEqual(sorted(by), ["job", "op"])
        self.assertAlmostEqual(by["op"], 1.1)
        self.assertAlmostEqual(by["job"], 0.4)


class FailureTest(unittest.TestCase):
    def test_raised_and_mismatched_ops_fail(self):
        ops = [{"name": "a", "latency_s": 1, "error": None},
               {"name": "b", "latency_s": 1, "error": "boom"},
               {"name": "c", "latency_s": 1, "error": None},
               {"name": "c", "latency_s": 1, "error": None}]
        self.assertEqual(stats.count_failures(ops, set()), (4, 1))
        # a failed output check fails every execution of that op
        self.assertEqual(stats.count_failures(ops, {"c"}), (4, 3))
        # an op that both raised and mismatched counts once
        self.assertEqual(stats.count_failures(ops, {"b"}), (4, 1))

    def test_clean_run_has_no_failures(self):
        ops = [{"name": "a", "latency_s": 1, "error": None}]
        self.assertEqual(stats.count_failures(ops, set()), (1, 0))



class OverheadTest(unittest.TestCase):
    @staticmethod
    def pairs(overhead, second_faster, n=10):
        # every op takes 1 s untraced; the second run of a pair is faster
        out = []
        for k in range(n):
            first = k % 2 == 0
            traced = (1 + overhead) * (1.0 if first else 1 - second_faster)
            untraced = 1 - second_faster if first else 1.0
            out.append({"traced_s": traced, "untraced_s": untraced, "traced_first": first})
        return out

    def test_no_overhead_reads_zero(self):
        self.assertAlmostEqual(stats.paired_overhead(self.pairs(0.0, 0.0))[0], 0.0)

    def test_order_effect_cancels(self):
        self.assertAlmostEqual(stats.paired_overhead(self.pairs(0.05, 0.2))[0], 0.05)
        self.assertAlmostEqual(stats.paired_overhead(self.pairs(0.0, 0.3))[0], 0.0)

    def test_one_disturbed_op_does_not_move_it(self):
        pairs = self.pairs(0.05, 0.1)
        pairs[0] = dict(pairs[0], traced_s=pairs[0]["traced_s"] * 5)
        self.assertAlmostEqual(stats.paired_overhead(pairs)[0], 0.05)

    def test_needs_both_orders(self):
        with self.assertRaises(ValueError):
            stats.paired_overhead([p for p in self.pairs(0.0, 0.0) if p["traced_first"]])


if __name__ == "__main__":
    unittest.main()
