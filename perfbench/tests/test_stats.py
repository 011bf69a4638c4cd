"""Tests for the benchmark's statistics and bookkeeping.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import metrics, stats  # noqa: E402


class MedianAndPercentile(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_median_of_nothing_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile_interpolates_linearly(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertAlmostEqual(stats.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 95), 95.05)

    def test_percentile_of_one_sample(self):
        self.assertEqual(stats.percentile([7.0], 95), 7.0)

    def test_percentile_range_checked(self):
        with self.assertRaises(ValueError):
            stats.percentile([1, 2], 101)

    def test_summary_states_the_sample_count(self):
        s = stats.summary([5.0] * 30)
        self.assertEqual(s["n"], 30)
        self.assertEqual(s["p50"], 5.0)


class TailPercentile(unittest.TestCase):
    def test_samples_beyond(self):
        self.assertEqual(stats.samples_beyond(200, 95), 10)
        self.assertEqual(stats.samples_beyond(199, 95), 9)
        self.assertEqual(stats.samples_beyond(100, 90), 10)
        self.assertEqual(stats.samples_beyond(1000, 99), 10)

    def test_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(200)]
        p, v = stats.tail_percentile(xs)
        self.assertEqual(p, 95.0)
        self.assertAlmostEqual(v, stats.percentile(xs, 95))

    def test_just_below_a_threshold_falls_back(self):
        self.assertEqual(stats.tail_percentile([1.0] * 199)[0], 90.0)
        self.assertEqual(stats.tail_percentile([1.0] * 99)[0], 75.0)
        self.assertEqual(stats.tail_percentile([1.0] * 10000)[0], 99.9)

    def test_too_few_samples_for_any_tail(self):
        self.assertIsNone(stats.tail_percentile([1.0] * 19))
        self.assertEqual(stats.tail_percentile([1.0] * 20)[0], 50.0)
        self.assertNotIn("tail", stats.summary([1.0] * 5))


class FailureAccounting(unittest.TestCase):
    def test_fraction(self):
        self.assertEqual(stats.failed_frac(40, 0), 0.0)
        self.assertEqual(stats.failed_frac(40, 10), 0.25)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)

    def test_more_failed_than_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.failed_frac(3, 4)

    def test_failed_run_reports_failure_in_per_layer(self):
        raw = {"samples": {"setup_s": [1.0]}, "counters": {}, "attempted": 8, "failed": 2}
        out = metrics.per_layer(raw, cores=4)
        self.assertEqual(out["failed_ops_frac"], 0.25)
        # every per-layer metric is present, unexercised layers read 0
        self.assertEqual(set(out), set(metrics.PER_LAYER))
        self.assertEqual(out["sources.ZipSource.opens_per_archive"], 0.0)

    def test_per_layer_records_host_steal(self):
        raw = {"samples": {}, "counters": {}, "attempted": 1, "failed": 0}
        self.assertEqual(metrics.per_layer(raw, cores=4, steal=0.03)["host.cpu_steal_frac"], 0.03)

    def test_end_to_end_leaves_out_untimed_metrics(self):
        # a run whose top-level calls all failed recorded no timing for them
        raw = {"samples": {"setup_s": [2.0], "read_ms": [5.0]}, "counters": {}}
        self.assertEqual(metrics.end_to_end(raw), {"setup_s": 2.0, "read_ms_p50": 5.0})


class Ratios(unittest.TestCase):
    def test_write_amp_sums_over_cycles(self):
        self.assertAlmostEqual(stats.write_amp([300, 500], [100, 100]), 4.0)

    def test_write_amp_needs_raw_bytes(self):
        with self.assertRaises(ValueError):
            stats.write_amp([1], [0])

    def test_opens_per_archive(self):
        # 3 archives, each opened 5 times per cycle, over 2 cycles
        self.assertEqual(stats.opens_per_archive([15, 15], 3), 5.0)
        self.assertAlmostEqual(stats.opens_per_archive([15, 16], 3), 31 / 6)

    def test_opens_per_archive_needs_a_base(self):
        with self.assertRaises(ValueError):
            stats.opens_per_archive([15], 0)
        with self.assertRaises(ValueError):
            stats.opens_per_archive([], 3)



class TracingOverhead(unittest.TestCase):
    def test_neighbour_differences_cancel_drift(self):
        # calls speed up by 1 s each; tracing costs 0.5 s
        traced = [10.5, 8.5, 6.5]    # calls 0, 2, 4
        untraced = [9.0, 7.0]        # calls 1, 3
        self.assertAlmostEqual(stats.tracing_overhead(traced, untraced), 0.5)

    def test_needs_both_kinds(self):
        self.assertIsNone(stats.tracing_overhead([1.0], []))
        self.assertAlmostEqual(stats.tracing_overhead([2.0], [1.5]), 0.5)


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "name": name, "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span(1, 0, 0, 10)]), {1: 10})

    def test_disjoint_children(self):
        st = stats.self_times([span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60)])
        self.assertEqual(st[1], 70)
        self.assertEqual(st[2], 20)

    def test_overlapping_children_count_once(self):
        st = stats.self_times([span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 40, 70)])
        self.assertEqual(st[1], 40)  # children cover [10, 70)

    def test_child_sticking_out_is_clipped(self):
        st = stats.self_times([span(1, 0, 0, 100), span(2, 1, 90, 130)])
        self.assertEqual(st[1], 90)

    def test_grandchildren_do_not_reduce_the_root_twice(self):
        st = stats.self_times([span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 10, 20)])
        self.assertEqual(st[1], 50)
        self.assertEqual(st[2], 40)
        self.assertEqual(st[3], 10)

    def test_descendants(self):
        spans = [span(1, 0, 0, 9), span(2, 1, 0, 9), span(3, 2, 0, 9), span(4, 0, 0, 9)]
        self.assertEqual(stats.descendants(spans, [1]), {1, 2, 3})

    def test_self_time_table_aggregates_by_name(self):
        raw = {"trace_dump": {"spans": [span(1, 0, 0, 2_000_000_000, "op"),
                                        span(2, 1, 0, 500_000_000, "load"),
                                        span(3, 0, 0, 1_000_000_000, "op")]}}
        t = metrics.self_time_table(raw)
        self.assertEqual(t["op"]["n"], 2)
        self.assertAlmostEqual(t["op"]["self_s"], 2.5)
        self.assertAlmostEqual(t["load"]["total_s"], 0.5)


class Catalog(unittest.TestCase):
    def test_names_units_and_directions_fit_the_benchmark_file(self):
        import re
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
        for table in (metrics.END_TO_END, metrics.PER_LAYER):
            for n, (u, better, *_rest) in table.items():
                self.assertRegex(n, name)
                self.assertRegex(u, unit)
                self.assertIn(better, ("higher", "lower"))

    def test_benchmark_file_matches_the_catalog(self):
        import json
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        path = os.path.join(root, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("BENCHMARK.json not present")
        with open(path) as fh:
            b = json.load(fh)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]},
                         {k: v[:2] for k, v in metrics.END_TO_END.items()})
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]},
                         {k: v[:2] for k, v in metrics.PER_LAYER.items()})


if __name__ == "__main__":
    unittest.main()
