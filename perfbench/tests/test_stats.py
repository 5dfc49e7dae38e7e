"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from stats import SpanTree, median, tail, union_length, uncovered  # noqa: E402


def span(i, name, parent, start, end, **counters):
    return {"id": i, "name": name, "parent": parent, "op": 0,
            "start": start, "end": end, "counters": counters}


class UnionTest(unittest.TestCase):
    def test_overlapping_and_nested_intervals_count_once(self):
        self.assertEqual(union_length([(0, 10), (5, 15), (6, 7), (20, 25)]), 20)

    def test_touching_intervals_merge(self):
        self.assertEqual(union_length([(0, 5), (5, 10)]), 10)

    def test_clipped_to_window(self):
        self.assertEqual(union_length([(-5, 5), (8, 30)], 0, 10), 7)

    def test_empty_and_inverted(self):
        self.assertEqual(union_length([]), 0)
        self.assertEqual(union_length([(5, 3)]), 0)

    def test_job_gap_is_time_with_no_job(self):
        # jobs 10-40 and 30-60 overlap, 80-90 apart: busy 60 of 100
        self.assertEqual(uncovered(0, 100, [(10, 40), (30, 60), (80, 90)]), 40)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_are_subtracted_once(self):
        tree = SpanTree(
            [span(0, "op", -1, 0, 100), span(1, "a", 0, 10, 50),
             span(2, "b", 0, 40, 70)],
            jobs=[{"id": 0, "start": 60, "end": 90}])
        # children cover 10-70, the job (issued by `b`, which was open at
        # its start) does not count for `op`; op's own self time is 40
        self.assertEqual(tree.self_ms(0), 40)
        # `b` issued the job: 40-70 minus the job's 60-70 inside it
        self.assertEqual(tree.self_ms(2), 20)

    def test_jobs_count_as_children(self):
        tree = SpanTree([span(0, "pipeline.silver", -1, 0, 100)],
                        jobs=[{"id": 0, "start": 10, "end": 30},
                              {"id": 1, "start": 20, "end": 50}])
        self.assertEqual(tree.self_ms(0), 60)

    def test_jobs_and_stages_attach_to_innermost_span(self):
        tree = SpanTree(
            [span(0, "op", -1, 0, 100), span(1, "inner", 0, 20, 40)],
            jobs=[{"id": 7, "start": 25, "end": 35}, {"id": 8, "start": 50, "end": 60}],
            stages=[{"id": 3, "job": 7, "tasks": 4}])
        self.assertEqual([j["id"] for j in tree.jobs[1]], [7])
        self.assertEqual([j["id"] for j in tree.jobs[0]], [8])
        self.assertEqual(tree.stages[1][0]["id"], 3)

    def test_gap_excludes_probes_and_counts_subtree_jobs(self):
        tree = SpanTree(
            [span(0, "sources.merge_fact", -1, 0, 100),
             span(1, "bench.probe", 0, 0, 20), span(2, "inner", 0, 30, 60)],
            jobs=[{"id": 0, "start": 5, "end": 15},     # probe job: ignored
                  {"id": 1, "start": 35, "end": 50}])   # inner's job
        self.assertEqual(tree.gap_ms(0), 100 - 20 - 15)
        self.assertEqual(tree.active_ms(0), 80)
        self.assertEqual(tree.spark(0, cores=1)["spark.jobs"], 1)

    def test_counters_sum_over_subtree(self):
        tree = SpanTree([span(0, "op", -1, 0, 10, rows_inserted=5),
                         span(1, "bench.probe", 0, 1, 2, bytes_written=100)])
        self.assertEqual(tree.counters(0, "rows_inserted"), 5)
        self.assertEqual(tree.counters(0, "bytes_written"), 100)


class PercentileTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 2, 3]), 2.5)
        self.assertIsNone(median([]))

    def test_no_tail_below_twenty_samples(self):
        # 19 samples: the median has only 9 beyond it
        self.assertIsNone(tail(list(range(19))))

    def test_median_at_twenty_samples(self):
        self.assertEqual(tail(list(range(1, 21))), (50, 10))

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))
        # p90 leaves exactly 10 samples beyond it; p95 only 5
        self.assertEqual(tail(xs), (90, 90))
        self.assertEqual(tail(list(range(1, 1001))), (99, 990))
        self.assertEqual(tail(list(range(1, 41))), (75, 30))
        self.assertEqual(tail(list(range(1, 40))), (50, 20))

    def test_order_does_not_matter(self):
        self.assertEqual(tail(list(range(100, 0, -1))), (90, 90))


if __name__ == "__main__":
    unittest.main()
