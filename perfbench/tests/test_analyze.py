"""Unit tests for the benchmark's pure logic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analyze  # noqa: E402


def span(sid, start, end, parent="", name="x", request=0):
    return {"id": sid, "name": name, "parent": parent, "request": request,
            "start": start, "end": end}


class PercentileTest(unittest.TestCase):
    def test_median_matches_statistics(self):
        for xs in ([3.0], [1, 2], [5, 1, 4, 2, 3], [0.5, 9.0, 2.5, 2.5]):
            self.assertAlmostEqual(analyze.median(xs), statistics.median(xs))

    def test_interpolates_between_ranks(self):
        xs = list(range(1, 11))  # 1..10
        self.assertAlmostEqual(analyze.percentile(xs, 90), 9.1)
        self.assertEqual(analyze.percentile(xs, 0), 1)
        self.assertEqual(analyze.percentile(xs, 100), 10)

    def test_p90_of_100_samples_has_ten_beyond(self):
        xs = list(range(100))
        p90 = analyze.percentile(xs, 90)
        self.assertEqual(sum(1 for x in xs if x > p90), 10)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            analyze.percentile([], 50)


class SelfTimeTest(unittest.TestCase):
    def test_no_children_is_whole_duration(self):
        self.assertEqual(analyze.self_time(span("a", 0, 10), []), 10)

    def test_overlapping_children_count_once(self):
        kids = [span("b", 1, 4), span("c", 3, 6)]
        self.assertEqual(analyze.self_time(span("a", 0, 10), kids), 5)

    def test_children_clipped_to_the_span(self):
        kids = [span("b", -5, 2), span("c", 8, 20)]
        self.assertEqual(analyze.self_time(span("a", 0, 10), kids), 6)

    def test_disjoint_and_nested_children(self):
        kids = [span("b", 1, 2), span("c", 4, 9), span("d", 5, 6)]
        self.assertEqual(analyze.self_time(span("a", 0, 10), kids), 4)

    def test_covered_ignores_intervals_outside(self):
        self.assertEqual(analyze.covered([(20, 30), (-3, -1)], 0, 10), 0)


class AttributionTest(unittest.TestCase):
    def setUp(self):
        self.spans = [span("r", 0, 100), span("a", 0, 50, parent="r"),
                      span("a1", 10, 20, parent="a"), span("b", 50, 100, parent="r"),
                      span("other", 0, 100)]
        self.kids = analyze.children_of(self.spans)

    def test_subtree(self):
        self.assertEqual(analyze.subtree_ids("a", self.kids), {"a", "a1"})
        self.assertEqual(analyze.subtree_ids("r", self.kids), {"r", "a", "a1", "b"})

    def test_records_go_to_their_group_and_its_ancestors(self):
        jobs = [{"job": 1, "group": "a1"}, {"job": 2, "group": "b"},
                {"job": 3, "group": "other"}, {"job": 4, "group": ""}]
        ids = lambda sid: [j["job"] for j in analyze.attributed(sid, self.kids, jobs)]
        self.assertEqual(ids("a"), [1])
        self.assertEqual(ids("r"), [1, 2])
        self.assertEqual(ids("other"), [3])
        self.assertEqual(ids("a1"), [1])

    def test_exec_metrics_of_one_span(self):
        s = span("a", 1000, 2000)
        trace = {
            "jobs": [{"group": "a", "start": 1100, "end": 1400},
                     {"group": "a", "start": 1300, "end": 1600},
                     {"group": "b", "start": 1000, "end": 2000}],
            "stages": [{"stage": 1, "group": "a", "submitted": 1100, "completed": 1400},
                       {"stage": 2, "group": "a", "submitted": 1400, "completed": 1500}],
            "tasks": [
                {"stage": 1, "group": "a", "launch": 1110, "finish": 1210, "ok": True,
                 "attempt": 0, "cpu_ns": 5e7, "gc_ms": 10, "peak_mem": 2e6,
                 "spill": 0, "sw_bytes": 1e6, "sw_records": 10, "sr_bytes": 0,
                 "fetch_wait_ms": 0, "in_bytes": 3e6, "out_bytes": 0},
                {"stage": 1, "group": "a", "launch": 1120, "finish": 1420, "ok": True,
                 "attempt": 0, "cpu_ns": 5e7, "gc_ms": 0, "peak_mem": 4e6,
                 "spill": 1e6, "sw_bytes": 1e6, "sw_records": 10, "sr_bytes": 0,
                 "fetch_wait_ms": 0, "in_bytes": 3e6, "out_bytes": 0},
                {"stage": 2, "group": "a", "launch": 1400, "finish": 1500, "ok": False,
                 "attempt": 1, "cpu_ns": 0, "gc_ms": 0, "peak_mem": 0, "spill": 0,
                 "sw_bytes": 0, "sw_records": 0, "sr_bytes": 2e6,
                 "fetch_wait_ms": 20, "in_bytes": 0, "out_bytes": 5e5},
                {"stage": 9, "group": "b", "launch": 1000, "finish": 2000, "ok": True,
                 "attempt": 0}]}
        m = analyze.exec_metrics(s, analyze.children_of([s]), trace, cores=2)
        self.assertEqual(m["exec.tasks"], 3)
        self.assertEqual(m["jobs"], 2)
        self.assertAlmostEqual(m["exec.task_s"], 0.5)
        self.assertAlmostEqual(m["exec.task_cpu_s"], 0.1)
        self.assertAlmostEqual(m["exec.core_idle_frac"], 1 - 500 / 2000)
        self.assertAlmostEqual(m["driver.gap_s"], 0.5)  # jobs cover 1100..1600
        self.assertAlmostEqual(m["exec.task_skew"], 300 / 200)  # stage 1: 100, 300
        self.assertEqual(m["exec.sched_delay_ms"], 10)  # delays 10, 20, 0
        self.assertEqual(m["exec.failed_tasks"], 1)
        self.assertAlmostEqual(m["exec.peak_exec_mem_MB"], 4.0)
        self.assertAlmostEqual(m["spill.MB"], 1.0)
        self.assertAlmostEqual(m["shuffle.write_MB"], 2.0)
        self.assertAlmostEqual(m["shuffle.read_MB"], 2.0)
        self.assertEqual(m["shuffle.records"], 20)
        self.assertAlmostEqual(m["shuffle.fetch_wait_s"], 0.02)
        self.assertAlmostEqual(m["io.read_MB"], 6.0)
        self.assertAlmostEqual(m["io.write_MB"], 0.5)


class WordcountCheckTest(unittest.TestCase):
    ORACLE = ["a 2", "b 1", "ü 3"]

    def write_output(self, parts, success=True):
        d = tempfile.mkdtemp()
        for i, text in enumerate(parts):
            with open(os.path.join(d, f"part-{i:05d}.txt"), "w", encoding="utf-8") as f:
                f.write(text)
        if success:
            open(os.path.join(d, "_SUCCESS"), "w").close()
        return d

    def test_equal_output_in_any_part_order_passes(self):
        d = self.write_output(["ü 3\n", "", "b 1\na 2\n"])
        self.assertTrue(analyze.check_wordcount(
            self.ORACLE, analyze.read_text_output(d)))

    def test_wrong_count_fails(self):
        d = self.write_output(["a 2\nb 2\nü 3\n"])
        self.assertFalse(analyze.check_wordcount(
            self.ORACLE, analyze.read_text_output(d)))

    def test_missing_or_duplicate_key_fails(self):
        for parts in (["a 2\nü 3\n"], ["a 2\nb 1\nü 3\n", "a 2\n"]):
            d = self.write_output(parts)
            self.assertFalse(analyze.check_wordcount(
                self.ORACLE, analyze.read_text_output(d)))

    def test_uncommitted_output_fails(self):
        d = self.write_output(["a 2\nb 1\nü 3\n"], success=False)
        self.assertFalse(analyze.check_wordcount(
            self.ORACLE, analyze.read_text_output(d)))


class NeardupCheckTest(unittest.TestCase):
    # groups {3, 7, 9} -> 3 and {5, 8} -> 5; 1 and 2 are singletons
    TRUTH = {1: 1, 2: 2, 3: 3, 7: 3, 9: 3, 5: 5, 8: 5}

    def test_expected_survivors(self):
        self.assertEqual(analyze.expected_survivors(self.TRUTH),
                         {1: 1, 2: 1, 3: 3, 5: 2})

    def test_survivors(self):
        good = [(3, 3), (1, 1), (5, 2), (2, 1)]
        self.assertTrue(analyze.check_survivors(good, self.TRUTH))
        self.assertFalse(analyze.check_survivors(good[:-1], self.TRUTH))
        self.assertFalse(analyze.check_survivors(good + [(2, 1)], self.TRUTH))
        # a chain split in two: 9 survives on its own
        self.assertFalse(analyze.check_survivors(
            [(3, 2), (9, 1), (1, 1), (5, 2), (2, 1)], self.TRUTH))

    def test_clusters(self):
        rows = sorted(self.TRUTH.items())
        self.assertTrue(analyze.check_clusters(rows, self.TRUTH))
        bad = [(d, 7 if d == 9 else c) for d, c in rows]
        self.assertFalse(analyze.check_clusters(bad, self.TRUTH))
        self.assertFalse(analyze.check_clusters(rows[1:], self.TRUTH))
        self.assertFalse(analyze.check_clusters(rows + [rows[0]], self.TRUTH))


class KnnCheckTest(unittest.TestCase):
    ONE_SHOT = [(10, 1, 1, 90), (10, 2, 2, 80), (10, 3, 3, 80),
                (11, 4, 1, 70), (11, 1, 2, 60), (11, 9, 3, 10)]

    def setUp(self):
        self.ref = analyze.reference_rows(self.ONE_SHOT)

    def test_reference_orders_by_rank(self):
        self.assertEqual(self.ref[10], [(1, 90), (2, 80), (3, 80)])

    def test_matching_request_passes(self):
        rows = [r for r in self.ONE_SHOT if r[0] == 11]
        self.assertTrue(analyze.check_request(rows, [11], 3, self.ref))
        self.assertTrue(analyze.check_request(self.ONE_SHOT, [11, 10], 3, self.ref))

    def test_short_or_missing_query_fails(self):
        self.assertFalse(analyze.check_request(self.ONE_SHOT[:5], [10, 11], 3, self.ref))
        self.assertFalse(analyze.check_request(self.ONE_SHOT[:3], [10, 11], 3, self.ref))

    def test_bad_ranks_fail(self):
        rows = [(10, 1, 1, 90), (10, 2, 2, 80), (10, 3, 2, 80)]
        self.assertFalse(analyze.check_request(rows, [10], 3, self.ref))

    def test_increasing_sim_fails(self):
        rows = [(10, 1, 1, 90), (10, 2, 2, 80), (10, 3, 3, 85)]
        self.assertFalse(analyze.check_request(rows, [10], 3, {10: [(1, 90), (2, 80), (3, 85)]}))

    def test_different_neighbors_fail(self):
        rows = [(10, 1, 1, 90), (10, 2, 2, 80), (10, 7, 3, 80)]
        self.assertFalse(analyze.check_request(rows, [10], 3, self.ref))

    def test_recall(self):
        exact = {10: [1, 2, 5], 12: [1, 2, 3]}
        self.assertEqual(analyze.recall_counts(self.ONE_SHOT, exact), (2, 3))


if __name__ == "__main__":
    unittest.main()
