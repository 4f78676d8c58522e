"""Rules the benchmark's numbers rest on.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import benchlib  # noqa: E402


def span(i, parent, kind, start, end, name="q"):
    return {"type": "span", "id": i, "parent": parent, "kind": kind,
            "name": name, "start": start, "end": end}


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertIsNone(benchlib.percentile(range(99), 0.9))
        self.assertEqual(benchlib.percentile(range(1, 101), 0.9), 90)

    def test_nearest_rank(self):
        self.assertEqual(benchlib.percentile([5, 1, 3], 0.5, beyond=0), 3)
        self.assertEqual(benchlib.percentile([4, 1, 3, 2], 0.5, beyond=0), 2)

    def test_empty(self):
        self.assertIsNone(benchlib.percentile([], 0.5, beyond=0))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        parent = span(1, 0, "exec", 0, 100)
        kids = [span(2, 1, "job", 10, 40), span(3, 1, "job", 30, 50),
                span(4, 1, "job", 70, 80)]
        self.assertEqual(benchlib.self_time(parent, kids), 100 - 40 - 10)

    def test_children_clipped_to_parent(self):
        parent = span(1, 0, "exec", 0, 100)
        kids = [span(2, 1, "job", -20, 10), span(3, 1, "job", 95, 130)]
        self.assertEqual(benchlib.self_time(parent, kids), 85)

    def test_no_children(self):
        self.assertEqual(benchlib.self_time(span(1, 0, "build", 5, 9), []), 4)

    def test_layers_partition_the_query_wall(self):
        records = [
            span(1, 0, "pass", 0, 1000, "p0"),
            span(2, 1, "query", 0, 1000, "ndsh_q1"),
            span(3, 2, "build", 0, 300, "ndsh_q1"),
            span(4, 2, "action", 300, 1000, "ndsh_q1"),
            {"type": "qe", "phases": {"analysis": [310, 320], "planning": [320, 350]}},
            {"type": "job_start", "job": 0, "start": 100, "group": "p0/ndsh_q1", "callsite": "count at A.scala:1"},
            {"type": "job_end", "job": 0, "end": 200},
            {"type": "job_start", "job": 1, "start": 400, "group": "p0/ndsh_q1", "callsite": "save at B.scala:2"},
            {"type": "job_end", "job": 1, "end": 900},
            {"type": "stage", "job": 1, "stage": 7, "name": "save at B.scala:2", "start": 410, "end": 890},
        ]
        spans = benchlib.build_tree(records)
        kinds = {s["kind"] for s in spans}
        self.assertEqual(kinds, {"pass", "query", "build", "plan", "exec", "job", "stage"})
        jobs = {s["job"]: s for s in spans if s["kind"] == "job"}
        parent_kind = {s["id"]: s["kind"] for s in spans}
        self.assertEqual(parent_kind[jobs[0]["parent"]], "build")
        self.assertEqual(parent_kind[jobs[1]["parent"]], "exec")
        layers = benchlib.layer_self_times([s for s in spans if s["kind"] != "pass"])
        self.assertEqual(layers["build"], 200)
        self.assertEqual(layers["catalyst"], 40)
        self.assertEqual(layers["jobs"], 100 + 500)
        self.assertEqual(layers["driver_idle"], 650 - 500)
        self.assertEqual(layers["query_other"], 10)
        self.assertEqual(sum(layers.values()), 1000)

    def test_concurrent_jobs_count_once(self):
        records = [
            span(1, 0, "pass", 0, 100, "p0"),
            span(2, 1, "query", 0, 100, "q"),
            span(3, 2, "action", 0, 100, "q"),
            {"type": "job_start", "job": 0, "start": 10, "group": "p0/q", "callsite": "a"},
            {"type": "job_end", "job": 0, "end": 60},
            {"type": "job_start", "job": 1, "start": 20, "group": "p0/q", "callsite": "b"},
            {"type": "job_end", "job": 1, "end": 70},
        ]
        layers = benchlib.layer_self_times(benchlib.build_tree(records))
        self.assertEqual(layers["jobs"], 60)
        self.assertEqual(sum(layers.values()), 100)


class SeededPermutation(unittest.TestCase):
    names = [f"ndsh_q{i}" for i in range(1, 23)]

    def test_same_seed_same_order(self):
        self.assertEqual(benchlib.permutation(self.names, 7, "p0"),
                         benchlib.permutation(list(reversed(self.names)), 7, "p0"))

    def test_is_a_permutation(self):
        self.assertEqual(sorted(benchlib.permutation(self.names, 7, "p0")), sorted(self.names))

    def test_seed_and_pass_change_the_order(self):
        base = benchlib.permutation(self.names, 7, "p0")
        self.assertNotEqual(base, benchlib.permutation(self.names, 8, "p0"))
        self.assertNotEqual(base, benchlib.permutation(self.names, 7, "p1"))

    def test_pinned_across_python_versions(self):
        self.assertEqual(benchlib.permutation(["a", "b", "c", "d"], 1, "p0"),
                         ["a", "d", "b", "c"])


class BoundComparison(unittest.TestCase):
    def test_lower_is_better(self):
        parent = [10.0, 10.2, 9.8]
        self.assertTrue(benchlib.within_bound(parent, [10.9, 11.0, 10.8], 0.1, "lower"))
        self.assertFalse(benchlib.within_bound(parent, [11.1, 11.2, 11.3], 0.1, "lower"))
        self.assertTrue(benchlib.within_bound(parent, [5.0], 0.1, "lower"))

    def test_higher_is_better(self):
        self.assertTrue(benchlib.within_bound([100.0], [91.0], 0.1, "higher"))
        self.assertFalse(benchlib.within_bound([100.0], [89.0], 0.1, "higher"))

    def test_trend_compares_halves(self):
        self.assertAlmostEqual(benchlib.trend([4.0, 4.0, 3.0, 3.0]), -0.25)
        # the middle pass of an odd count belongs to neither half
        self.assertAlmostEqual(benchlib.trend([2.0, 9.0, 2.0]), 0.0)
        self.assertIsNone(benchlib.trend([2.0]))

    def test_spread_is_iqr_over_median(self):
        values = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        self.assertAlmostEqual(benchlib.spread(values), (8.25 - 2.75) / 5.5)


class ResultHash(unittest.TestCase):
    def test_cells_equal_under_cell_eq_hash_equal(self):
        import pandas as pd
        a = pd.DataFrame({"x": [0.0, float("nan")], "v": [[1, 2], (3,)]})
        b = pd.DataFrame({"x": [-0.0, float("nan")], "v": [(1, 2), [3]]})
        self.assertEqual(benchlib.result_hash(a), benchlib.result_hash(b))

    def test_any_cell_change_differs(self):
        import pandas as pd
        a = pd.DataFrame({"x": [1.0, 2.0]})
        b = pd.DataFrame({"x": [1.0, math.nextafter(2.0, 3.0)]})
        self.assertNotEqual(benchlib.result_hash(a), benchlib.result_hash(b))
        self.assertNotEqual(benchlib.result_hash(a), benchlib.result_hash(a.rename(columns={"x": "y"})))


if __name__ == "__main__":
    unittest.main()
