"""Unit tests of the benchmark's own arithmetic: run with

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


def span(sid, name, start, end, parent=-1, **attrs):
    return {"id": sid, "name": name, "parent": parent, "group": "g%d" % sid,
            "start": start, "end": end, "attrs": attrs}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)

    def test_percentile_interpolates(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(stats.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 90.1)
        self.assertEqual(stats.percentile([5.0], 90), 5.0)


class MediansAndQuartiles(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_quartiles_match_statistics_quantiles(self):
        xs = [9.0, 1.0, 7.0, 3.0, 5.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertAlmostEqual(stats.relative_spread(xs), (q3 - q1) / q2)

    def test_single_value(self):
        self.assertEqual(stats.quartiles([4.0]), (4.0, 4.0, 4.0))
        self.assertEqual(stats.relative_spread([4.0]), 0.0)


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.union_length([(0, 4), (1, 2)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], 2, 5), 3)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_union_of_children(self):
        parent = span(0, "p", 0.0, 100.0)
        kids = [span(1, "a", 10.0, 40.0, 0), span(2, "b", 30.0, 50.0, 0),
                span(3, "c", 90.0, 120.0, 0)]
        # children cover 10..50 and 90..100 of the parent: 50 ms
        self.assertEqual(stats.self_ms(parent, kids), 50.0)

    def test_span_table_driver_time_and_subtree_counters(self):
        spans = [span(0, "flow", 0.0, 100.0), span(1, "query.build_index", 10.0, 60.0, 0)]
        groups = {"g0": {"jobs": 1, "job_intervals": [[70.0, 80.0]]},
                  "g1": {"jobs": 2, "job_intervals": [[15.0, 30.0], [20.0, 40.0]]}}
        table, _ = stats.span_table(spans, groups)
        self.assertEqual(table[0]["self_ms"], 50.0)
        self.assertEqual(table[0]["jobs"], 3)
        # jobs run during 15..40 and 70..80 of the flow
        self.assertEqual(table[0]["driver_ms"], 65.0)
        self.assertEqual(table[1]["driver_ms"], 25.0)


PINS = {"ingest": {"3": [10, 100, 0]}, "flow": {"passages": 5, "recall_at_10": 0.9},
        "catalog": {"q1": "abc"}}


class FailedFraction(unittest.TestCase):
    def ingest_op(self, rows, tokens):
        return {"key": "salt3", "salt": 3, "ms": 5.0, "items": rows,
                "observed": {"rows": rows, "tokens": tokens, "nulls": 0, "reread": rows}}

    def test_injected_wrong_answer_counts(self):
        raw = {"workload": "ingest", "info": {},
               "ops": [self.ingest_op(10, 100), self.ingest_op(10, 101), self.ingest_op(10, 100)]}
        checked = stats.checked_ops(raw, PINS)
        self.assertAlmostEqual(stats.failed_fraction(checked), 1 / 3)

    def test_error_counts_and_right_answers_do_not(self):
        ok_ask = {"key": "q1", "observed": {"answer": "x"}, "expected": {"answer": "x"}}
        bad_ask = {"key": "q2", "observed": {"answer": "x"}, "expected": {"answer": "y"}}
        err = {"key": "q3", "error": "boom"}
        checks = [stats.check_op("ask", o, PINS) for o in (ok_ask, bad_ask, err)]
        self.assertIsNone(checks[0])
        self.assertIsNotNone(checks[1])
        self.assertIsNotNone(checks[2])

    def test_flow_and_catalog_checks(self):
        good = {"key": "flow", "observed": {"passages": 5, "recall_at_10": 0.9}}
        low = {"key": "flow", "observed": {"passages": 5, "recall_at_10": 0.85}}
        self.assertIsNone(stats.check_op("catalog", good, PINS))
        self.assertIsNotNone(stats.check_op("catalog", low, PINS))
        self.assertIsNone(stats.check_op("catalog", {"key": "q1", "observed": {"hash": "abc"}}, PINS))
        self.assertIsNotNone(stats.check_op("catalog", {"key": "q1", "observed": {"hash": "abd"}}, PINS))

    def test_catalog_setup_calls_are_checked_too(self):
        raw = {"workload": "catalog", "ops": [{"key": "q1", "observed": {"hash": "abc"}}],
               "info": {"setup_calls": [{"key": "q1", "observed": {"hash": "zzz"}}]}}
        self.assertEqual(stats.failed_fraction(stats.checked_ops(raw, PINS)), 0.5)


class Metrics(unittest.TestCase):
    def test_catalog_pass_is_one_timed_operation(self):
        raw = {"workload": "catalog", "ops": [
            {"key": "a", "op": 0, "ms": 1.0, "items": 1, "traced": False},
            {"key": "b", "op": 0, "ms": 2.0, "items": 1, "traced": False},
            {"key": "a", "op": 1, "ms": 5.0, "items": 1, "traced": True}]}
        self.assertEqual(stats.op_times(raw, traced=False), [(3.0, 2)])
        self.assertEqual(stats.op_times(raw, traced=True), [(5.0, 1)])

    def test_every_per_layer_metric_is_emitted(self):
        raw = {"workload": "ask", "spans": [], "groups": {}, "info": {},
               "ops": [{"key": "q", "op": 0, "ms": 2.0, "items": 1, "traced": False}]}
        out = stats.per_layer(raw)
        self.assertEqual(set(out), set(stats.per_layer_names()))
        self.assertEqual(len(stats.per_layer_names()), len(set(stats.per_layer_names())))

    def test_instrumentation_checks_name_per_layer_metrics(self):
        for workload, names in stats.MUST_BE_POSITIVE.items():
            self.assertIn(workload, stats.WORKLOADS)
            self.assertLessEqual(set(names), set(stats.per_layer_names()))


class BenchmarkFile(unittest.TestCase):
    """BENCHMARK.json names what run.py prints."""

    def setUp(self):
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names_match(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(stats.WORKLOADS))
        self.assertEqual([m["name"] for m in self.bench["per_layer"]], stats.per_layer_names())
        raw = {"workload": "ask", "setup_s": 1.0, "peak_rss_kb": 1024,
               "ops": [{"key": "q", "op": 0, "ms": 2.0, "items": 1, "traced": False}]}
        e2e = stats.end_to_end(raw)
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]},
                         {n: u for n, (_, u) in e2e.items()})
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]},
                         {n: stats.unit_of(n) for n in stats.per_layer_names()})


if __name__ == "__main__":
    unittest.main()
