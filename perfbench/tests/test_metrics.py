"""Metric math: median, tail percentile, quartile spread, self times.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


def span(name, start, end, parent="unit", **kw):
    return dict(name=name, start_ns=start, end_ns=end, parent=parent, **kw)


class SummaryTest(unittest.TestCase):

    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            metrics.median([])

    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(list(range(10))))
        pct, v = metrics.tail_percentile(list(range(11)))
        self.assertAlmostEqual(pct, 100 / 11)
        self.assertEqual(v, 0)
        pct, v = metrics.tail_percentile(list(range(100, 0, -1)))
        self.assertEqual((pct, v), (90.0, 90))
        # exactly ten samples lie above the value
        xs = [5.0, 1.0, 9.0, 7.0, 3.0, 8.0, 2.0, 6.0, 4.0, 10.0, 11.0, 12.0]
        pct, v = metrics.tail_percentile(xs)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_quartile_spread(self):
        xs = [10.0] * 10
        self.assertEqual(metrics.quartile_spread(xs), 0.0)
        xs = [8, 9, 10, 11, 12]
        q1, q2, q3 = 8.5, 10, 11.5  # statistics.quantiles exclusive method
        self.assertAlmostEqual(metrics.quartile_spread(xs), (q3 - q1) / q2)


class SelfTimeTest(unittest.TestCase):

    def test_prefix_self_subtracts_the_previous_prefix(self):
        got = metrics.prefix_self([("scan", 1.0), ("parse", 1.5), ("sess", 3.0),
                                   ("write", 4.5)])
        self.assertEqual(got, {"scan": 1.0, "parse": 0.5, "sess": 1.5, "write": 1.5})
        self.assertAlmostEqual(sum(got.values()), 4.5)

    def test_span_self_subtracts_covered_child_time_once(self):
        parent = span("unit", 0, 100, parent="")
        kids = [span("a", 10, 30), span("b", 20, 50), span("c", 90, 120)]
        # covered: [10,50] + [90,100] = 50
        self.assertEqual(metrics.span_self(parent, kids), 50)
        self.assertEqual(metrics.covered([(0, 5), (5, 7), (10, 11)]), 8)
        self.assertEqual(metrics.span_self(parent, []), 100)


class LayerTest(unittest.TestCase):

    def test_feed_export_layers_account_for_the_unit(self):
        s = 1_000_000_000
        spans = [
            span("probe.scan", 0, 1 * s, "probe", rows=110),
            span("probe.parse", 1 * s, 3 * s, "probe", rows=100),
            span("probe.sessionize", 3 * s, 6 * s, "probe", rows=100),
            span("sources.rawFeed", 10 * s, 10 * s + 10, "unit"),
            span("ingest.parse", 10 * s + 10, 10 * s + 20, "unit"),
            span("exports.writeAll", 10 * s + 20, 14 * s, "unit", cache_peak_bytes=77),
            span("exports.rename", 14 * s, 14 * s + s // 2, "unit"),
            span("exports.files", 0, 0, "check", files=6, bytes=5000, visits_rows=40),
            span("unit", 10 * s, 15 * s, ""),
        ]
        for sp in spans:
            sp["group"] = f"u1/{sp['name']}"
        stages = [dict(group="u1/probe.sessionize", shuffle_write=300, shuffle_read=300,
                       disk_spill=0, task_ms=[10, 10, 40], tasks=3, run_ms=60, cpu_ns=0,
                       gc_ms=0, in_bytes=0, out_bytes=0),
                  dict(group="u1/exports.writeAll", shuffle_write=0, shuffle_read=0,
                       disk_spill=0, task_ms=[5], tasks=1, run_ms=4000, cpu_ns=0,
                       gc_ms=0, in_bytes=0, out_bytes=5000)]
        m = metrics.unit_layers("feed_export", 1, spans, stages, [], [], [], cores=4)
        # probes take 1, 2 and 3 s, each containing the one before it
        self.assertEqual(m["sources.scan_s"], 1.0)
        self.assertEqual(m["ingest.parse_s"], 1.0)
        self.assertEqual(m["session.sessionize_s"], 1.0)
        self.assertAlmostEqual(m["exports.write_s"], 1.0 - 2e-8)
        self.assertEqual(m["exports.rename_s"], 0.5)
        self.assertEqual(m["session.task_skew"], 4.0)
        self.assertEqual(m["exports.bytes_per_hit"], 50.0)
        self.assertEqual(m["ingest.keep_ratio"], 100 / 110)
        self.assertAlmostEqual(m["trace.unaccounted_s"], 0.5)
        self.assertEqual(m["spark.task_s"], 4.0)
        self.assertEqual(m["spark.idle_core_s"], 5.0 * 4 - 4.0)


class ContractTest(unittest.TestCase):

    def test_reported_metrics_are_the_ones_benchmark_json_names(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         metrics.PER_LAYER)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         metrics.E2E_UNITS)


if __name__ == "__main__":
    unittest.main()
