"""Percentile and span arithmetic behind the reported metrics."""
import json
import os
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import run  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_median(self):
        self.assertEqual(run.median([3, 1, 2]), 2)
        self.assertEqual(run.median([4, 1, 2, 3]), 2.5)

    def test_quartiles_match_exclusive_method(self):
        # statistics.quantiles' default 'exclusive' method: positions
        # (n + 1) * p, interpolated
        q1, m, q3 = run.quartiles(list(range(1, 11)))
        self.assertAlmostEqual(q1, 2.75)
        self.assertAlmostEqual(m, 5.5)
        self.assertAlmostEqual(q3, 8.25)

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(run.spread([10.0] * 10), 0.0)
        self.assertAlmostEqual(run.spread(list(range(1, 11))), 5.5 / 5.5)
        self.assertAlmostEqual(run.spread([98, 99, 100, 101, 102]),
                               (101.5 - 98.5) / 100)


class ServingMetrics(unittest.TestCase):
    def test_per_shape_medians_and_median_round(self):
        one = {"attributes": [{"name": "u0/view", "y_axis": 0}]}
        two = {"attributes": [{"name": "u0/view", "y_axis": 0},
                              {"name": "u1/click", "y_axis": 1}]}
        ops = [{"id": f"c{c}-{r}", "kind": "image",
                "spec": {"body": one if c == 0 else two}}
               for c in range(2) for r in range(3)]
        plan = {"clients": [ops[:3], ops[3:]]}
        ms = {"c0-0": 900, "c0-1": 100, "c0-2": 110,
              "c1-0": 1900, "c1-1": 300, "c1-2": 200}
        resp = [{"id": i, "kind": "image", "client": int(i[1]), "ms": v,
                 "status": 200, "wire_bytes": 1024 * (1 + int(i[1]))}
                for i, v in ms.items()]
        m = run.serving_metrics("viewer-pan", plan, resp, [2.0, 0.4, 0.3])
        # the slow first round sets neither figure
        self.assertAlmostEqual(m["p50_ms"][0], (110 + 300) / 2)
        self.assertAlmostEqual(m["rps"][0], 2 / 0.4)
        self.assertAlmostEqual(m["resp_kb"][0], 1.5)


def span(req, i, parent, name, start, end):
    return {"req": req, "id": i, "parent": parent, "name": name,
            "start_ns": start * 10**6, "end_ns": end * 10**6}


class Spans(unittest.TestCase):
    def test_self_time_and_coverage(self):
        spans = [
            span("a", 0, -1, "request", 0, 100),
            span("a", 1, 0, "server.parse", 0, 5),
            span("a", 2, 0, "api.image", 5, 95),
            span("a", 3, 2, "cache.persist", 5, 35),
            span("a", 4, 2, "operators.extrema", 35, 55),
            span("a", 5, 2, "operators.padRange", 55, 56),
            span("a", 6, 2, "render.shade", 60, 70),
            span("a", 7, 2, "render.shade", 70, 75),
            span("a", 8, 0, "server.gzip", 95, 99),
            span("b", 0, -1, "request", 0, 10),
            span("b", 1, 0, "server.parse", 0, 3),
            span("b", 2, 0, "api.attributes", 3, 10),
            span("b", 3, 2, "operators.catalog", 3, 9),
        ]
        m = run.span_metrics(spans)
        self.assertAlmostEqual(m["server.parse_ms"], 4.0)      # (5 + 3) / 2
        self.assertAlmostEqual(m["operators.extrema_ms"], 21.0)  # a only
        self.assertAlmostEqual(m["render.shade_ms"], 15.0)
        self.assertAlmostEqual(m["api.image_ms"], 90.0)
        # api self: a 90 - 30 - 20 - 1 - 15 = 24, b 7 - 6 = 1
        self.assertAlmostEqual(m["api.self_ms"], 12.5)
        self.assertAlmostEqual(m["server.self_ms"], (5 + 4 + 3) / 2)
        # uncovered: root self (a 1, b 0) + api self (24 + 1) of 110
        self.assertAlmostEqual(m["trace.coverage_pct"], 100 * (1 - 26 / 110))


class Declared(unittest.TestCase):
    def test_benchmark_json_lists_what_run_reports(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         list(run.PER_LAYER.items()))
        self.assertEqual([w["name"] for w in b["workloads"]],
                         ["viewer-pan", "grafana-mix", "pipeline-batch"])


if __name__ == "__main__":
    unittest.main()
