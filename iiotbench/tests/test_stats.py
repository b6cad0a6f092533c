"""Tests of the benchmark's own arithmetic and naming.

    python3 -m unittest discover -s iiotbench/tests
"""
import json
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))
import stats  # noqa: E402


def span(i, parent, start, end, layer="bench", pass_=1):
    return [i, parent, pass_, layer, f"s{i}", start, end, "main"]


def raw_result():
    """A small traced run: cold + 2 warm untraced passes, 2 traced ones,
    then 2 untraced ones as warm as the traced."""
    passes = []
    for i, (traced, wall) in enumerate([(False, 3.0), (False, 2.0), (False, 2.2),
                                        (True, 2.5), (True, 2.7), (False, 2.1), (False, 2.0)]):
        passes.append({"index": i, "traced": traced, "wall_s": wall, "cpu_s": 2 * wall,
                       "heap_mb": 100.0 + i,
                       "rows": 1000, "ops": 1, "ok": True, "extra": {"window.windows_out": 40.0},
                       "failed_checks": []})
    spans = []
    for p in (3, 4):
        base = p * 100
        spans += [span(base, 0, 0, 10, "bench", p), span(base + 1, base, 1, 4, "io", p),
                  span(base + 2, base, 4, 9, "model", p), span(base + 3, base + 2, 5, 7, "fed", p)]
    return {"workload": "iiot_batch", "seed": 1, "cores": 4, "env": {}, "inputs": {},
            "gen_s": 0.1, "setup_wall_s": [1.0, 0.5, 0.6], "setup_cpu_s": [2.0, 0.7, 0.8], "passes": passes, "checks": [],
            "spans": spans,
            "work": {"301": [2, 8, 4000, 500, 100, 50, 1048576, 0, 3]}}


class MedianAndPercentile(unittest.TestCase):
    def test_median_reports_its_sample_count(self):
        self.assertEqual(stats.median_n([3, 1, 2]), (2, 3))
        self.assertEqual(stats.median_n([]), (None, 0))

    def test_percentile_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.percentile(list(range(99)), 0.9))
        self.assertEqual(stats.percentile(list(range(1, 101)), 0.9), 90)
        self.assertIsNone(stats.percentile(list(range(19)), 0.5))
        self.assertEqual(stats.percentile(list(range(1, 21)), 0.5), 10)
        self.assertIsNone(stats.percentile([], 0.5))

    def test_end_to_end_names_carry_counts(self):
        e2e = stats.end_to_end(raw_result())
        self.assertEqual(e2e["setup_s"], (0.8, "s", 3))
        self.assertEqual(e2e["setup_wall_s"], (0.6, "s", 3))
        self.assertEqual(e2e["wall_s"][2], 4)
        self.assertAlmostEqual(e2e["wall_s"][0], 2.05)
        self.assertEqual(e2e["cold_s"][0], 3.0)
        self.assertEqual(e2e["cpu_s"][2], 4)
        self.assertAlmostEqual(e2e["cpu_s"][0], 4.1)
        self.assertEqual(e2e["cold_cpu_s"], (6.0, "s", 1))


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [{"id": 1, "parent": 0, "start": 0, "end": 100},
                 {"id": 2, "parent": 1, "start": 10, "end": 40},
                 {"id": 3, "parent": 1, "start": 30, "end": 60},  # overlaps 2
                 {"id": 4, "parent": 2, "start": 15, "end": 20},
                 {"id": 5, "parent": 1, "start": 90, "end": 120}]  # runs past its parent
        s = stats.self_times(spans)
        self.assertEqual(s[1], 100 - 50 - 10)
        self.assertEqual(s[2], 30 - 5)
        self.assertEqual(s[3], 30)
        self.assertEqual(s[4], 5)
        self.assertEqual(s[5], 30)

    def test_layer_self_times_add_up_to_the_pass(self):
        for _, total, _ in stats.additivity(raw_result()):
            self.assertEqual(total, 10 / 1e9)

    def test_per_layer_is_per_traced_pass(self):
        layer = stats.per_layer(raw_result())
        self.assertAlmostEqual(layer["model.self_s"][0], 3 / 1e9)
        self.assertAlmostEqual(layer["fed.self_s"][0], 2 / 1e9)
        self.assertAlmostEqual(layer["io.jobs"][0], 1.0)  # 2 jobs over 2 traced passes
        self.assertAlmostEqual(layer["trace.overhead_s"][0], 2.6 - 2.05)


class Names(unittest.TestCase):
    def test_every_metric_name_is_well_formed(self):
        spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        names += list(stats.end_to_end(raw_result())) + list(stats.per_layer(raw_result()))
        names += [f"{layer}.{suffix}" for layer in stats.LAYERS for suffix, _ in stats.GENERIC]
        for n in names:
            self.assertRegex(n, stats.NAME_RE)

    def test_benchmark_json_metrics_are_produced(self):
        spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
        e2e = stats.end_to_end(raw_result())
        layer = stats.per_layer(raw_result())
        for m in spec["end_to_end"]:
            self.assertIn(m["name"], e2e)
            self.assertEqual(e2e[m["name"]][1], m["unit"])
        for m in spec["per_layer"]:
            self.assertIn(m["name"], layer)
            self.assertEqual(layer[m["name"]][1], m["unit"])


if __name__ == "__main__":
    unittest.main()
