"""Tests of the benchmark's own arithmetic and of BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import benchmetrics as bm  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 201)]  # 200 samples
        v, p, n = bm.tail(xs)
        # p99 leaves 2 beyond, p95 leaves 10 beyond: p95 is the answer
        self.assertEqual((v, p, n), (190.0, 95.0, 10))

    def test_small_sample_falls_back_to_median_with_short_count(self):
        v, p, n = bm.tail([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual((v, p, n), (3.0, 50.0, 2))

    def test_ties_do_not_count_as_beyond(self):
        xs = [1.0] * 30 + [2.0] * 5
        v, p, n = bm.tail(xs)
        self.assertEqual(p, 50.0)
        self.assertEqual((v, n), (1.0, 5))

    def test_exactly_twenty_samples(self):
        v, p, n = bm.tail([float(i) for i in range(20)])
        self.assertEqual((v, p, n), (9.0, 50.0, 10))


def span(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "name": "s", "layer": layer, "start": start, "end": end}


class SelfTime(unittest.TestCase):
    def test_children_subtracted_once_when_overlapping(self):
        spans = [span(1, -1, 0.0, 10.0), span(2, 1, 1.0, 4.0), span(3, 1, 3.0, 6.0),
                 span(4, 1, 8.0, 9.0)]
        st = bm.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - 5.0 - 1.0)
        self.assertAlmostEqual(st[2], 3.0)

    def test_children_clipped_to_parent(self):
        spans = [span(1, -1, 2.0, 5.0), span(2, 1, 0.0, 3.0), span(3, 1, 4.5, 7.0)]
        self.assertAlmostEqual(bm.self_times(spans)[1], 3.0 - 1.0 - 0.5)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [span(1, -1, 0.0, 10.0, "op"), span(2, 1, 0.0, 6.0, "job"),
                 span(3, 2, 1.0, 2.0, "task")]
        by_layer = bm.self_time_by_layer(spans)
        self.assertAlmostEqual(by_layer["op"], 4.0)
        self.assertAlmostEqual(by_layer["job"], 5.0)
        self.assertAlmostEqual(by_layer["task"], 1.0)
        self.assertAlmostEqual(sum(by_layer.values()), 10.0)


def op(cls, p, secs, note=""):
    return {"cls": cls, "pass": p, "note": note, "t0": 0.0, "t1": secs,
            "bytes": 0, "voxels": 0, "ok": True}


class Headline(unittest.TestCase):
    def test_medians_and_typical_pass(self):
        ops = [op("a", 1, 1.0), op("a", 1, 3.0), op("b", 1, 10.0),
               op("a", 2, 2.0), op("a", 2, 2.5), op("b", 2, 20.0),
               op("a", 3, 5.0), op("a", 3, 9.0), op("b", 3, 90.0)]
        h = bm.headline(ops, {"a", "b"}, "a", "b")
        # a: median of six is 2.75, twice per pass; b: median 20 once per pass
        self.assertEqual(h, {"light_s": 2.75, "heavy_s": 20.0, "pass_s": 25.5})

    def test_typical_keeps_operators_of_one_class_apart(self):
        ops = [op("warm", 1, 1.0, "q1"), op("warm", 1, 10.0, "q2"),
               op("warm", 2, 3.0, "q1"), op("warm", 2, 12.0, "q2")]
        self.assertEqual(bm.typical(ops, {"warm"}), 2.0 + 11.0)

    def test_cold_pass_kept_apart_from_warm_passes(self):
        ops = [op("cold", 1, 9.0, "q1"), op("cold", 1, 7.0, "q2"),
               op("warm", 2, 1.0, "q1"), op("warm", 2, 3.0, "q2")]
        h = bm.headline(ops, {"warm"}, "warm", "cold")
        self.assertEqual(h, {"light_s": 2.0, "heavy_s": 16.0, "pass_s": 4.0})


class BenchmarkJson(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_names_every_workload(self):
        sys.path.insert(0, os.path.join(ROOT, "perfbench"))
        import run
        self.assertEqual(tuple(w["name"] for w in self.spec["workloads"]), run.WORKLOADS)

    def test_end_to_end_metrics(self):
        e2e = {m["name"]: m for m in self.spec["end_to_end"]}
        self.assertEqual(set(e2e), {"setup_s", "retained_heap_mb", "light_s", "heavy_s", "pass_s"})
        self.assertEqual((e2e["setup_s"]["unit"], e2e["setup_s"]["better"]), ("s", "lower"))
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in e2e.values()))

    def test_per_layer_metrics_match_what_run_py_computes(self):
        names = [m["name"] for m in self.spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        raw = {"ops": [], "listener": {}, "ladder": {}, "info": {},
               "pass_classes": ["a"], "light": "a", "heavy": "a"}
        self.assertEqual(set(names), set(bm.per_layer(raw, [])))

    def test_per_layer_covers_every_layer(self):
        names = {m["name"] for m in self.spec["per_layer"]}
        for layer in ("store", "codec", "buffer", "volume", "voxelscan", "volumeops", "ops",
                      "registry", "stream", "spark", "trace"):
            self.assertTrue(any(n.startswith(layer + ".") for n in names), layer)

    def test_doc_table_uses_the_json_names(self):
        with open(os.path.join(ROOT, "perfbench", "DESIGN.md")) as f:
            doc = f.read()
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertIn(f"`{m['name']}`", doc, m["name"])


if __name__ == "__main__":
    unittest.main()
