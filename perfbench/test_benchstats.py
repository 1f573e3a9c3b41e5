"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import math
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import benchstats as bs  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(bs.percentile(xs, 50), 50)
        self.assertEqual(bs.percentile(xs, 90), 90)
        # a value of the sample, never an interpolation
        self.assertEqual(bs.percentile([1, 3] * 60, 50), 1)
        self.assertEqual(bs.percentile([7.0] * 150, 90), 7.0)

    def test_needs_ten_samples_beyond(self):
        # p90 of 100 samples leaves exactly 10 beyond: allowed
        bs.percentile(range(100), 90)
        # p90 of 99 samples leaves 9 beyond: refused
        with self.assertRaises(ValueError):
            bs.percentile(range(99), 90)
        # p95 needs 200 samples
        bs.percentile(range(200), 95)
        with self.assertRaises(ValueError):
            bs.percentile(range(199), 95)

    def test_highest_percentile_keeps_ten_beyond(self):
        self.assertEqual(bs.highest_percentile(range(1, 71)), (85, 60))  # 10 beyond rank 60
        self.assertEqual(bs.highest_percentile(range(1, 101)), (90, 90))
        self.assertEqual(bs.highest_percentile(range(1, 201)), (95, 190))
        with self.assertRaises(ValueError):
            bs.highest_percentile(range(10))

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 20
        self.assertEqual(bs.percentile(xs, 50), bs.percentile(sorted(xs), 50))

    def test_bounds(self):
        for p in (0, 100, -1):
            with self.assertRaises(ValueError):
                bs.percentile(range(1000), p)
        with self.assertRaises(ValueError):
            bs.percentile([], 50, min_beyond=0)


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    def test_leaf_is_all_self(self):
        self.assertEqual(bs.self_times([span(1, 0, 0, 10)]), {1: 10})

    def test_disjoint_children(self):
        st = bs.self_times([span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60)])
        self.assertEqual(st[1], 100 - 20 - 10)
        self.assertEqual(st[2], 20)

    def test_overlapping_children_count_once(self):
        # children 10..50 and 30..70 cover 10..70 = 60, not 40 + 40
        st = bs.self_times([span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 30, 70)])
        self.assertEqual(st[1], 40)

    def test_nested_child_inside_child(self):
        st = bs.self_times([span(1, 0, 0, 100), span(2, 1, 20, 40), span(3, 1, 25, 35),
                            span(4, 2, 22, 24)])
        self.assertEqual(st[1], 80)
        self.assertEqual(st[2], 18)

    def test_child_sticking_out_is_clipped(self):
        st = bs.self_times([span(1, 0, 0, 100), span(2, 1, 90, 130)])
        self.assertEqual(st[1], 90)

    def test_grandchildren_do_not_count_for_the_root(self):
        st = bs.self_times([span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 60, 90)])
        self.assertEqual(st[1], 50)


class GeomeanOfMedians(unittest.TestCase):
    def test_groups_weigh_alike(self):
        # medians 10 and 1000, however many samples each group has
        self.assertAlmostEqual(bs.geomean_of_medians({"a": [10, 9, 11], "b": [1000] * 9}), 100)

    def test_outliers_inside_a_group_do_not_count(self):
        self.assertAlmostEqual(bs.geomean_of_medians({"a": [10, 10, 5000]}), 10)

    def test_no_groups_is_refused(self):
        with self.assertRaises(ValueError):
            bs.geomean_of_medians({})


class SubtreeSums(unittest.TestCase):
    def test_descendants_count_for_their_ancestors(self):
        spans = [{"id": 1, "parent": 0}, {"id": 2, "parent": 1}, {"id": 3, "parent": 2},
                 {"id": 4, "parent": 1}]
        st = bs.subtree_sums(spans, {1: 1, 2: 10, 3: 100, 4: 1000})
        self.assertEqual(st, {1: 1111, 2: 110, 3: 100, 4: 1000})

    def test_spans_without_a_value_count_zero(self):
        spans = [{"id": 1, "parent": 0}, {"id": 2, "parent": 1}]
        self.assertEqual(bs.subtree_sums(spans, {2: 5}), {1: 5, 2: 5})


class MetricNames(unittest.TestCase):
    def test_charset(self):
        for ok in ("setup_s", "operator.cpu_s", "streaming.q10.events_per_s", "a-b.c_d", "9x"):
            self.assertTrue(bs.valid_name(ok), ok)
        for bad in ("", "_lead", ".lead", "has space", "p95%", "a/b", "é", "x" * 65):
            self.assertFalse(bs.valid_name(bad), bad)

    def test_every_declared_metric_is_valid_and_unique(self):
        names = [n for n, _ in run.E2E] + [n for n, _ in run.PER_LAYER]
        for n in names:
            self.assertTrue(bs.valid_name(n), n)
        self.assertEqual(len(set(names)), len(names))
        self.assertLessEqual(len(run.PER_LAYER), 128)

    def test_manifest_declares_what_the_runs_print(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            manifest = json.load(fh)
        self.assertEqual([(x["name"], x["unit"]) for x in manifest["end_to_end"]], run.E2E)
        self.assertEqual([(x["name"], x["unit"]) for x in manifest["per_layer"]], run.PER_LAYER)
        self.assertEqual([w["name"] for w in manifest["workloads"]], list(run.WORKLOADS))


def stream_result(passes):
    n = len(run.NEXMARK_QUERIES)
    calls = [{"query": q, "s": 0.5 + i, "events": 8000}
             for i in range(passes) for q in run.NEXMARK_QUERIES]
    batches = [{"query": q, "trigger_ms": 10 * (i + 1) + p}
               for p in range(passes) for i, q in enumerate(run.NEXMARK_QUERIES) for _ in range(6)]
    return {"workload": "stream_nexmark", "setup_s": [9.0, 1.0, 2.0],
            "samples": {"calls": calls, "batches": batches}}


def corpus_result():
    stages = {"dedup_full": 2.0, "index_build": 1.0, "against_index": 1.0, "append": 1.0,
              "ivf_build": 0.5, "ivf_append": 0.25, "ann_query": 1.5, "ann_ivf": 1.0,
              "ann_exact": 0.75}
    info = {"dedup_recall": 1.0, "ann_recall_at_10": 0.999}
    return {"workload": "corpus_pipeline", "setup_s": [9.0, 1.0, 2.0],
            "samples": {"docs": 2000, "queries": 100,
                        "passes": [{"stage_s": stages, "info": info}] * 2}}


class EndToEnd(unittest.TestCase):
    """Every workload prints every end-to-end metric, in its unit."""

    def check_complete(self, res):
        metrics, named = run.end_to_end(res)
        self.assertEqual([(k, v["unit"]) for k, v in metrics.items()], run.E2E)
        for k, v in metrics.items():
            self.assertGreater(v["value"], 0, k)
        self.assertEqual(metrics["setup_s"]["value"], 2.0)  # median round
        return metrics, named

    def test_stream(self):
        metrics, named = self.check_complete(stream_result(2))
        n = len(run.NEXMARK_QUERIES)
        # pass time: the median pass's calls (0.5 s, then 1.5 s, per call)
        self.assertAlmostEqual(metrics["pass_s"]["value"], (0.5 * n + 1.5 * n) / 2)
        self.assertAlmostEqual(metrics["throughput_per_s"]["value"], 2 * n * 8000 / (2.0 * n))
        # each query's median micro-batch is 10 * (i + 1) + 0.5; their geometric mean
        self.assertAlmostEqual(metrics["latency_ms"]["value"],
                               math.exp(statistics.mean(math.log(10 * (i + 1) + 0.5)
                                                        for i in range(n))))
        self.assertEqual(named["stream_events_per_s"], metrics["throughput_per_s"]["value"])

    def test_corpus(self):
        metrics, named = self.check_complete(corpus_result())
        self.assertAlmostEqual(metrics["pass_s"]["value"], 9.0)
        self.assertAlmostEqual(metrics["throughput_per_s"]["value"], 1000.0)
        self.assertAlmostEqual(metrics["latency_ms"]["value"], (1.5 + 1.0 + 0.75) * 1e3 / 300)
        self.assertAlmostEqual(named["ingest_docs_per_s"], 2000 / 3.0)
        self.assertAlmostEqual(named["ann_build_s"], 0.75)


class Ratios(unittest.TestCase):
    def test_carries_its_base(self):
        r = bs.Ratio(974, 1000, "candidate pairs with >= 2 band matches")
        self.assertAlmostEqual(r.value, 0.974)
        d = r.describe()
        self.assertEqual((d["num"], d["den"]), (974, 1000))
        self.assertEqual(d["base"], "candidate pairs with >= 2 band matches")

    def test_empty_base_is_refused(self):
        with self.assertRaises(ValueError):
            bs.Ratio(0, 0, "candidate pairs")


class Skew(unittest.TestCase):
    def test_even_stages(self):
        self.assertEqual(bs.task_skew([[10, 10, 10, 10]]), 1.0)

    def test_single_task_stages_are_ignored(self):
        self.assertEqual(bs.task_skew([[500]]), 1.0)

    def test_weighted_by_longest_task(self):
        # stage A: max 40 / median 10 = 4, weight 40; stage B: 2 / 2 = 1, weight 2
        self.assertAlmostEqual(bs.task_skew([[10, 10, 40], [2, 2]]), (40 * 4 + 2 * 1) / 42)


if __name__ == "__main__":
    unittest.main()
