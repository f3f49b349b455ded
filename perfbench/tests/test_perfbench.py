"""Tests for the benchmark's own code: generators, statistics, span
arithmetic and the comparison verdicts.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import shutil
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import pyarrow.parquet as pq  # noqa: E402

import compare  # noqa: E402
import gen      # noqa: E402
import stats    # noqa: E402


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_same_digest(self):
        for w in sorted(gen.GENERATORS):
            a, sa = gen.generate(w, 7, os.path.join(self.tmp, w, "a"))
            b, sb = gen.generate(w, 7, os.path.join(self.tmp, w, "b"))
            self.assertEqual(a, b, w)
            self.assertEqual(sa, sb, w)

    def test_other_seed_other_digest(self):
        a, _ = gen.generate("etl_daily", 1, os.path.join(self.tmp, "a"))
        b, _ = gen.generate("etl_daily", 2, os.path.join(self.tmp, "b"))
        self.assertNotEqual(a, b)

    def test_planted_corpus_shares(self):
        _, s = gen.generate("corpus_graph", 3, self.tmp)
        self.assertAlmostEqual(s["corpus.planted.exact_dup"], gen.CORPUS_EXACT_DUP_SHARE, 2)
        self.assertAlmostEqual(s["corpus.planted.near_dup"], gen.CORPUS_NEAR_DUP_SHARE, 2)
        self.assertAlmostEqual(s["corpus.planted.contaminated"], gen.CORPUS_CONTAM_SHARE, 2)

    def test_graphs_straddle_the_thresholds(self):
        _, s = gen.generate("corpus_graph", 3, self.tmp)
        self.assertLess(s["graph.small.edges"], gen.GRAPH_LOCAL_EDGE_THRESHOLD)
        self.assertGreater(s["graph.large.edges"], gen.GRAPH_LOCAL_EDGE_THRESHOLD)
        self.assertGreater(s["graph.large.nodes"], gen.GRAPH_LOCAL_NODE_THRESHOLD)
        t = pq.read_table(os.path.join(self.tmp, "graph_large.parquet"))
        u, v = t.column("u").to_pylist(), t.column("v").to_pylist()
        self.assertTrue(all(a < b for a, b in zip(u, v)))
        self.assertEqual(len(set(zip(u, v))), len(u))


class StatsTest(unittest.TestCase):
    def test_percentile(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertEqual(stats.percentile(xs, 75), 4)
        self.assertAlmostEqual(stats.percentile([1, 2], 75), 1.75)
        self.assertEqual(stats.percentile([9], 75), 9)

    def test_quartiles_match_statistics(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.relative_spread(xs), (q3 - q1) / q2)
        self.assertEqual(stats.quartiles([2.0]), (2.0, 2.0, 2.0))

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([(0, 10), (10, 12)]), 12)
        # clipped to a window
        self.assertEqual(stats.union_length([(0, 10), (20, 30)], 5, 25), 10)
        self.assertEqual(stats.union_length([(0, 4)], 5, 25), 0)

    def test_self_time(self):
        parent = {"t0_ms": 0, "t1_ms": 1000}
        kids = [{"t0_ms": 100, "t1_ms": 400}, {"t0_ms": 300, "t1_ms": 500},
                {"t0_ms": 900, "t1_ms": 1500}]
        self.assertAlmostEqual(stats.self_time(parent, kids), 0.5)
        self.assertAlmostEqual(stats.self_time(parent, []), 1.0)

    def _span(self, i, name, parent, t0, t1, traced=True):
        return {"id": i, "name": name, "parent": parent, "op": 1, "traced": traced,
                "t0_ms": t0, "t1_ms": t1, "dur_s": (t1 - t0) / 1000.0}

    def test_layer_counters_gap_and_attribution(self):
        spans = [self._span(1, "outer", 0, 0, 1000), self._span(2, "inner", 1, 200, 600)]
        jobs = [
            {"id": 0, "span": 1, "t0_ms": 0, "t1_ms": 100, "shuffle_write": 1e6,
             "shuffle_read": 0, "input": 2e6, "output": 0},
            {"id": 1, "span": 2, "t0_ms": 250, "t1_ms": 450, "shuffle_write": 0,
             "shuffle_read": 0, "input": 0, "output": 3e6},
            {"id": 2, "span": 2, "t0_ms": 400, "t1_ms": 550, "shuffle_write": 0,
             "shuffle_read": 0, "input": 0, "output": 1e6},
        ]
        per = stats.layer_counters(spans, jobs)
        # inner: jobs cover 250..550 of 200..600 -> gap 100 ms
        self.assertEqual(per[2]["jobs"], 2)
        self.assertAlmostEqual(per[2]["gap_s"], 0.1)
        self.assertAlmostEqual(per[2]["write_mb"], 4.0)
        # outer counts its own job and its child's: 0..100 and 250..550 -> gap 600 ms
        self.assertEqual(per[1]["jobs"], 3)
        self.assertAlmostEqual(per[1]["gap_s"], 0.6)
        self.assertAlmostEqual(per[1]["read_mb"], 2.0)
        self.assertAlmostEqual(per[1]["shuffle_mb"], 1.0)

    def test_untraced_spans_have_no_layer_counters(self):
        spans = [self._span(1, "x", 0, 0, 10, traced=False)]
        self.assertEqual(stats.layer_counters(spans, []), {})

    def test_per_layer_reports_every_metric(self):
        rec = {"spans": [self._span(1, "cycle", 0, 0, 1000),
                         self._span(2, "etl.runDs", 1, 100, 190),
                         self._span(3, "etl.runDs", 1, 200, 310),
                         self._span(4, "etl.runDs", 1, 310, 410, traced=False)],
               "jobs": [], "counters": {"etl.stage.l2_merge_ms": 5.0}}
        m = stats.per_layer(rec)
        self.assertEqual(list(m), stats.layer_metric_names())
        self.assertEqual(len(m), 20 * 6 + 8)
        self.assertAlmostEqual(m["etl.runDs.wall_s"], 0.1)   # median of 0.09, 0.11 (traced)
        self.assertEqual(m["ann.query.wall_s"], 0.0)
        self.assertEqual(m["graph.kcore.dist.jobs"], 0.0)
        self.assertEqual(m["etl.stage.l2_merge_ms"], 5.0)

    def test_overhead_ratio_pairs_the_same_call(self):
        # probes: traced 0.12/0.10 over untraced 0.10/0.10 -> 1.1; 2.0/2.0 -> 1.0
        spans = [self._span(1, "overhead.a", 0, 0, 120),
                 self._span(2, "overhead.a", 0, 200, 300, traced=False),
                 self._span(3, "overhead.a", 0, 300, 400, traced=False),
                 self._span(4, "overhead.a", 0, 400, 500),
                 self._span(5, "overhead.b", 0, 0, 2000),
                 self._span(6, "overhead.b", 0, 2000, 4000, traced=False),
                 # other spans, traced or not, do not count
                 self._span(7, "etl.runDs", 0, 0, 9000),
                 self._span(8, "etl.runDs", 0, 0, 10, traced=False)]
        self.assertAlmostEqual(stats.overhead_ratio(spans), (1.1 + 1.0) / 2)

    def test_end_to_end(self):
        def sp(i, name, parent, dur, cpu=0.0, items=0.0, traced=False):
            return {"id": i, "name": name, "parent": parent, "op": 1, "traced": traced,
                    "t0_ms": 0, "t1_ms": int(dur * 1000), "dur_s": dur, "cpu_s": cpu,
                    "items": items}
        rec = {"setup_s": 9.5, "peak_rss_mb": 1000.0,
               "spans": [sp(1, "cycle", 0, 10.0, cpu=30.0),
                         sp(2, "etl.runDs", 1, 1.0, cpu=2.0, items=100),
                         sp(3, "etl.runDs", 1, 2.0, cpu=1.0, items=100),
                         sp(4, "etl.runDs", 1, 0.2, cpu=3.0),   # rejected day: no items
                         sp(5, "etl.runDs", 1, 4.0, cpu=6.0, items=100),
                         sp(6, "etl.runDs", 1, 9.0, cpu=9.0, items=100, traced=True)]}
        m = stats.end_to_end("etl_daily", rec)
        self.assertEqual(m["setup_s"], 9.5)
        self.assertAlmostEqual(m["op_cpu_s"], 2.5)      # median of 2, 1, 3, 6 (untraced)
        self.assertAlmostEqual(m["items_per_cpu_s"], 300 / 9.0)
        self.assertEqual(m["cycle_cpu_s"], 30.0)
        self.assertEqual(m["peak_rss_mb"], 1000.0)
        w = stats.wall_clock("etl_daily", rec)
        self.assertAlmostEqual(w["op_p50_s"], 1.5)
        self.assertAlmostEqual(w["op_p75_s"], 2.5)
        self.assertAlmostEqual(w["items_per_s"], 300 / 7.0)
        self.assertEqual(w["cycle_s"], 10.0)


class VerdictTest(unittest.TestCase):
    def _runs(self, vals):
        return [{"workload": "w", "trace": 0, "seed": i,
                 "metrics": {"t": {"value": v, "unit": "s"}}} for i, v in enumerate(vals)]

    def _verdict(self, base, change, better="lower", bound=0.1):
        b, c = self._runs(base), self._runs(change)
        pv = [(x["metrics"]["t"]["value"], y["metrics"]["t"]["value"])
              for x, y in compare.pairs(b, c)]
        return compare.verdict(base, change, pv, better, bound)

    def test_improved(self):
        base = [10.0, 10.1, 9.9, 10.2, 10.0, 9.8, 10.1, 10.0, 9.9, 10.0]
        change = [v * 0.8 for v in base]
        v, ws = self._verdict(base, change)
        self.assertEqual(v, "improved")
        self.assertEqual(ws, 1.0)

    def test_worse(self):
        base = [10.0, 10.1, 9.9, 10.2, 10.0, 9.8, 10.1, 10.0, 9.9, 10.0]
        self.assertEqual(self._verdict(base, [v * 1.3 for v in base])[0], "worse")

    def test_within_bound(self):
        base = [10.0, 10.1, 9.9, 10.2, 10.0, 9.8, 10.1, 10.0, 9.9, 10.0]
        change = [10.1, 10.0, 10.0, 10.1, 9.9, 10.0, 10.2, 9.9, 10.0, 10.1]
        self.assertEqual(self._verdict(base, change)[0], "within bound")

    def test_unresolved_when_spread_exceeds_bound(self):
        base = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        change = [v * 1.05 for v in base]
        self.assertEqual(self._verdict(base, change)[0], "unresolved")

    def test_higher_is_better(self):
        base = [100.0, 101.0, 99.0, 100.0, 100.5, 99.5, 100.0, 100.2, 99.8, 100.0]
        self.assertEqual(self._verdict(base, [v * 1.2 for v in base], "higher")[0], "improved")
        self.assertEqual(self._verdict(base, [v * 0.7 for v in base], "higher")[0], "worse")

    def test_pairs_by_seed_then_order(self):
        b = [{"seed": 1}, {"seed": 2}, {"seed": 5}]
        c = [{"seed": 2}, {"seed": 1}, {"seed": 9}]
        ps = compare.pairs(b, c)
        self.assertEqual([(x["seed"], y["seed"]) for x, y in ps], [(1, 1), (2, 2), (5, 9)])


if __name__ == "__main__":
    unittest.main()
