"""Unit tests of the benchmark's helpers (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import metrics  # noqa: E402
import run  # noqa: E402


def span(id, name, parent, start, end, **kw):
    return dict(id=id, name=name, parent=parent, start=start, end=end, **kw)


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond_when_there_are_enough(self):
        xs = list(range(1, 31))  # 30 samples
        value, pct, n = metrics.tail(xs)
        self.assertEqual(n, 30)
        self.assertEqual(value, 20)  # 21..30 are the ten beyond it
        self.assertAlmostEqual(pct, 100 * 20 / 30)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3] * 5), metrics.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_backs_off_to_half_with_few_samples(self):
        value, pct, n = metrics.tail([0.1 * i for i in range(1, 9)])  # 8 samples
        self.assertAlmostEqual(value, 0.4)  # four beyond it
        self.assertEqual(pct, 50.0)
        self.assertEqual(metrics.tail([7.0]), (7.0, 100.0, 1))
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0))

    def test_21_samples_is_the_median(self):
        xs = list(range(21))
        self.assertEqual(metrics.tail(xs)[0], metrics.median(xs))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_and_overhanging_children(self):
        spans = [span(1, "op", -1, 0, 100),
                 span(2, "a", 1, 10, 30), span(3, "b", 1, 20, 50),
                 span(4, "c", 1, 90, 120)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)  # [10,50] and [90,100] covered
        self.assertEqual(st[2], 20)
        self.assertEqual(st[4], 30)

    def test_union_clips(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30)], 2, 25), 18)


class AttributionTest(unittest.TestCase):
    def ledger_spans(self):
        return metrics.nest_batches([
            span(1, "Engine.runStream", -1, 0, 1000),
            span(2, "batch", 1, 0, 400, batch=0),
            span(3, "batch", 1, 400, 900, batch=1),
            span(4, "StepDag.run", 1, 300, 390, batch=0),
            span(5, "StepDag.run", 1, 800, 880, batch=1),
        ])

    def test_live_spans_nest_under_their_batch(self):
        by_id = {s["id"]: s for s in self.ledger_spans()}
        self.assertEqual(by_id[4]["parent"], 2)
        self.assertEqual(by_id[5]["parent"], 3)

    def test_jobs_go_to_the_innermost_span_or_their_batch(self):
        spans = self.ledger_spans()
        jobs = [dict(job=10, span=1, batch=0),   # merge job: inherits the stream span
                dict(job=11, span=4, batch=0),   # view job inside batch 0
                dict(job=12, span=1, batch=1),
                dict(job=13, span=7, batch=-1),  # unknown span stays as carried
                dict(job=14, span=1, batch=-1)]
        got = metrics.attribute_jobs(jobs, spans)
        self.assertEqual(got, {10: 2, 11: 4, 12: 3, 13: 7, 14: 1})

    def test_cost_sums_stages_of_jobs_under_a_span(self):
        raw = {"spans": [span(1, "w", -1, 0, 100, workload=True),
                         span(2, "mor_commit", 1, 0, 60, op=True),
                         span(3, "MergeApply.apply", 2, 5, 55)],
               "jobs": [dict(job=1, start=10, span=3, batch=-1, stages=[1, 2]),
                        dict(job=1, end=50),
                        dict(job=2, start=70, span=1, batch=-1, stages=[3])],
               "stages": [dict(stage=s, submit=10 * s, complete=10 * s + 8, tasks=2,
                               run_ms=6, cpu_ns=4e6, gc_ms=0, shuffle_write=100,
                               shuffle_read=0, spill=0, records_in=5, bytes_out=0)
                          for s in (1, 2, 3)],
               "tasks": [[1, 10, 15, 5], [1, 11, 16, 5], [2, 20, 25, 5], [3, 30, 33, 3]]}
        L = metrics.Ledger(raw, cores=2)
        c = L.cost([L.by_id[2]])
        self.assertEqual((c["jobs"], c["stages"], c["tasks"]), (1, 2, 4))
        self.assertEqual(c["shuffle_write"], 200)
        self.assertEqual(c["busy_ms"], 6 + 5)        # [10,16] and [20,25]
        self.assertEqual(c["sched_ms"], (8 - 5) * 2)  # stage wall - longest task
        self.assertEqual(L.cost([L.by_id[1]])["stages"], 3)


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)

    def names(self, key):
        return {m["name"] for m in self.spec[key]}

    def test_per_layer_prints_every_named_metric(self):
        res = {"cores": 4, "probe_s": 0.1, "gen_s": 1.0, "warmup_s": 2.0}
        pass_ = {"window_s": 1.0, "window": {"start": 0, "end": 1000}}
        L = metrics.Ledger({"spans": [span(1, "w", -1, 0, 1000, workload=True)]}, 4)
        values = metrics.per_layer(res, pass_, L, 1.0)
        self.assertEqual(set(values), self.names("per_layer"))
        self.assertTrue(all(isinstance(v, (int, float)) for v in values.values()))

    def test_workloads_match_the_runner(self):
        self.assertEqual(tuple(w["name"] for w in self.spec["workloads"]), run.WORKLOADS)

    def test_end_to_end_prints_every_metric(self):
        res = {"peak_rss_mb": 100.0, "cores": 4}
        pass_ = {"window_s": 2.0, "cpu_s": 3.0, "ledger": {"spans": [
            span(1, "w", -1, 0, 2000, workload=True),
            span(2, "q", 1, 0, 500, op=True, ok=True),
            span(3, "q", 1, 500, 2000, op=True, ok=True)]}}
        L = metrics.Ledger(pass_["ledger"], 4)
        values, extra = metrics.end_to_end(res, pass_, L, 9.0, 2, 0)
        self.assertEqual(set(values), self.names("end_to_end"))
        self.assertEqual(values["op_p50_s"], 1.0)
        self.assertEqual(extra["op_samples"], 2)


if __name__ == "__main__":
    unittest.main()
