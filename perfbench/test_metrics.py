"""Self-checks of the benchmark's statistics and attribution arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


def op(i, start, end, traced=True, kind="op", items=1, ok=True):
    return {"id": i, "kind": kind, "start": start, "end": end, "items": items, "ok": ok,
            "traced": traced, "fs": {"read_ops": 0, "write_ops": 0, "bytes_read": 0,
                                     "bytes_written": 1}}


def span(i, parent, op_id, start, end, name="s"):
    return {"id": i, "name": name, "parent": parent, "op": op_id, "start": start, "end": end}


def job(i, submit, end, span_id="", desc="", stages=()):
    return {"id": i, "submit": submit, "end": end, "span": span_id, "desc": desc,
            "stages": list(stages)}


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct, n = metrics.tail(list(range(1, 26)))
        self.assertEqual((value, pct, n), (15, 60.0, 25))

    def test_is_the_highest_such_percentile(self):
        xs = list(range(100))
        value, pct, _ = metrics.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(pct, 90.0)

    def test_ties_do_not_count_as_beyond(self):
        # ten samples above 1 only once the whole run of ties is below
        value, pct, _ = metrics.tail([1] * 15 + [2] * 9 + [3])
        self.assertEqual(value, 1)
        self.assertEqual(pct, 60.0)

    def test_too_few_samples_give_the_maximum(self):
        self.assertEqual(metrics.tail([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(metrics.tail(list(range(10)))[1], 100.0)
        self.assertEqual(metrics.tail(list(range(11)))[:2], (0, 100.0 / 11))


class IntervalTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]), 4.0)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10.0)
        self.assertEqual(metrics.union_length([(4, 4), (3, 1)]), 0.0)

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [span(1, 0, 0, 0, 10), span(2, 1, 0, 1, 4), span(3, 1, 0, 3, 6),
                 span(4, 1, 0, 8, 12), span(5, 2, 0, 2, 3)]
        st = metrics.self_times(spans)
        # children cover [1, 6] and [8, 10] of the parent: 7 of its 10
        self.assertEqual(st[1], 3.0)
        # a grandchild counts against its own parent only
        self.assertEqual(st[2], 2.0)
        self.assertEqual(st[5], 1.0)
        self.assertEqual(st[4], 4.0)


class AttributionTest(unittest.TestCase):
    def test_jobs_follow_the_span_property_then_time(self):
        ops = [op(0, 0, 100), op(1, 100, 200, traced=False), op(2, 200, 300)]
        spans = [span(10, 0, 0, 0, 100), span(11, 10, 0, 10, 50), span(12, 0, 2, 200, 300)]
        jobs = [job(1, 20, 30, "11"),   # property names a child span of op 0
                job(2, 60, 70, ""),     # inside traced op 0 without the property
                job(3, 150, 160, ""),   # inside an untraced op: not counted
                job(4, 310, 320, ""),   # outside every op (checks)
                job(5, 250, 260, "12")]
        per_op, unattributed = metrics.attribute_jobs(jobs, spans, ops)
        self.assertEqual([j["id"] for j in per_op[0]], [1, 2])
        self.assertEqual([j["id"] for j in per_op[2]], [5])
        self.assertEqual([j["id"] for j in unattributed], [2])
        self.assertNotIn(1, per_op)

    def test_op_layers_gap_is_wall_minus_job_union(self):
        o = op(0, 0, 1000)
        jobs = [job(1, 100, 300, stages=[1]), job(2, 200, 400, stages=[2]), job(3, 900, 950)]
        stages = [{"id": 1, "submit": 110, "first_launch": 115, "complete": 290, "tasks": 4,
                   "run_ms": 400, "cpu_ns": 3e8, "shuffle_write": 10, "shuffle_read": 0,
                   "spill": 0, "input": 5, "output": 0},
                  {"id": 2, "submit": 210, "first_launch": 230, "complete": 390, "tasks": 2,
                   "run_ms": 200, "cpu_ns": 1e8, "shuffle_write": 0, "shuffle_read": 10,
                   "spill": 0, "input": 0, "output": 7}]
        m = metrics.op_layers(o, jobs, metrics.stages_by_job(jobs, stages), cores=4)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.65)
        self.assertEqual(m["spark.jobs"], 3)
        self.assertEqual(m["spark.short_jobs"], 1)
        self.assertEqual((m["spark.stages"], m["spark.tasks"]), (2, 6))
        self.assertAlmostEqual(m["spark.sched_wait_s"], 0.025)
        self.assertAlmostEqual(m["spark.utilisation"], 0.6 / 4)


class FailureTest(unittest.TestCase):
    def test_failed_ops_and_failed_checks_count_once(self):
        raw = {"ops": [op(0, 0, 1), op(1, 1, 2, ok=False), op(2, 2, 3)],
               "checks": [{"ok": False, "ops": [1, 2]}, {"ok": True, "ops": [0]}]}
        self.assertEqual(metrics.failures(raw), (3, 2))

    def test_end_to_end(self):
        raw = {"setup_s": [3.0, 1.0, 2.0],
               "ops": [op(0, 0, 1000, items=10), op(1, 1000, 3000, items=10),
                       op(2, 3000, 4000, kind="maint", items=0)]}
        e2e, info = metrics.end_to_end(raw)
        self.assertEqual(e2e["items_per_s"], 5.0)
        self.assertEqual(e2e["op_p50_s"], 1.5)
        self.assertEqual(e2e["maint_p50_s"], 1.0)
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertEqual(info["op_samples"], 2)
        self.assertEqual((info["op_tail_s"], info["op_tail_percentile"]), (2.0, 100.0))


class SpreadTest(unittest.TestCase):
    def test_spread_is_the_quartile_distance_over_the_median(self):
        # statistics.quantiles (exclusive method) of 1..9: q1 = 2.5, q3 = 7.5
        self.assertEqual(metrics.spread(list(range(1, 10))), 1.0)
        self.assertEqual(metrics.spread([2.0] * 10), 0.0)


if __name__ == "__main__":
    unittest.main()
