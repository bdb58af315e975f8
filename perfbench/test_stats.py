"""Tests of the benchmark's own statistics and job attribution.

Run from the repo root:  python3 -m unittest perfbench/test_stats.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, level = stats.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(level, 90.0)

    def test_order_of_input_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        self.assertEqual(stats.tail(xs)[0], 2.0)

    def test_twenty_six_samples_is_above_the_median(self):
        xs = [float(x) for x in range(26)]
        value, level = stats.tail(xs)
        self.assertEqual(value, 15.0)
        self.assertGreater(value, stats.median(xs))
        self.assertAlmostEqual(level, 100.0 * 16 / 26)

    def test_too_few_samples_gives_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0))
        self.assertEqual(stats.tail([float(x) for x in range(10)]),
                         (9.0, 100.0))
        self.assertEqual(stats.tail([]), (0.0, 0.0))


class IntervalTest(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipping(self):
        self.assertEqual(stats.union_length([(-5, 5), (8, 20)], 0, 10), 7)
        self.assertEqual(stats.union_length([(11, 20)], 0, 10), 0)

    def test_driver_gap_is_time_without_a_running_job(self):
        # op 0..100; jobs cover 10..30 and 20..50 and 90..120 (clipped)
        gap = stats.driver_gap(0, 100, [(10, 30), (20, 50), (90, 120)])
        self.assertEqual(gap, 100 - 40 - 10)

    def test_driver_gap_without_jobs_is_the_whole_op(self):
        self.assertEqual(stats.driver_gap(5, 17.5, []), 12.5)


class BucketTest(unittest.TestCase):
    def test_engine_sites(self):
        self.assertEqual(stats.bucket("localCheckpoint at Checkpoints.scala:68"),
                         ("Checkpoints", "localCheckpoint"))
        self.assertEqual(stats.bucket("count at Streams.scala:434"),
                         ("Streams", "count"))
        self.assertEqual(stats.bucket("head at Graphs.scala:937"),
                         ("Graphs", "head"))

    def test_broadcast_jobs(self):
        site = ("$anonfun$withThreadLocalCaptured$2 at "
                "CompletableFuture.java:1768")
        self.assertEqual(stats.bucket(site), ("broadcast", "broadcast"))

    def test_unrecognised_sites(self):
        self.assertEqual(stats.bucket(""), (None, None))
        self.assertEqual(stats.bucket(None), (None, None))
        self.assertEqual(stats.bucket("save at <console>"), (None, None))

    def test_actions_drive_action_job_counts(self):
        self.assertIn(stats.bucket("isEmpty at Streams.scala:451")[1],
                      stats.ACTIONS)
        self.assertNotIn(stats.bucket(
            "localCheckpoint at Checkpoints.scala:68")[1], stats.ACTIONS)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0, "end": 100},
            {"id": 1, "parent": 0, "start": 10, "end": 40},
            {"id": 2, "parent": 0, "start": 30, "end": 60},
            {"id": 3, "parent": 1, "start": 15, "end": 20},
        ]
        self.assertEqual(stats.self_times(spans),
                         {0: 50, 1: 25, 2: 30, 3: 5})


def _record():
    """A traced record of two interactive queries, one traced."""
    ops = [
        {"id": 0, "kind": "query", "name": "b1", "phase": "measure",
         "traced": False, "start": 0, "end": 100, "ok": True},
        {"id": 1, "kind": "query", "name": "b1", "phase": "measure",
         "traced": True, "start": 200, "end": 320, "ok": True,
         "exchanges": 3},
    ]
    spans = [
        {"id": 0, "op": 1, "parent": -1, "name": "query:b1",
         "start": 200, "end": 320},
        {"id": 1, "op": 1, "parent": 0, "name": "queries.build",
         "start": 200, "end": 210},
        {"id": 2, "op": 1, "parent": 0, "name": "exec.sink",
         "start": 210, "end": 320},
    ]
    job = {"span": 2, "stages": 2, "tasks": 6, "run_ms": 50, "cpu_ms": 40.0,
           "gc_ms": 1, "shuffle_write_bytes": 1 << 20,
           "shuffle_read_bytes": 1 << 20, "fetch_wait_ms": 0,
           "spill_bytes": 0}
    jobs = [dict(job, id=7, start=220, end=260,
                 site="localCheckpoint at Checkpoints.scala:68"),
            dict(job, id=8, start=250, end=300,
                 site="save at Interactive.scala:120")]
    setup = {"total_s": 2.0, "warm_s": 1.0, "cached_mb": 4.5}
    return {"workload": "interactive", "seed": 1, "ops": ops, "spans": spans,
            "jobs": jobs, "setup": setup, "storage_mb": 5.0}


class MetricsTest(unittest.TestCase):
    def test_end_to_end_uses_untraced_ops(self):
        m = stats.end_to_end(_record())
        self.assertEqual(m["latency_p50_ms"], (100, "ms"))
        self.assertEqual(m["ok_frac"], (1.0, "fraction"))
        self.assertEqual(m["setup_s"], (2.0, "s"))
        self.assertEqual(m["throughput_per_s"], (10.0, "1/s"))

    def test_per_layer_attributes_jobs_to_their_op(self):
        m = stats.per_layer(_record())
        self.assertEqual(m["sched.jobs"][0], 2)
        self.assertEqual(m["sched.tasks"][0], 12)
        self.assertEqual(m["sched.driver_gap_ms"][0], 120 - 80)
        self.assertEqual(m["Checkpoints.cut_jobs"][0], 1)
        self.assertEqual(m["Checkpoints.cut_ms"][0], 40)
        self.assertEqual(m["queries.build_ms"][0], 10)
        self.assertEqual(m["plans.exchanges"][0], 3)
        self.assertEqual(m["shuffle.write_mb"][0], 2.0)
        self.assertEqual(m["trace.overhead_ms"][0], 20)

    def test_trace_artifact_nests_jobs_under_spans(self):
        art = stats.trace_artifact(_record())
        by_name = art["self_time_by_name"]
        self.assertEqual(by_name["exec.sink"]["self_ms"], 110 - 80)
        self.assertEqual(
            by_name["job:localCheckpoint at Checkpoints.scala:68"]["count"], 1)


if __name__ == "__main__":
    unittest.main()
