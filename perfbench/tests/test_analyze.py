"""Tests of the benchmark's own analysis: the tail rule, self time, job
attribution to spans (including overlapping Par legs), per-layer
derivation from a trace file, and the fingerprint canonical form.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analyze  # noqa: E402
import oracle  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 40 samples: p75 has exactly 10 beyond it, p90 only 4
        self.assertEqual(analyze.tail(list(range(1, 41))), (75.0, 30, 40))
        self.assertEqual(analyze.tail(list(range(1, 101))), (90.0, 90, 100))
        self.assertEqual(analyze.tail(list(range(1, 1001))), (99.0, 990, 1000))
        self.assertEqual(analyze.tail(list(range(1, 10001))), (99.9, 9990, 10000))

    def test_order_does_not_matter(self):
        xs = [5, 3, 9, 1] * 10
        self.assertEqual(analyze.tail(xs), analyze.tail(sorted(xs)))

    def test_too_few_samples_fall_back_to_the_median(self):
        # 20 samples: p50 has exactly 10 beyond; 19 have no ladder entry
        self.assertEqual(analyze.tail(list(range(1, 21))), (50.0, 10, 20))
        self.assertEqual(analyze.tail(list(range(1, 20))), (50.0, 10, 19))
        self.assertIsNone(analyze.tail([]))


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(analyze.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(analyze.union_length([]), 0)

    def test_overlapping_children_count_once(self):
        # two Par legs overlapping inside one span: covered 10..40
        self.assertEqual(analyze.self_time((0, 100), [(10, 30), (20, 40)]), 70)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(analyze.self_time((10, 20), [(0, 15), (18, 30)]), 3)


class Attribution(unittest.TestCase):
    spans = [{"id": 0, "start": 0, "end": 10_000},       # op
             {"id": 1, "start": 1_000, "end": 5_000},    # write call
             {"id": 2, "start": 6_000, "end": 9_000}]    # read call

    def test_innermost_span_holding_the_start(self):
        jobs = [{"id": 1, "start": 2_000}, {"id": 2, "start": 5_500},
                {"id": 3, "start": 7_000}, {"id": 4, "start": 20_000}]
        self.assertEqual(analyze.attribute(self.spans, jobs, resolution=1),
                         {1: 1, 2: 0, 3: 2, 4: None})

    def test_overlapping_par_legs_go_to_the_one_call(self):
        # jobs from two concurrent legs overlap each other but both start
        # inside the write call; its busy time is their union
        jobs = [{"id": 7, "start": 1_500, "end": 4_000},
                {"id": 8, "start": 2_000, "end": 4_500}]
        self.assertEqual(analyze.attribute(self.spans, jobs, resolution=1), {7: 1, 8: 1})
        self.assertEqual(analyze.union_length([(j["start"], j["end"]) for j in jobs]), 3_000)

    def test_millisecond_job_clock(self):
        # the listener stamps 0.9 ms before the call's microsecond start:
        # the call still holds the job
        self.assertEqual(analyze.attribute(self.spans, [{"id": 5, "start": 5_100}]), {5: 2})


def raw_run():
    """A traced run of one op: a write call with two jobs (one stage
    each) and a read call with one job."""
    ops = [{"id": 0, "phase": "untraced", "cls": "ivm", "name": "ivm", "start": 0,
            "end": 1_600_000, "ok": True, "err": None}]
    spans = [{"id": 0, "parent": -1, "name": "ivm", "layer": "op", "op": 0, "phase": "traced",
              "start": 10_000_000, "end": 12_000_000,
              "attrs": {"delta_commits": 1.0, "cow_commits": 0.0}},
             {"id": 1, "parent": 0, "name": "ivm.apply", "layer": "ivm", "op": 0,
              "phase": "traced", "start": 10_100_000, "end": 11_500_000,
              "attrs": {"batch_rows": 100}},
             {"id": 2, "parent": 0, "name": "ivm.read_view", "layer": "ivm", "op": 0,
              "phase": "traced", "start": 11_600_000, "end": 11_900_000, "attrs": {}}]
    jobs = [{"id": 0, "start": 10_200_000, "end": 10_700_000, "ok": True, "stages": [0]},
            {"id": 1, "start": 10_600_000, "end": 11_000_000, "ok": True, "stages": [1]},
            {"id": 2, "start": 11_700_000, "end": 11_800_000, "ok": True, "stages": [2]}]
    stage = {"submit": 0, "complete": 0, "tasks": 4, "failed_tasks": 0,
             "metrics": {"run_s": 0.4, "input_records": 500.0}}
    stages = [dict(stage, id=i, attempt=0, submit=j["start"], complete=j["end"])
              for i, j in enumerate(jobs)]
    return {"workload": "view_refresh", "seed": 1, "seconds": 5,
            "env": {"k": 4}, "extra": {}, "ops": ops, "calls": [], "spans": spans,
            "jobs": jobs, "stages": stages,
            "marks": [{"name": "session", "start": 0, "end": 3_000_000},
                      {"name": "prepare", "start": 3_000_000, "end": 5_000_000}],
            "phases": {"untraced": {"elapsed_s": 2.0, "cpu_s": 4.0, "rounds": 1},
                       "traced": {"elapsed_s": 2.5, "cpu_s": 5.0, "rounds": 1}}}


class PerLayer(unittest.TestCase):
    def setUp(self):
        self.trace = analyze.build_trace(raw_run())

    def test_trace_names_each_jobs_parent_span(self):
        parents = {e["name"]: e["args"]["parent"] for e in self.trace["traceEvents"]
                   if e["cat"] == "spark.job"}
        self.assertEqual(parents, {"job 0": 1, "job 1": 1, "job 2": 2})

    def test_self_time_of_the_write_is_its_driver_gap(self):
        write = [e for e in self.trace["traceEvents"] if e["name"] == "ivm.apply"][0]
        # 1.4 s call, jobs cover 0.2..1.0 s of it
        self.assertEqual(write["args"]["self_us"], 600_000)

    def test_metrics(self):
        m = analyze.per_layer(self.trace, ["spark.jobs", "spark.job_busy_s",
                                           "spark.driver_gap_s", "ivm.apply_jobs",
                                           "ivm.apply_s", "ivm.read_amplification",
                                           "spark.core_fill", "setup.session_s",
                                           "bench.trace_overhead_frac", "mergetable.merge_s",
                                           "mergetable.delta_commits",
                                           "mergetable.fold_commits"])
        self.assertEqual(m["spark.jobs"], 3)
        self.assertAlmostEqual(m["spark.job_busy_s"], 0.9)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 1.1)
        self.assertEqual(m["ivm.apply_jobs"], 2)
        self.assertAlmostEqual(m["ivm.apply_s"], 1.4)
        self.assertAlmostEqual(m["ivm.read_amplification"], 10.0)
        self.assertAlmostEqual(m["spark.core_fill"], 1.2 / (0.9 * 4))
        self.assertAlmostEqual(m["setup.session_s"], 3.0)
        # ops per second of op time: 1/1.6 s untraced, 1/2 s traced
        self.assertAlmostEqual(m["bench.trace_overhead_frac"], 1 - 0.5 / 0.625)
        self.assertEqual(m["mergetable.merge_s"], 0.0)
        self.assertEqual(m["mergetable.delta_commits"], 1.0)
        self.assertEqual(m["mergetable.fold_commits"], 0.0)


class EndToEnd(unittest.TestCase):
    def test_gmean_weighs_each_op_kind_once(self):
        # q1's median is 1, q2's is 4: sqrt(1 * 4), however many q1s run
        pairs = [("q1", 1.0), ("q1", 1.0), ("q1", 9.0), ("q2", 4.0)]
        self.assertAlmostEqual(analyze.gmean_of_medians(pairs), 2.0)
        self.assertAlmostEqual(analyze.gmean_of_medians(pairs + [("q1", 1.0)] * 5), 2.0)
        self.assertEqual(analyze.gmean_of_medians([]), 0.0)

    def test_ops_per_s_counts_op_time_only(self):
        self.assertAlmostEqual(analyze.ops_per_s([0.5, 1.5]), 1.0)
        self.assertEqual(analyze.ops_per_s([]), 0.0)


# Shared with FingerprintSpec.scala: the JVM and DuckDB sides must agree.
VECTOR_NAMES = ["b", "a", "ts", "f"]
VECTOR_ROWS = [[1, "x", None, 2.5], [7, "yé", None, 1e20], [-3, "", None, 0.1]]
VECTOR_FINGERPRINT = "3:4b82cfd74e329bba"


class Canonical(unittest.TestCase):
    def test_numbers(self):
        self.assertEqual(oracle.canon(3), "i:3")
        self.assertEqual(oracle.canon(3.0), "f:3.000000000e+00")
        self.assertEqual(oracle.canon(-0.0), "f:0")
        # an exact tie at the tenth digit rounds half to even
        self.assertEqual(oracle.canon(250196918.25), "f:2.501969182e+08")
        self.assertEqual(oracle.canon(250196918.75), "f:2.501969188e+08")
        # one ulp either side of a round value prints the same
        self.assertEqual(oracle.canon(237819200.0), oracle.canon(237819199.99999997))
        self.assertEqual(oracle.canon(0.1), "f:1.000000000e-01")
        self.assertEqual(oracle.canon(123456.7890123), "f:1.234567890e+05")
        self.assertEqual(oracle.canon(float("nan")), "f:nan")

    def test_other_types(self):
        import datetime
        import decimal
        self.assertEqual(oracle.canon(decimal.Decimal("2.50")), "f:2.500000000e+00")
        self.assertEqual(oracle.canon(datetime.datetime(1970, 1, 1, 0, 0, 1, 5)), "t:1000005")
        self.assertEqual(oracle.canon(datetime.date(1998, 9, 2)), "d:1998-09-02")
        self.assertEqual(oracle.canon([1, None, "a"]), "[i:1,n,s:a]")
        self.assertEqual(oracle.canon(None), "n")
        self.assertEqual(oracle.canon(True), "b:1")

    def test_row_and_column_order_do_not_matter(self):
        fp = oracle.fingerprint(VECTOR_NAMES, VECTOR_ROWS)
        perm = [3, 1, 0, 2]
        names = [VECTOR_NAMES[i] for i in perm]
        rows = [[r[i] for i in perm] for r in reversed(VECTOR_ROWS)]
        self.assertEqual(oracle.fingerprint(names, rows), fp)
        self.assertNotEqual(oracle.fingerprint(VECTOR_NAMES, VECTOR_ROWS[:2]), fp)

    def test_shared_vector(self):
        self.assertEqual(oracle.fingerprint(VECTOR_NAMES, VECTOR_ROWS), VECTOR_FINGERPRINT)


if __name__ == "__main__":
    unittest.main()
