"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import stats


def execution(i, query, ok=True, wall=100.0, start=0, end=100, phase="untraced", pass_=0):
    return {"id": i, "query": query, "phase": phase, "pass": pass_, "ok": ok,
            "error": None if ok else "boom", "wall_ms": wall, "build_ms": 1.0,
            "start_ms": start, "end_ms": end}


def record(passes, check=None, setup_ms=1000.0):
    return {"k": 4, "setup_ms": setup_ms, "check": check or [], "passes": passes}


class QuantileTest(unittest.TestCase):
    def test_incomplete_beta_closed_forms(self):
        # Beta(2, 3): x^2 (6 - 8x + 3x^2); Beta(1/2, 1/2): (2/pi) asin(sqrt(x)).
        self.assertAlmostEqual(stats.betainc(2, 3, 0.4), 0.16 * (6 - 3.2 + 0.48))
        self.assertAlmostEqual(stats.betainc(0.5, 0.5, 0.3), 2 / math.pi * math.asin(math.sqrt(0.3)))
        self.assertEqual(stats.betainc(2, 3, 0.0), 0.0)
        self.assertEqual(stats.betainc(2, 3, 1.0), 1.0)

    def test_harrell_davis(self):
        self.assertAlmostEqual(stats.hd_quantile([3.0, 1.0, 2.0], 0.5), 2.0)
        self.assertAlmostEqual(stats.hd_quantile([4.0] * 7, 0.9), 4.0)
        xs = list(range(1, 101))
        self.assertAlmostEqual(stats.hd_quantile(xs, 0.5), 50.5)
        p90 = stats.hd_quantile(xs, 0.9)
        self.assertTrue(89 < p90 < 92, p90)
        self.assertLess(stats.hd_quantile(xs, 0.5), p90)
        self.assertEqual(stats.hd_quantile([5.0], 0.9), 5.0)
        with self.assertRaises(ValueError):
            stats.hd_quantile([], 0.5)

    def test_ten_beyond_p90_rule(self):
        need = stats.samples_for(0.9)
        self.assertGreaterEqual(stats.beyond(list(range(need)), 0.9), 10)
        self.assertLess(stats.beyond(list(range(need - 1)), 0.9), 10)
        self.assertEqual(stats.beyond(list(range(20)), 0.9), 2)


class UnionTest(unittest.TestCase):
    def test_overlapping_nested_and_disjoint(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15)]), 15)
        self.assertEqual(stats.union_ms([(0, 20), (5, 10)]), 20)
        self.assertEqual(stats.union_ms([(0, 10), (20, 25)]), 15)
        self.assertEqual(stats.union_ms([(20, 25), (0, 10), (10, 12)]), 17)
        self.assertEqual(stats.union_ms([]), 0)

    def test_clipped_to_the_query(self):
        self.assertEqual(stats.union_ms([(-5, 10), (90, 130)], 0, 100), 20)
        self.assertEqual(stats.union_ms([(200, 300)], 0, 100), 0)

    def test_driver_gap_is_wall_minus_stage_union(self):
        e = execution(0, "q", wall=100.0, start=1000, end=1100)
        raw = record([{"phase": "traced", "pass": 0, "wall_ms": 100.0, "cpu_ms": 1.0,
                       "old_gen_mb": 1.0, "execs": [e]}])
        stage = {"exec": 0, "stage": 1, "attempt": 0, "tasks": 2, "task_run_ms": [10, 30],
                 "cpu_ns": 0, "gc_ms": 0, "wait_ms": 0, "shuffle_write_bytes": 0,
                 "shuffle_read_bytes": 0, "spill_bytes": 0, "input_rows": 0, "input_bytes": 0}
        raw["spans"] = {"stages": [dict(stage, submit_ms=1010, end_ms=1040),
                                   dict(stage, stage=2, submit_ms=1030, end_ms=1060)],
                        "jobs": [{"exec": 0, "job": 0}], "plans": []}
        sp = stats.Spans(raw)
        self.assertEqual(sp.stage_ms(e), 50)
        self.assertEqual(sp.driver_gap_ms(e), 50)
        totals = sp.pass_totals(raw["passes"][0])
        self.assertEqual(totals["exec.stage_ms"], 50)
        self.assertEqual(totals["sched.driver_gap_ms"], 50)
        self.assertEqual(totals["exec.task_run_ms"], 80)
        self.assertAlmostEqual(totals["exec.core_busy_share"], 80 / (100.0 * 4))


class TracingOverheadTest(unittest.TestCase):
    def test_median_of_pair_ratios(self):
        def p(n, wall):
            return {"pass": n, "wall_ms": wall}
        # The JIT speeds later passes up; pairs alternate which pass runs first.
        untraced = [p(0, 100.0), p(1, 80.0), p(2, 70.0)]
        traced = [p(0, 110.0), p(1, 84.0), p(2, 77.0), p(3, 50.0)]
        self.assertAlmostEqual(stats.tracing_overhead(traced, untraced), 0.1)
        self.assertIsNone(stats.tracing_overhead(traced, []))


class FailureAccountingTest(unittest.TestCase):
    def passes(self, fail_query=None):
        out = []
        for p in range(3):
            execs = [execution(10 * p + i, q, ok=(q != fail_query), wall=100.0 + 10 * i + p, pass_=p)
                     for i, q in enumerate(["a", "b", "c", "d"])]
            out.append({"phase": "untraced", "pass": p, "wall_ms": sum(e["wall_ms"] for e in execs),
                        "cpu_ms": 50.0, "old_gen_mb": 80.0 + p, "execs": execs})
        return out

    def test_all_ok(self):
        raw = record(self.passes(), check=[execution(100 + i, q) for i, q in enumerate("abcd")])
        m, extra = stats.end_to_end(raw, wrong=set())
        self.assertEqual((extra["attempted"], extra["failed"]), (16, 0))
        self.assertEqual(m["error_rate"][0], 0.0)
        self.assertEqual(extra["samples"], 12)
        self.assertEqual(m["heap_peak_mb"][0], 81.0)

    def test_forced_failure_counts_and_is_never_timed(self):
        raw = record(self.passes(fail_query="c"),
                     check=[execution(100 + i, q, ok=(q != "c")) for i, q in enumerate("abcd")])
        m, extra = stats.end_to_end(raw, wrong=set())
        self.assertEqual((extra["attempted"], extra["failed"]), (16, 4))
        self.assertAlmostEqual(m["error_rate"][0], 4 / 16)
        self.assertEqual(extra["samples"], 9)
        # Every pass held a failure, so no pass time is reported at all.
        self.assertNotIn("pass_s", m)
        self.assertNotIn("cpu_s_per_pass", m)
        failed_walls = {e["wall_ms"] for p in raw["passes"] for e in p["execs"] if not e["ok"]}
        self.assertTrue(failed_walls)
        self.assertLess(m["query_p90_ms"][0], 200.0)

    def test_wrong_output_fails_every_execution_of_the_query(self):
        raw = record(self.passes(), check=[execution(100 + i, q) for i, q in enumerate("abcd")])
        m, extra = stats.end_to_end(raw, wrong={"b"})
        self.assertEqual(extra["failed"], 4)
        self.assertEqual(extra["samples"], 9)
        self.assertNotIn("pass_s", m)


if __name__ == "__main__":
    unittest.main()
