"""Unit tests of the benchmark's generator, checks and metrics.

    python3 -m unittest discover -s bench/tests
"""
import os
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402

EVENTS = gen.events_frame(0.1)


def cuts(batches):
    return [sorted(b["rows"]["event_id"]) for b in batches]


class LandingPlan(unittest.TestCase):
    def test_same_seed_same_batches_and_expectations(self):
        a, fa = gen.landing_plan(5, EVENTS)
        b, fb = gen.landing_plan(5, EVENTS)
        self.assertEqual([list(x["rows"]["event_id"]) for x in a],
                         [list(x["rows"]["event_id"]) for x in b])
        self.assertEqual([x["expect"] for x in a], [x["expect"] for x in b])
        self.assertEqual(fa, fb)

    def test_other_seed_other_cuts_same_total(self):
        a, fa = gen.landing_plan(5, EVENTS)
        b, fb = gen.landing_plan(6, EVENTS)
        self.assertNotEqual(cuts(a), cuts(b))
        self.assertEqual(fa["landed_rows"], fb["landed_rows"])
        self.assertEqual(fa["landed_rows"], gen.FRESH_ROWS + gen.REDELIVERED_ROWS)
        self.assertEqual(sum(len(x["rows"]) for x in a), fa["landed_rows"])

    def test_expected_counts_follow_the_watermark(self):
        batches, final = gen.landing_plan(9, EVENTS)
        appended = sum(b["expect"]["report"]["rowsAppended"] for b in batches)
        # every fresh row lands exactly once; late and re-delivered rows
        # fall at or below the sink's watermark and are dropped
        self.assertEqual(appended, gen.FRESH_ROWS - gen.LATE_ROWS)
        self.assertEqual(batches[-1]["expect"]["read_sorted"]["count"], appended)
        self.assertEqual(final["stream_sink"]["count"], final["landed_rows"])
        for b in batches[1:]:
            self.assertLess(b["expect"]["report"]["rowsAppended"],
                            b["expect"]["report"]["rowsRead"])


class Digests(unittest.TestCase):
    def test_order_insensitive(self):
        rows = EVENTS.iloc[:500].copy()
        rows["ts_us"] = rows["ts"].to_numpy("datetime64[us]").astype(np.int64)
        h = gen.event_row_hashes(rows)
        perm = np.random.default_rng(1).permutation(len(h))
        self.assertEqual(gen.digest(h), gen.digest(h[perm]))
        self.assertNotEqual(gen.digest(h), gen.digest(h[1:]))

    def test_matches_the_engine_row_hash(self):
        # the same two rows are hashed in DigestSpec.scala
        import pandas as pd
        df = pd.DataFrame({"event_id": [1, 2], "ts_us": [1704067200000000, 1704067260000001],
                           "user_id": [5, 6], "event_type": ["click", "view"],
                           "value": [29.27, 0.0]})
        self.assertEqual(gen.digest(gen.event_row_hashes(df)),
                         {"count": 2, "hash": "-7786859550403793270"})


class Checks(unittest.TestCase):
    def test_planted_wrong_digest_is_a_failure(self):
        ops = [{"name": "q", "count": 3, "hash": "11"}, {"name": "r", "count": 2, "hash": "7"}]
        self.assertEqual(M.check_ops(ops, {"q": {"count": 3, "hash": "11"},
                                           "r": {"count": 2, "hash": "8"}}), 1)
        self.assertIn("failure", ops[1])
        self.assertNotIn("failure", ops[0])

    def test_count_only_expectation_and_errors(self):
        ops = [{"name": "q", "count": 3, "hash": "5"}, {"name": "e", "error": "boom"},
               {"name": "u", "count": 1, "hash": "1"}]
        failed = M.check_ops(ops, {"q": {"count": 3, "hash": None},
                                   "e": {"count": 1, "hash": None}})
        self.assertEqual(failed, 2)            # the error and the unexpected op
        self.assertNotIn("failure", ops[0])

    def test_wrong_report_is_a_failure(self):
        ops = [{"name": "run_0", "report": {"rowsRead": 5, "rowsAppended": 4}}]
        self.assertEqual(M.check_ops(ops, {"run_0": {"report": {"rowsRead": 5, "rowsAppended": 5}}}), 1)


class TailRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(M.tail(range(10)))
        self.assertEqual(M.tail(range(11)), (0, 100 / 11, 11))
        value, pct, n = M.tail(range(1, 41))
        self.assertEqual((value, pct, n), (30, 75.0, 40))
        self.assertEqual(sum(x > value for x in range(1, 41)), 10)

    def test_order_free(self):
        xs = list(np.random.default_rng(3).random(57))
        self.assertEqual(M.tail(xs), M.tail(sorted(xs, reverse=True)))

    def test_relational_ops_and_etl_reads_have_a_tail(self):
        # op_tail_s and read_tail_s are reported only at or above the median
        ops = len(run.QUERY_WORKLOADS["relational_short"][0])
        reads = 3 * (gen.INCREMENTS + 1)
        for n in (ops, reads):
            self.assertIsNotNone(run.tail_of(range(n)), n)
        self.assertIsNone(run.tail_of(range(19)))


class SelfTime(unittest.TestCase):
    def test_children_union_is_subtracted_once(self):
        self.assertEqual(M.self_time((0, 10), []), 10)
        self.assertEqual(M.self_time((0, 10), [(1, 3), (2, 4), (6, 7)]), 6)
        # children are clipped to the parent
        self.assertEqual(M.self_time((0, 10), [(-5, 2), (9, 20)]), 7)

    def test_tree_self_and_gap(self):
        raw = {"spans": [
            {"id": 1, "parent": 0, "name": "run", "start_ns": 0, "end_ns": 10_000_000_000},
            {"id": 2, "parent": 1, "name": "operation", "start_ns": 1_000_000_000,
             "end_ns": 9_000_000_000},
            {"id": 3, "parent": 2, "name": "ops.construct", "start_ns": 1_000_000_000,
             "end_ns": 4_000_000_000}],
            "jobs": [{"id": 0, "span": 3, "start_ms": 2000, "end_ms": 3000},
                     {"id": 1, "span": 2, "start_ms": 5000, "end_ms": 8000}],
            "stages": []}
        t = M.Tree(raw)
        self.assertAlmostEqual(t.self_s(3), 2.0)     # 3 s minus its 1 s job
        self.assertAlmostEqual(t.self_s(2), 2.0)     # 8 s minus construct 3 s and job 3 s
        self.assertAlmostEqual(t.gap_s(2), 4.0)      # 8 s minus both jobs
        self.assertEqual(len(t.jobs_under(1)), 2)


if __name__ == "__main__":
    unittest.main()
