"""Self-tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import decimal
import json
import math
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90.0, 10))
        self.assertEqual(stats.tail(list(range(1, 1001))), (990, 99.0, 10))

    def test_one_sample_short_drops_a_step(self):
        # 99 samples: p90 sits at rank 90 with only 9 beyond, so p75
        self.assertEqual(stats.tail(list(range(1, 100))), (75, 75.0, 24))

    def test_too_few_samples_report_the_median(self):
        value, pct, beyond = stats.tail(list(range(1, 20)))
        self.assertEqual((value, pct), (10, 50.0))
        self.assertEqual(beyond, 9)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class FailedOps(unittest.TestCase):
    def ops(self, ms, failed=()):
        return [{"ms": m, "ok": i not in failed} for i, m in enumerate(ms)]

    def test_failed_op_is_an_infinite_latency(self):
        lat = stats.latencies(self.ops([5.0, 1.0, 3.0], failed={1}))
        self.assertEqual(lat, [3.0, 5.0, math.inf])

    def test_failures_move_the_median_and_tail(self):
        ops = self.ops([1.0] * 30, failed=set(range(20)))
        lat = stats.latencies(ops)
        self.assertEqual(stats.median(lat), math.inf)
        self.assertEqual(stats.tail(lat)[0], math.inf)

    def test_failed_frac(self):
        self.assertEqual(stats.failed_frac(self.ops([1.0] * 4, failed={0})), 0.25)
        self.assertEqual(stats.failed_frac([]), 0.0)


class SpanSelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [(1, 0, "op", "q", 0, 100),
                 (2, 1, "layer", "a", 10, 30),
                 (3, 1, "layer", "b", 20, 50),     # overlaps a
                 (4, 1, "layer", "c", 90, 120)]    # runs past its parent
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual((st[2], st[3], st[4]), (20, 30, 30))

    def test_grandchildren_count_only_for_their_parent(self):
        spans = [(1, 0, "workload", "w", 0, 100),
                 (2, 1, "op", "q", 0, 60),
                 (3, 2, "job", "j", 10, 50)]
        self.assertEqual(stats.self_times(spans), {1: 40, 2: 20, 3: 40})
        self.assertEqual(stats.self_time_by_kind(spans),
                         {"workload": 40, "op": 20, "job": 40})

    def test_self_times_sum_to_the_root_duration(self):
        spans = [(1, 0, "workload", "w", 0, 1000),
                 (2, 1, "op", "q1", 0, 400), (3, 1, "op", "q2", 500, 900),
                 (4, 2, "layer", "l", 50, 350), (5, 4, "job", "j", 100, 300),
                 (6, 3, "layer", "l", 500, 900)]
        self.assertEqual(sum(stats.self_times(spans).values()), 1000)


class Amplification(unittest.TestCase):
    def test_write_amp(self):
        self.assertEqual(stats.write_amp(3200, 320), 10.0)
        self.assertTrue(math.isnan(stats.write_amp(100, 0)))


class OracleDigest(unittest.TestCase):
    """The digest applies scripts/crosscheck.py's comparison rules."""

    def setUp(self):
        self.cc = oracle._crosscheck(ROOT)

    def digest(self, names, cols, types=None):
        rows, sorted_names = self.cc.rows_of(cols, names)
        types = types or {n: "x" for n in names}
        return oracle.digest(sorted_names, types, rows)

    def test_column_order_is_irrelevant(self):
        self.assertEqual(self.digest(["a", "b"], [[1, 2], ["x", "y"]]),
                         self.digest(["b", "a"], [["x", "y"], [1, 2]]))

    def test_decimal_matches_double_and_zero_sign_is_ignored(self):
        self.assertEqual(self.digest(["v"], [[decimal.Decimal("1.50"), 0.0]]),
                         self.digest(["v"], [[1.5, -0.0]]))

    def test_int_and_double_differ(self):
        self.assertNotEqual(self.digest(["v"], [[1]]), self.digest(["v"], [[1.0]]))

    def test_naive_and_zoned_timestamps_differ(self):
        t = datetime.datetime(2024, 1, 1, 12, 0)
        tz = t.replace(tzinfo=datetime.timezone.utc)
        self.assertNotEqual(self.digest(["t"], [[t]]), self.digest(["t"], [[tz]]))

    def test_row_order_and_types_matter(self):
        self.assertNotEqual(self.digest(["v"], [[1, 2]]), self.digest(["v"], [[2, 1]]))
        self.assertNotEqual(self.digest(["v"], [[1]], {"v": "int32"}),
                            self.digest(["v"], [[1]], {"v": "int64"}))

    def test_nan_equals_nan(self):
        self.assertEqual(self.digest(["v"], [[math.nan]]),
                         self.digest(["v"], [[float("nan")]]))


class GateMisses(unittest.TestCase):
    """A query or ETL step that produced nothing is a mismatch, not a skip."""

    def test_query_without_result_or_oracle_fails(self):
        with tempfile.TemporaryDirectory() as d:
            got = oracle.check(ROOT, d, "x", os.path.join(d, "cache"),
                               os.path.join(d, "results"),
                               {"q_never_ran": "SELECT 1 AS v", "q_no_sql": ""})
        self.assertEqual([(n, ok) for n, ok, _ in got],
                         [("q_never_ran", False), ("q_no_sql", False)])

    def test_missing_etl_answer_fails(self):
        answers = {"songplays": 3, "matched_song_ids": 2, "start_times": 3,
                   "songs": 5, "artists": 2, "log_files": 1, "users": [[1, "free"]]}
        observed = {"songplays": 3, "matched_song_ids": 2, "star_join": 2,
                    "start_times": 3, "songs": 5, "artists": 2,
                    "stream_songplays": 3, "micro_batches": 1,
                    "users": [[1, "free"]], "stream_users": [[1, "free"]]}
        self.assertTrue(all(ok for _, ok, _ in run.etl_checks(answers, [observed])))
        observed["stream_users"] = None
        bad = [n for n, ok, _ in run.etl_checks(answers, [observed]) if not ok]
        self.assertEqual(bad, ["pass 0 stream_users"])


class BenchmarkFile(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics run.py prints."""

    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.b = json.load(f)

    def test_end_to_end(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.b["end_to_end"]},
                         run.END_TO_END)

    def test_per_layer(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.b["per_layer"]],
                         list(run.per_layer_units().items()))

    def test_workloads(self):
        for w in self.b["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
