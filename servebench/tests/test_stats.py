"""Self-tests of the benchmark's own arithmetic and generator.

    python3 -m unittest discover -s servebench/tests
"""
import json
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import stats  # noqa: E402
import workloads  # noqa: E402


def fake_catalog():
    return {
        "tpch_sql": {f"tpch_q{i}": f"SELECT {i} FROM lineitem" for i in range(1, 23)},
        "tpch_manifest": {"catalog": "graft", "schema": "tpch", "models": [
            {"name": "lineitem", "columns": [{"name": "l_orderkey", "type": "bigint"}]}]},
    }


class PassThroughputTest(unittest.TestCase):
    def rec(self, start_s, end_s, ok=True):
        return {"ok": ok, "start": int(start_s * 1e9), "end": int(end_s * 1e9)}

    def test_median_of_pass_rates(self):
        # passes of 2 taking 1 s, 4 s (a stall) and 2 s: rates 2, 0.5, 1
        rs = [self.rec(0, .5), self.rec(.5, 1), self.rec(1, 3), self.rec(3, 5),
              self.rec(5, 6), self.rec(6, 7)]
        self.assertAlmostEqual(stats.pass_throughput(rs, 2), 1.0)

    def test_failed_requests_are_not_throughput(self):
        rs = [self.rec(0, .5), self.rec(.5, 1, ok=False)]
        self.assertAlmostEqual(stats.pass_throughput(rs, 2), 1.0)

    def test_an_incomplete_pass_is_ignored(self):
        rs = [self.rec(0, .5), self.rec(.5, 1), self.rec(1, 9)]
        self.assertAlmostEqual(stats.pass_throughput(rs, 2), 2.0)


class PercentileTest(unittest.TestCase):
    def test_refuses_a_tail_with_fewer_than_ten_samples_beyond(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(range(99), 90)  # rank 90, 9 beyond

    def test_accepts_exactly_ten_beyond(self):
        self.assertEqual(stats.percentile(range(1, 101), 90), 90)

    def test_median_is_not_gated(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)


class FailureAccountingTest(unittest.TestCase):
    def test_failed_request_is_not_timed_and_counts_as_failure(self):
        recs = [{"ok": True, "ms": 10.0}, {"ok": True, "ms": 30.0},
                {"ok": False, "ms": 0.5}, {"ok": True, "ms": 20.0}]
        s = stats.latency_summary(recs)
        self.assertEqual(s["latency_p50_ms"], 20.0)  # 0.5 ms failure left out
        self.assertEqual(s["samples"], 3)
        self.assertEqual(s["failed"], 1)
        self.assertEqual(s["failure_rate"], 0.25)
        self.assertIsNone(s["latency_p90_ms"])

    def test_p50_averages_the_medians_of_kinds(self):
        recs = [{"ok": True, "ms": ms, "kind": k} for k, ms in
                [("a", 10.0), ("a", 12.0), ("a", 11.0), ("b", 100.0), ("b", 90.0), ("b", 95.0)]]
        recs.append({"ok": False, "ms": 1.0, "kind": "b"})
        s = stats.latency_summary(recs)
        self.assertEqual(s["latency_p50_ms"], (11.0 + 95.0) / 2)
        self.assertEqual(s["latency_median_ms"], 51.0)  # between the clusters
        self.assertEqual(s["kinds"], 2)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_child_intervals(self):
        spans = [
            ("request", -1, 0, 100),
            ("engine.query", 0, 10, 40),
            ("api.format", 0, 30, 70),   # overlaps the previous child by 10
            ("inner", 2, 35, 45),
        ]
        self.assertEqual(stats.self_times(spans), [40, 30, 30, 10])

    def test_self_times_sum_to_the_root(self):
        spans = [("request", -1, 0, 90), ("a", 0, 5, 25), ("b", 0, 30, 80), ("c", 2, 40, 50)]
        self.assertEqual(sum(stats.self_times(spans)), 90)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_requests(self):
        for w in workloads.WORKLOADS:
            a = json.dumps(workloads.generate(w, 7, 20, fake_catalog()))
            b = json.dumps(workloads.generate(w, 7, 20, fake_catalog()))
            self.assertEqual(a, b, w)

    def test_other_seed_gives_other_order_but_the_same_mix(self):
        a = workloads.generate("plan_tenants", 1, 20, fake_catalog())["timed"]
        b = workloads.generate("plan_tenants", 2, 20, fake_catalog())["timed"]
        self.assertNotEqual([(r["tenant"], r["query"]) for r in a], [(r["tenant"], r["query"]) for r in b])
        self.assertEqual(sorted((r["tenant"], r["query"]) for r in a),
                         sorted((r["tenant"], r["query"]) for r in b))

    def test_request_count_is_fixed_by_seconds_not_by_speed(self):
        n = len(workloads.generate("curate_batch", 3, 20, fake_catalog())["timed"])
        self.assertEqual(n % len(workloads.CURATE_ENTRIES), 0)
        self.assertEqual(n, len(workloads.generate("curate_batch", 4, 20, fake_catalog())["timed"]))

    def test_every_dry_plan_sql_is_unique(self):
        plan = workloads.generate("plan_tenants", 1, 20, fake_catalog())
        sqls = [json.loads(r["body"])["sql"] for r in plan["warmup"] + plan["timed"]]
        self.assertEqual(len(sqls), len(set(sqls)))


if __name__ == "__main__":
    unittest.main()
