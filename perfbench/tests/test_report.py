"""Self-tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The fingerprint test compiles the harness (as a benchmark run would) and
runs its Scala self-check; it is skipped when no Spark jars are found.
"""
import copy
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import report  # noqa: E402


def span(i, parent, start, end, name="x", op=0):
    return {"id": i, "parent": parent, "op": op, "name": name,
            "start": float(start), "end": float(end), "attrs": {}}


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(report.tail_percentile(range(1, 20)), (None, None))
        self.assertEqual(report.tail_percentile(range(1, 21))[0], 50.0)
        self.assertEqual(report.tail_percentile(range(1, 100))[0], 75.0)

    def test_p90_from_one_hundred_samples(self):
        p, v = report.tail_percentile(range(1, 101))
        self.assertEqual((p, v), (90.0, 90))

    def test_p99_needs_a_thousand(self):
        self.assertEqual(report.tail_percentile(range(999))[0], 95.0)
        self.assertEqual(report.tail_percentile(range(1000))[0], 99.0)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 50),
                 span(3, 1, 15, 20)]
        selfs = report.self_times(spans)
        self.assertAlmostEqual(selfs[0], 60.0)   # 100 - union(10..50)
        self.assertAlmostEqual(selfs[1], 25.0)   # 30 - 5
        self.assertAlmostEqual(selfs[2], 20.0)
        self.assertAlmostEqual(selfs[3], 5.0)

    def test_children_are_clipped_to_the_parent(self):
        selfs = report.self_times([span(0, -1, 0, 10), span(1, 0, 5, 30)])
        self.assertAlmostEqual(selfs[0], 5.0)

    def test_exclusive_times_sum_to_the_wall(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 50)]
        excl = report.exclusive_times(spans)
        self.assertAlmostEqual(sum(excl.values()), 100.0)
        self.assertAlmostEqual(excl[1], 20.0)    # 10..30, then span 2 started later
        self.assertAlmostEqual(excl[2], 20.0)


class Geomean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(report.geomean([2.0, 8.0]), 4.0)
        self.assertAlmostEqual(report.geomean([5.0]), 5.0)
        self.assertAlmostEqual(report.geomean([1.0, 10.0, 100.0]), 10.0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            report.geomean([])


class FingerprintCompare(unittest.TestCase):
    FP = {"rows": 3, "hash": "00ff", "floats": {"2:x": [10.0, 15.0, 10.0]}}

    def test_float_sums_within_tolerance_match(self):
        got = copy.deepcopy(self.FP)
        got["floats"]["2:x"] = [10.0 + 1e-12, 15.0 - 1e-12, 10.0]
        self.assertTrue(report.fingerprint_matches(got, self.FP))

    def test_any_difference_beyond_it_fails(self):
        for path, value in (("rows", 4), ("hash", "00fe")):
            got = copy.deepcopy(self.FP)
            got[path] = value
            self.assertFalse(report.fingerprint_matches(got, self.FP))
        got = copy.deepcopy(self.FP)
        got["floats"]["2:x"] = [10.0, 15.001, 10.0]
        self.assertFalse(report.fingerprint_matches(got, self.FP))
        self.assertFalse(report.fingerprint_matches(None, self.FP))


class ScalaFingerprint(unittest.TestCase):
    def test_order_insensitive_and_sensitive_to_content(self):
        import run
        try:
            jars = run.spark_jars()
        except run.BenchError as e:
            self.skipTest(str(e))
        classes = run.build(jars)
        r = subprocess.run(["java", "-cp", classes + os.pathsep + os.path.join(jars, "*"),
                            "perfbench.Main", "--mode", "selftest"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("PASS fingerprint: row order does not change the count or the hash",
                      r.stdout)


def etl_pass(n=1000, valid=920, revenue=123456.78):
    obs = {"total_orders": n, "valid_orders": valid, "invalid_orders": n - valid,
           "valid_revenue": revenue}
    return [
        {"name": "generate", "check": {}},
        {"name": "process", "check": {"observed": dict(obs), "corrupt_rows": 2}},
        {"name": "readback", "check": {"rows": valid, "revenue": revenue, "groups": 7}},
        {"name": "stream", "check": {"observed": {k: float(v) for k, v in obs.items()},
                                     "batch_ms": [100, 120]}},
        {"name": "stream_readback", "check": {"rows": valid, "revenue": revenue}},
    ]


class EtlInvariants(unittest.TestCase):
    def fired(self, ops, n=1000):
        return {inv for _, inv in report.etl_violations(ops, n)}

    def test_a_consistent_pass_passes(self):
        self.assertEqual(self.fired(etl_pass()), set())

    def test_lost_orders(self):
        self.assertIn("observed total = n", self.fired(etl_pass(), n=1001))

    def test_valid_plus_invalid(self):
        ops = etl_pass()
        ops[1]["check"]["observed"]["invalid_orders"] += 1
        self.assertIn("valid + invalid = n", self.fired(ops))

    def test_readback_rows(self):
        ops = etl_pass()
        ops[2]["check"]["rows"] -= 1
        self.assertIn("readback rows = valid", self.fired(ops))

    def test_readback_revenue(self):
        ops = etl_pass()
        ops[2]["check"]["revenue"] += 1.0
        self.assertIn("readback revenue = observed valid revenue", self.fired(ops))

    def test_streaming_totals(self):
        ops = etl_pass()
        ops[3]["check"]["observed"]["valid_orders"] -= 1
        self.assertIn("streaming totals = batch totals", self.fired(ops))
        ops = etl_pass()
        ops[4]["check"]["revenue"] -= 0.5
        self.assertIn("streaming sink totals = batch totals", self.fired(ops))

    def test_a_failed_operation_counts_once(self):
        ops = etl_pass()
        ops[2] = {"name": "readback", "error": "boom", "check": {}}
        result = {"workload": "etl_orders",
                  "passes": [{"index": 0, "ops": ops, "extra": {"n": 1000}}]}
        attempted, failed = report.failures(result, {})
        self.assertEqual(attempted, 5)
        self.assertEqual([f[1] for f in failed], ["readback"])


if __name__ == "__main__":
    unittest.main()
