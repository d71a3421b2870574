"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 100 samples: p90 leaves exactly 10 above it, p95 only 5
        self.assertEqual(metrics.tail(range(1, 101)), (90, 90, 10))

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail(reversed(range(1, 101))), (90, 90, 10))

    def test_few_samples_fall_back_to_the_median(self):
        # 25 samples: p75 is rank 19 with 6 beyond; p50 is rank 13 with 12
        self.assertEqual(metrics.tail(range(25)), (50, 12, 12))

    def test_too_few_for_any_percentile(self):
        self.assertIsNone(metrics.tail(range(19)))

    def test_large_sample_reaches_p99(self):
        self.assertEqual(metrics.tail(range(1, 1001))[0], 99)


class CanonicalHash(unittest.TestCase):
    def test_is_the_correctness_checkers_hash(self):
        import check_correctness
        self.assertIs(metrics.frame_sig, check_correctness.frame_sig)

    def test_fixture_digest(self):
        import pandas as pd
        df = pd.DataFrame({"name": ["b", "a", None, "c"], "x": [1.0000000004, -0.0, float("nan"), 2.5],
                           "n": [3, 1, 2, 7], "flag": [True, False, True, None]})
        want = (4, ["flag", "n", "name", "x"],
                "4b54235166dd42672a529990d1df07783b8f3bc236957e32d4f61c1588ad118f")
        self.assertEqual(metrics.frame_sig(df), want)
        # row order and column order do not change the signature
        self.assertEqual(metrics.frame_sig(df.iloc[::-1][["x", "n", "flag", "name"]]), want)

    def test_values_differing_past_nine_places_hash_equal(self):
        import pandas as pd
        a = pd.DataFrame({"v": [0.1 + 0.2]})
        b = pd.DataFrame({"v": [0.3]})
        self.assertEqual(metrics.frame_sig(a), metrics.frame_sig(b))


class SpanSelfTime(unittest.TestCase):
    def test_children_overlapping_and_clipped(self):
        # covered: [0,2) + [10,30) + [90,100) = 32
        kids = [(10, 20), (15, 30), (90, 120), (-5, 2)]
        self.assertEqual(metrics.covered(0, 100, kids), 32)
        self.assertEqual(metrics.self_time(0, 100, kids), 68)

    def test_no_children(self):
        self.assertEqual(metrics.self_time(5, 9, []), 4)

    def test_child_outside_span_is_ignored(self):
        self.assertEqual(metrics.self_time(0, 10, [(10, 20), (-3, 0)]), 10)

    def test_nested_children_count_once(self):
        self.assertEqual(metrics.self_time(0, 10, [(1, 9), (2, 3), (4, 5)]), 2)


class MixSeconds(unittest.TestCase):
    def op(self, kind, name, secs):
        return {"kind": kind, "name": name, "start_ns": 0, "end_ns": int(secs * 1e9)}

    def test_weights_follow_the_plan(self):
        plan = [("append", 0, ["s1", "10"]), ("read_full", 0, []), ("upsert", 0, ["u", "5"]),
                ("append", 1, ["s2", "10"]), ("read_full", 1, [])]
        self.assertEqual(metrics.op_weights(plan), {"append": 1.0, "read_full": 1.0, "upsert": 0.5})

    def test_sum_of_weighted_medians(self):
        ops = [self.op("query", "a", 1), self.op("query", "a", 3), self.op("query", "a", 2),
               self.op("query", "b", 5)]
        self.assertAlmostEqual(metrics.mix_seconds(ops, {"a": 1, "b": 1}), 7.0)

    def test_unmeasured_key_is_an_error(self):
        ops = [self.op("query", "a", 1), self.op("query", "a", 3)]
        with self.assertRaises(ValueError):
            metrics.mix_seconds(ops, {"a": 1, "b": 1})


class Coverage(unittest.TestCase):
    def test_share_of_wall_time_under_spans(self):
        op = {"start_ns": 0, "end_ns": 100,
              "spans": [{"kind": "build", "start_ns": 0, "end_ns": 40},
                        {"kind": "exec", "start_ns": 50, "end_ns": 96}]}
        self.assertAlmostEqual(metrics.coverage(op), 0.86)


if __name__ == "__main__":
    unittest.main()
