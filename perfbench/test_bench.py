"""Tests of the benchmark's own rules: the tail percentile, metric
names, the generated corpus, and the compare tool's verdicts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The op-sequence and correctness-model tests are Scala
(perfbench/src/test, run with `sbt test` in perfbench/).
"""
import json
import os
import re
import unittest

import compare
import gen
import stats

# metric and workload names: a letter or digit first, then at most 63
# more letters, digits, `_`, `.` or `-`
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def valid_name(name):
    return bool(NAME.match(name))

BENCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                     "BENCHMARK.json")


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond_the_reported_percentile(self):
        for n in range(20, 2000, 7):
            p = stats.tail_pct(n)
            self.assertGreaterEqual(stats.beyond(n, p), 10, (n, p))
            higher = [q for q in stats.TAIL_LADDER if q > p]
            if higher:
                self.assertLess(stats.beyond(n, higher[0]), 10, (n, p))

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail_pct(19))
        self.assertEqual(stats.tail_pct(20), 50)
        self.assertEqual(stats.tail_pct(100), 90)

    def test_min_samples_is_the_fewest(self):
        for p in stats.TAIL_LADDER:
            n = stats.min_samples(p)
            self.assertGreaterEqual(stats.beyond(n, p), 10)
            self.assertLess(stats.beyond(n - 1, p), 10)

    def test_nearest_rank_percentile(self):
        xs = list(range(1, 21))
        self.assertEqual(stats.percentile(xs, 50), 10)
        self.assertEqual(stats.percentile(xs, 60), 12)
        self.assertEqual(stats.percentile(xs, 100), 20)

    def test_each_workload_tail_has_ten_beyond(self):
        import run
        for w, p in run.TAIL_PCT.items():
            n = stats.min_samples(p)
            self.assertEqual(stats.tail_pct(n), p, w)


class Names(unittest.TestCase):
    def test_charset(self):
        for good in ("p50_ms", "engine.lookup.fs_ops", "ops.q_scc_s", "a-1"):
            self.assertTrue(valid_name(good), good)
        for bad in ("", "_x", ".x", "a b", "a/b", "lat(ms)", "é", "x" * 65):
            self.assertFalse(valid_name(bad), bad)

    def test_benchmark_names_are_valid_and_unique(self):
        with open(BENCH) as f:
            bench = json.load(f)
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        names += [w["name"] for w in bench["workloads"]]
        for n in names:
            self.assertTrue(valid_name(n), n)
        self.assertEqual(len(names), len(set(names)))


class Corpus(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.t = gen.tables(5)

    def test_same_seed_same_tables(self):
        again = gen.tables(5)
        other = gen.tables(6)
        for name, table in self.t.items():
            self.assertTrue(table.equals(again[name]), name)
        self.assertFalse(self.t["lineitem"].equals(other["lineitem"]))

    def test_tables_follow_the_profile(self):
        for name, table in self.t.items():
            prof = gen.PROFILE["tables"][name]
            self.assertEqual(table.num_rows, prof["rows"], name)
            self.assertEqual(sorted(table.column_names),
                             sorted(prof["columns"]), name)
        # a measured value set is drawn with its measured shares
        disc = self.t["lineitem"].column("l_discount").to_pylist()
        for v, share in gen.col("lineitem", "l_discount")["shares"].items():
            self.assertAlmostEqual(disc.count(float(v)) / len(disc), share,
                                   delta=0.005)


class Verdicts(unittest.TestCase):
    def test_clear_gain_is_improved(self):
        a = [100 + i % 3 for i in range(10)]
        b = [80 + i % 3 for i in range(10)]
        self.assertEqual(compare.verdict(a, b, "lower", 0.1)[0], "improved")

    def test_small_shift_is_unchanged(self):
        a = [100 + i % 3 for i in range(10)]
        b = [101 + i % 3 for i in range(10)]
        self.assertEqual(compare.verdict(a, b, "lower", 0.1)[0], "unchanged")

    def test_loss_beyond_bound_is_worse(self):
        a = [100 + i % 3 for i in range(10)]
        b = [130 + i % 3 for i in range(10)]
        self.assertEqual(compare.verdict(a, b, "lower", 0.1)[0], "worse")

    def test_wide_spread_is_unresolved(self):
        a = [60, 140, 70, 130, 80, 120, 90, 110, 100, 100]
        b = [x + 5 for x in a]
        self.assertEqual(compare.verdict(a, b, "lower", 0.1)[0], "unresolved")


if __name__ == "__main__":
    unittest.main()
