#!/usr/bin/env python3
"""Tests for the benchmark's pure helpers and its correctness gate.

    python3 perfbench/test_metrics.py

The rewrite test needs the oracle SQL dump the first benchmark run builds
(.bench_build/perfbench/oracle_sql.json) and is skipped without it.
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ORACLE_SQL = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench", "oracle_sql.json")


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, p, n = metrics.tail(xs)
        self.assertEqual((v, p, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_smallest_qualifying_sample_count(self):
        v, p, n = metrics.tail([5.0] * 10 + [1.0])
        self.assertEqual((v, n), (1.0, 11))
        self.assertAlmostEqual(p, 100.0 / 11)

    def test_order_does_not_matter(self):
        xs = [3.0, 1.0, 2.0] * 7
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([1.0, 4.0, 2.0]), (4.0, 100.0, 3))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail([])

    def test_per_pass(self):
        ops = [{"pass": 1, "s": 5.0}, {"pass": 0, "s": 1.0}, {"pass": 0, "s": 3.0}]
        self.assertEqual(metrics.per_pass(ops, lambda xs: sum(o["s"] for o in xs) / len(xs)),
                         [2.0, 5.0])
        self.assertEqual(metrics.per_pass([], len), [])

    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 2, 3]), 2.5)


class CountingTest(unittest.TestCase):
    def test_error_rate(self):
        self.assertEqual(metrics.error_rate(40, 0), 0.0)
        self.assertEqual(metrics.error_rate(40, 10), 0.25)

    def test_error_rate_rejects_impossible_counts(self):
        for attempted, failed in ((0, 0), (5, 6), (5, -1)):
            with self.assertRaises(ValueError):
                metrics.error_rate(attempted, failed)

    def test_amplification(self):
        self.assertEqual(metrics.amplification(701510, 305214), 701510 / 305214)
        self.assertEqual(metrics.amplification(0, 10), 0.0)
        with self.assertRaises(ValueError):
            metrics.amplification(10, 0)

    def test_pair_digest_is_order_insensitive_and_counts(self):
        rows = [(1, 3), (2, 0), (7, 2)]
        self.assertEqual(metrics.pair_digest(rows), metrics.pair_digest(rows[::-1]))
        self.assertTrue(metrics.pair_digest(rows).startswith("3:"))
        self.assertNotEqual(metrics.pair_digest(rows), metrics.pair_digest([(1, 3), (2, 1), (7, 2)]))

    def test_pair_digest_matches_the_jvm_arithmetic(self):
        # StoreIngest.pairDigest(Seq((1L, 2L))) on the JVM
        self.assertEqual(metrics.pair_digest([(1, 2)]), "1:" + format(_jvm_mix(1, 2), "016x"))

    def test_poisson_allowance(self):
        self.assertEqual(metrics.poisson_allowance(0.0), 0)
        self.assertEqual(metrics.poisson_allowance(1e-9), 0)
        self.assertEqual(metrics.poisson_allowance(2e-6), 1)
        self.assertGreaterEqual(metrics.poisson_allowance(1.0), 8)

    def test_miss_probabilities(self):
        self.assertAlmostEqual(metrics.minhash_miss(1.0), 0.0)
        self.assertAlmostEqual(metrics.minhash_miss(0.8), (1 - 0.8 ** 4) ** 24)
        self.assertAlmostEqual(metrics.lsh_cosine_miss(1.0), 0.0)
        self.assertGreater(metrics.lsh_cosine_miss(0.45), metrics.lsh_cosine_miss(0.9))


def _jvm_mix(u, v):
    m = (1 << 64) - 1
    x = (u * 0x9E3779B97F4A7C15 + v * 0xC2B2AE3D27D4EB4F) & m
    x ^= x >> 31
    return (x * 0x94D049BB133111EB) & m


class CheckerSelfTest(unittest.TestCase):
    """The gate must catch a deliberately perturbed result."""

    COLS = ["doc_a", "doc_b", "jaccard"]
    ORACLE = [(1, 2, 0.9), (3, 4, 0.85), (5, 9, 0.81)]

    def test_exact_match_passes(self):
        ok, _ = check.compare((self.COLS, list(self.ORACLE)), (self.COLS, self.ORACLE))
        self.assertTrue(ok)

    def test_exact_catches_a_changed_value(self):
        got = [(1, 2, 0.9), (3, 4, 0.850001), (5, 9, 0.81)]
        ok, detail = check.compare((self.COLS, got), (self.COLS, self.ORACLE))
        self.assertFalse(ok, detail)

    def test_exact_catches_a_lost_duplicate_row(self):
        want = self.ORACLE + [(1, 2, 0.9)]
        ok, _ = check.compare((self.COLS, self.ORACLE), (self.COLS, want))
        self.assertFalse(ok)

    def test_exact_catches_renamed_columns(self):
        ok, _ = check.compare((["a", "b", "jaccard"], self.ORACLE), (self.COLS, self.ORACLE))
        self.assertFalse(ok)

    def test_approximate_catches_a_spurious_pair(self):
        got = self.ORACLE + [(6, 7, 0.8)]
        ok, _, _ = check.approximate("q19_minhash_lsh", (self.COLS, got), (self.COLS, self.ORACLE))
        self.assertFalse(ok)

    def test_approximate_catches_a_pair_with_a_wrong_value(self):
        got = [(1, 2, 0.9), (3, 4, 0.86), (5, 9, 0.81)]
        ok, _, _ = check.approximate("q19_minhash_lsh", (self.COLS, got), (self.COLS, self.ORACLE))
        self.assertFalse(ok)

    def test_approximate_catches_misses_beyond_the_banding_bound(self):
        # at Jaccard >= 0.81 the expected misses are ~1e-6: none allowed...
        got = self.ORACLE[:1]
        ok, detail, recall = check.approximate(
            "q19_minhash_lsh", (self.COLS, got), (self.COLS, self.ORACLE))
        self.assertFalse(ok, detail)
        self.assertAlmostEqual(recall, 1 / 3)

    def test_approximate_allows_misses_the_banding_expects(self):
        # ...while near 0.45 cosine the 3x24 hyperplane LSH misses often
        cols = ["vec_a", "vec_b", "sim"]
        want = [(i, i + 1, 0.46) for i in range(0, 2000, 2)]
        got = want[:-1]
        ok, detail, _ = check.approximate("q58_lsh_selfjoin", (cols, got), (cols, want))
        self.assertTrue(ok, detail)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.generate("curation_corpus", 7, f"{d}/a")["digest"]
            b = gen.generate("curation_corpus", 7, f"{d}/b")["digest"]
            c = gen.generate("curation_corpus", 8, f"{d}/c")["digest"]
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


@unittest.skipUnless(os.path.exists(ORACLE_SQL), "needs the oracle SQL dump of a first run")
class RewriteTest(unittest.TestCase):
    """The all-pairs rewrite returns exactly what the original SQL returns."""

    def test_rewrite_matches_original(self):
        with open(ORACLE_SQL) as fh:
            sqls = json.load(fh)
        with tempfile.TemporaryDirectory() as d:
            saved = gen.N_DOCS, gen.N_EMB
            gen.N_DOCS, gen.N_EMB = 160, 20
            try:
                gen.generate("curation_corpus", 3, f"{d}/data")
            finally:
                gen.N_DOCS, gen.N_EMB = saved
            con = check.connect(f"{d}/data", d, 2)
            for row in ("q18_jaccard_dups", "q19_minhash_lsh"):
                want = check._fetch(con, sqls[row])
                got = check._fetch(con, check.rewrite_all_pairs(sqls[row]))
                self.assertTrue(want[1], f"{row}: degenerate corpus, no pairs")
                ok, detail = check.compare(got, want)
                self.assertTrue(ok, f"{row}: {detail}")


if __name__ == "__main__":
    unittest.main()
