"""Tests of the benchmark's own summary math and output checker.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import shutil
import statistics
import sys
import tempfile
import unittest

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import compare  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402


def two_triangles_and_a_path():
    """Canonical edges of {1,2,3} triangle, {3,4} bridge, {10,11,12}
    triangle and a separate {20,21} edge: 3 components, 2 triangles."""
    e = [(1, 2), (1, 3), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)]
    src, dst = zip(*e)
    return np.array(src, np.int64), np.array(dst, np.int64)


class StatsTest(unittest.TestCase):

    def test_median_and_quartiles_match_statistics(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
        self.assertEqual(stats.median(xs), 4.0)
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(stats.quartiles([3.0]), (3.0, 3.0, 3.0))

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        q1, m, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / m)

    def test_percentile_interpolates_like_numpy(self):
        xs = list(np.random.default_rng(3).random(37))
        for p in (0, 10, 50, 90, 99, 100):
            self.assertAlmostEqual(stats.percentile(xs, p), float(np.percentile(xs, p)))

    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(19))))
        self.assertEqual(stats.tail_percentile(list(range(20)))[0], 50.0)
        self.assertEqual(stats.tail_percentile(list(range(99)))[0], 75.0)
        self.assertEqual(stats.tail_percentile(list(range(100)))[0], 90.0)
        self.assertEqual(stats.tail_percentile(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail_percentile(list(range(10000)))[0], 99.9)


class EstimatorTest(unittest.TestCase):

    def ops(self, walls):
        return [{"pass": 0, "name": n, "s": s, "ok": True, "traced": False}
                for n, s in walls.items()]

    def test_uniform_speed_reads_the_reference(self):
        ref = {"a": 1.0, "b": 4.0, "c": 20.0, "d": 2.0}
        ops = self.ops({"a": 1.5, "b": 6.0, "c": 30.0})  # 1.5x everywhere
        self.assertAlmostEqual(metrics.ratio_median(ops, ref), 1.5 * 3.0)

    def test_pass_totals_take_one_execution_per_op(self):
        ops = [{"pass": 0, "name": "a", "s": 1.0, "cpu_s": 3.0, "ok": True, "traced": True},
               {"pass": 0, "name": "a", "s": 2.0, "cpu_s": 5.0, "ok": True, "traced": False},
               {"pass": 0, "name": "k", "s": 4.0, "cpu_s": 9.0, "ok": True, "traced": True},
               {"pass": 0, "name": "x", "s": 8.0, "cpu_s": 8.0, "ok": True, "traced": True},
               {"pass": 1, "name": "a", "s": 2.0, "cpu_s": 5.0, "ok": False, "traced": False}]
        # untraced a, and k, which only ran traced; x is not one of the
        # workload's ops; pass 1 had a failure
        self.assertEqual(metrics._pass_totals(ops, "s", {"a", "k"}), [6.0])
        self.assertEqual(metrics._pass_totals(ops, "cpu_s", {"a", "k"}), [14.0])

    def test_ops_weigh_alike_whatever_their_size(self):
        ref = {"a": 1.0, "b": 4.0, "c": 20.0}
        base = metrics.ratio_median(self.ops(ref), ref)
        # the raw median follows b alone; the ratio median moves when any
        # two of the three ops slow down, the small ones included
        self.assertEqual(metrics.ratio_median(
            self.ops({"a": 1.0, "b": 4.0, "c": 40.0}), ref), base)
        self.assertAlmostEqual(metrics.ratio_median(
            self.ops({"a": 1.2, "b": 4.0, "c": 24.0}), ref), 1.2 * base)

    def test_query_reference_adds_the_first_run_cost(self):
        ev = [{"kind": "sample", "suite": ["a", "b", "z"]}]
        ref = metrics._reference(ev, {"a": 1.0, "b": 3.0})
        self.assertEqual(ref, {"a": 1.0 + metrics.FIRST_RUN_S,
                               "b": 3.0 + metrics.FIRST_RUN_S,
                               "z": 2.0 + metrics.FIRST_RUN_S})


class GraphCheckTest(unittest.TestCase):

    def setUp(self):
        self.src, self.dst = two_triangles_and_a_path()
        self.vids, self.cc = check.cc_oracle(self.src, self.dst)

    def test_oracles_on_a_known_graph(self):
        self.assertEqual(dict(zip(self.vids.tolist(), self.cc.tolist())),
                         {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10,
                          20: 20, 21: 20})
        self.assertEqual(check.triangle_oracle(self.src, self.dst), 2)
        _, r = check.pagerank_oracle(self.src, self.dst, 50)
        self.assertAlmostEqual(float(r.sum()), 1.0, places=12)

    def test_correct_outputs_pass(self):
        self.assertEqual(check.check_cc(self.vids, self.cc, self.src, self.dst), [])
        _, lp = check.lp_oracle(self.src, self.dst, 5)
        self.assertEqual(check.check_lp(self.vids, lp, self.src, self.dst, 5), [])
        _, r = check.pagerank_oracle(self.src, self.dst, 20)
        self.assertEqual(check.check_pagerank(self.vids, r, True, self.src,
                                              self.dst, 20), [])
        self.assertEqual(check.check_triangles(2, self.src, self.dst), [])

    def test_one_flipped_cc_label_fails(self):
        bad = self.cc.copy()
        bad[1] = 10  # vertex 2 claims the other triangle's component
        self.assertTrue(check.check_cc(self.vids, bad, self.src, self.dst))

    def test_merged_components_fail(self):
        bad = self.cc.copy()
        bad[self.vids == 20] = 1
        bad[self.vids == 21] = 1
        self.assertTrue(check.check_cc(self.vids, bad, self.src, self.dst))

    def test_one_rank_perturbed_by_1e3_fails(self):
        _, r = check.pagerank_oracle(self.src, self.dst, 20)
        bad = r.copy()
        bad[4] += 1e-3
        self.assertTrue(check.check_pagerank(self.vids, bad, True, self.src,
                                             self.dst, 20))
        # also caught without the oracle: the ranks no longer sum to 1
        self.assertTrue(check.check_pagerank(self.vids, bad, True, self.src,
                                             self.dst))

    def test_unconverged_pagerank_fails(self):
        _, r = check.pagerank_oracle(self.src, self.dst, 20)
        self.assertTrue(check.check_pagerank(self.vids, r, False, self.src, self.dst))

    def test_resume_comparison(self):
        a = (self.vids, self.cc)
        self.assertEqual(check.check_same(a, (self.vids, self.cc.copy())), [])
        flipped = self.cc.copy()
        flipped[0] = 2
        self.assertTrue(check.check_same(a, (self.vids, flipped)))
        r = np.linspace(0.1, 0.2, len(self.vids))
        self.assertEqual(check.check_same((self.vids, r),
                                          (self.vids, r + 1e-12), 1e-9), [])
        self.assertTrue(check.check_same((self.vids, r),
                                         (self.vids, r + 1e-6), 1e-9))

    def test_wrong_triangle_count_fails(self):
        self.assertTrue(check.check_triangles(3, self.src, self.dst))


class EdgeDerivationTest(unittest.TestCase):

    def test_xxhash64_reference_vectors(self):
        u64 = (1 << 64) - 1
        self.assertEqual(check.xxhash64(b"", 0) & u64, 0xEF46DB3751D8E999)
        self.assertEqual(check.xxhash64(b"abc", 0) & u64, 0x44BC2CF5AD770999)
        # long enough for the 32-byte stripes
        self.assertEqual(check.xxhash64(b"Nobody inspects the spammish "
                                        b"repetition", 0) & u64,
                         0xFBCEA83C8A378BF1)

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        rows = [("c1", "r", p) for p in ("a", "b", "c")] + \
            [("c2", "r", "a"), ("c2", "r", "b"), ("c2", "r", "b"),
             ("c3", "r", "d")]
        df = pd.DataFrame(rows, columns=["commit", "repo", "path"])
        duckdb.sql(f"COPY (SELECT * FROM df) TO '{self.dir}/part-0.parquet' "
                   "(FORMAT PARQUET)")

    def tearDown(self):
        shutil.rmtree(self.dir)

    def vid(self, path):
        return check.xxhash64(f"r:{path}".encode()) & ((1 << 63) - 1)

    def test_pairs_per_commit_with_cap(self):
        (src, dst), counts = check.path_edges(self.dir, 2)
        # c1 keeps the two of a, b, c with the smallest xxhash64(vid)
        h = sorted((check.xxhash64(self.vid(p).to_bytes(8, "little")), self.vid(p))
                   for p in "abc")
        kept = sorted(v for _, v in h[:2])
        ab = sorted((self.vid("a"), self.vid("b")))
        expected = sorted({tuple(kept), tuple(ab)})
        self.assertEqual(list(zip(src.tolist(), dst.tolist())), expected)
        self.assertEqual(counts, {"groups": 3, "capped_groups": 1,
                                  "pairs_expanded": 2, "edges_out": len(expected)})

    def test_dropped_or_extra_edge_fails(self):
        expected, _ = check.path_edges(self.dir, 10)
        src, dst = expected
        self.assertEqual(len(src), 3)
        self.assertEqual(check.check_edges(src[::-1], dst[::-1], expected), [])
        self.assertTrue(check.check_edges(src[1:], dst[1:], expected))
        self.assertTrue(check.check_edges(np.append(src, 7), np.append(dst, 9),
                                          expected))
        moved = dst.copy()
        moved[0] += 1
        self.assertTrue(check.check_edges(src, moved, expected))


class QueryCheckTest(unittest.TestCase):

    def setUp(self):
        self.exp = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})

    def test_same_rows_in_any_order_and_column_order_pass(self):
        got = self.exp.iloc[::-1][["v", "k"]].reset_index(drop=True)
        self.assertEqual(check.check_query(got, self.exp), [])

    def test_one_dropped_row_fails(self):
        self.assertTrue(check.check_query(self.exp.iloc[:2], self.exp))

    def test_changed_value_and_renamed_column_fail(self):
        bad = self.exp.copy()
        bad.loc[1, "v"] = 1.5000001
        self.assertTrue(check.check_query(bad, self.exp))
        self.assertTrue(check.check_query(self.exp.rename(columns={"v": "w"}),
                                          self.exp))

    def test_rows_only_query_needs_rows(self):
        self.assertEqual(check.check_query(self.exp, None), [])
        self.assertTrue(check.check_query(self.exp.iloc[:0], None))


class CompareGuardTest(unittest.TestCase):

    def test_profiles_must_match(self):
        base = {"nproc": 4, "mem_total_kb": 1, "xmx": "4g", "master": "local[4]",
                "shuffle_partitions": 8, "aqe": True, "local_dir": "d",
                "checkpoint_root": "c", "commit": "a", "source_hash": "x",
                "seed": 1}
        other = dict(base, commit="b", source_hash="y", seed=2)
        self.assertEqual(compare.profile_diff(base, other), {})
        self.assertIn("nproc", compare.profile_diff(base, dict(base, nproc=32)))


if __name__ == "__main__":
    unittest.main()
