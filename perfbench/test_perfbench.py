"""Self-tests of the benchmark's own logic (no engine needed):

    python3 -m unittest perfbench/test_perfbench.py
"""
import filecmp
import os
import random
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen    # noqa: E402
import score  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def _generate(self, seed):
        d = tempfile.mkdtemp(prefix='perfbench-gen-')
        self.addCleanup(shutil.rmtree, d)
        gen.generate('search_hot', seed, d)
        return d

    def test_same_seed_same_inputs_other_seed_other_ops(self):
        a, b, c = self._generate(7), self._generate(7), self._generate(8)
        files = ['ops_0.tsv', 'ops_1.tsv', 'qvecs.tsv', 'qtexts.tsv']
        batches = sorted(os.listdir(os.path.join(a, 'batches')))
        self.assertEqual(batches, sorted(os.listdir(os.path.join(b, 'batches'))))
        match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        match, mismatch, errors = filecmp.cmpfiles(
            os.path.join(a, 'batches'), os.path.join(b, 'batches'), batches, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        for f in ('ops_0.tsv', 'ops_1.tsv'):
            self.assertFalse(filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False))

    def test_query_order_is_seeded_over_a_fixed_stratified_set(self):
        queries = [(f'q{i:03d}', 'fp', float(i)) for i in range(37)]
        a = gen.query_order(queries, random.Random(1))
        self.assertEqual(a, gen.query_order(queries, random.Random(1)))
        self.assertNotEqual(a, gen.query_order(queries, random.Random(2)))
        qs = gen.query_set(queries)
        self.assertEqual(len(qs), gen.QUERY_SET)
        # one query from each latency stratum, the same for every seed
        self.assertEqual(sorted(set(a)), sorted(qs))
        self.assertEqual([int(q[1:]) * gen.QUERY_SET // 37 for q in qs],
                         list(range(gen.QUERY_SET)))
        for p in range(0, len(a), gen.QUERY_SET):
            self.assertEqual(sorted(a[p:p + gen.QUERY_SET]), sorted(qs))

    def test_l2_matches_float32_kernel(self):
        rng = random.Random(3)
        vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(5)]
        q = [rng.uniform(-1, 1) for _ in range(8)]
        import numpy as np
        got = gen.l2(np.array(vecs, dtype=np.float32), np.array(q, dtype=np.float32))
        for v, g in zip(vecs, got):
            s = np.float32(0)
            for x, y in zip(v, q):
                d = np.float32(x) - np.float32(y)
                s = np.float32(s + d * d)
            self.assertEqual(np.float32(np.sqrt(np.float64(s))), g)


class TailTest(unittest.TestCase):
    def test_never_fewer_than_ten_beyond(self):
        for n in range(11, 400):
            values = list(range(n))
            v, pct, beyond = score.tail(values)
            self.assertEqual(sum(1 for x in values if x > v), 10)
            self.assertEqual(beyond, 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_examples(self):
        self.assertEqual(score.tail(list(range(100)))[:2], (89, 90.0))
        self.assertEqual(score.tail(list(range(11)))[0], 0)
        self.assertIsNone(score.tail(list(range(10))))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        parent = dict(start=0.0, end=10.0)
        kids = [dict(start=1.0, end=4.0), dict(start=3.0, end=6.0),
                dict(start=8.0, end=12.0)]   # [1,6] and [8,10] inside the parent
        self.assertAlmostEqual(score.self_time(parent, kids), 3.0)

    def test_nested_and_disjoint(self):
        self.assertAlmostEqual(score.covered(0, 10, [(2, 8), (3, 4), (-5, 1)]), 7.0)
        self.assertAlmostEqual(score.covered(0, 10, []), 0.0)
        self.assertAlmostEqual(score.self_time(dict(start=5, end=6), [dict(start=0, end=9)]), 0)


class RecallTest(unittest.TestCase):
    exact = {i: float(i) for i in range(100)}   # ids 0..9 are the top-10

    def test_recall_counts_exact_members(self):
        self.assertEqual(score.recall_hits(list(range(10)), self.exact, 10), 10)
        self.assertEqual(score.recall_hits([0, 1, 2, 50, 60], self.exact, 10), 3)
        self.assertEqual(score.recall_hits([0, 0, 0], self.exact, 10), 1)
        self.assertEqual(score.recall_hits([1000], self.exact, 10), 0)

    def test_ties_at_the_kth_value_count(self):
        exact = {**self.exact, 200: 9.0}
        self.assertEqual(score.recall_hits(list(range(9)) + [200], exact, 10), 10)
        self.assertTrue(score.exact_topk_ok(list(range(9)) + [200], exact, 10))

    def test_higher_better_and_short_corpus(self):
        scores = {1: 3.0, 2: 2.0, 3: 1.0}
        self.assertTrue(score.exact_topk_ok([1, 2, 3], scores, 10, higher_better=True))
        self.assertFalse(score.exact_topk_ok([1, 2], scores, 10, higher_better=True))


class FailedFracTest(unittest.TestCase):
    def op(self, i, status, result):
        return dict(id=f'c0-{i}', kind='query', arg=f'q{i}', status=status, result=result)

    def test_thrown_and_wrong_ops_both_fail(self):
        saved = score.expected_fingerprints
        score.expected_fingerprints = lambda w: {'q0': '1:a', 'q1': '2:b', 'q2': '3:c'}
        try:
            ops = [self.op(0, 'ok', '1:a'), self.op(1, 'error', 'RuntimeException: boom'),
                   self.op(2, 'ok', '3:WRONG')]
            failures = score.check_ops('olap', None, ops)
        finally:
            score.expected_fingerprints = saved
        self.assertEqual([f['op'] for f in failures], ['c0-1', 'c0-2'])
        self.assertAlmostEqual(score.failed_frac(ops), 2 / 3)
        self.assertEqual([o['recall'] for o in ops], [1.0, None, 0.0])


class ThroughputTest(unittest.TestCase):
    def test_ops_count_the_share_of_their_time_inside_the_window(self):
        ops = [dict(start=0.0, end=400.0, correct=True),      # inside: 1
               dict(start=400.0, end=1400.0, correct=True),   # 0.6 inside
               dict(start=900.0, end=1000.0, correct=False),  # wrong: 0
               dict(start=1000.0, end=1000.0, correct=True)]  # instant, at the deadline: 1
        self.assertAlmostEqual(score.ops_in_window(ops, 0.0, 1000.0), 2.6)
        self.assertAlmostEqual(score.ops_in_window(ops, 1000.0, 2000.0), 1.4)


if __name__ == '__main__':
    unittest.main()
