#!/usr/bin/env python3
"""Fast self-test of the benchmark's own code (no Spark):

    python3 e2ebench/selftest.py

Checks that a seed fixes the generated inputs byte for byte and another
seed changes them, the generator's q-value replay and the warm-up rule.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from run import warm_measured, warmup_cut  # noqa: E402

WORK = os.path.join(os.path.dirname(HERE), ".e2ebench_work", f"selftest-{os.getpid()}")


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def tearDown(self):
        shutil.rmtree(WORK, ignore_errors=True)

    def _index(self, seed: int, sub: str):
        t = gen.index_inputs(seed, os.path.join(WORK, sub), 400)
        return _digest([t["mzid"], t["mgf"]]), t

    def _curate(self, seed: int, sub: str):
        t = gen.curate_inputs(seed, os.path.join(WORK, sub), 300)
        return _digest([t["path"]]), t

    def test_index_inputs_follow_the_seed(self):
        a, ta = self._index(7, "a")
        b, tb = self._index(7, "b")
        c, _ = self._index(8, "c")
        self.assertEqual(a, b)
        self.assertEqual(ta["archive_targets"], tb["archive_targets"])
        self.assertNotEqual(a, c)

    def test_curate_inputs_follow_the_seed(self):
        a, ta = self._curate(7, "a")
        b, _ = self._curate(7, "b")
        c, _ = self._curate(8, "c")
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        self.assertEqual(ta["exact_dups"], 60)
        self.assertEqual(ta["near_dups"], 60)

    def test_index_truth_is_plausible(self):
        _, t = self._index(3, "t")
        self.assertGreater(t["archive_targets"], 0)
        # at 1% FDR decoys are at most about 1% of the accepted targets
        self.assertLessEqual(t["archive_decoys"], 0.02 * t["archive_targets"] + 1)

    def test_expected_qvalues(self):
        # lower score is better: T T D T D -> fdr 0 0 .5 1/3 2/3
        q = gen._expected_qvalues([1, 2, 3, 4, 5], [False, False, True, False, True])
        self.assertEqual(q, [0.0, 0.0, 1 / 3, 1 / 3, 2 / 3])


class WarmupTest(unittest.TestCase):
    def test_warmup_cut(self):
        self.assertEqual(warmup_cut([30, 17, 14, 10, 10.2, 9.9, 10.1]), 3)
        self.assertIsNone(warmup_cut([30, 20, 15, 12]))
        # a later drop means the curve was still descending
        self.assertIsNone(warmup_cut([10, 10, 10, 8]))

    def test_warm_measured_without_a_flat_part_takes_the_first_warm_pass(self):
        self.assertEqual(warm_measured([11.0, 9.0]), ([11.0], 0, False))
        self.assertEqual(warm_measured([12.0]), ([12.0], 0, False))
        self.assertEqual(warm_measured([12.0, 10.0, 9.0]), ([12.0], 0, False))
        self.assertEqual(warm_measured([14, 10, 10.1, 9.9]), ([10, 10.1, 9.9], 1, True))


if __name__ == "__main__":
    unittest.main()
