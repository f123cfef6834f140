#!/usr/bin/env python3
"""Self-tests of the benchmark harness.

    python3 perfbench/selftest.py            # all tests, builds the JVM half
    python3 perfbench/selftest.py -k tail    # a subset, unittest-style

- the timed action delivers every output column: under it, `pii_redact`'s
  executor CPU is at the `collect()` level, far above the `count()` level
  (where Spark may drop the columns nobody receives);
- the same seed yields identical ops and corpus bytes, another seed other ones;
- the tail-percentile rule picks the right percentile for given sample counts.
"""
import filecmp
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_percentile_picked_by_sample_count(self):
        # p99 needs n - ceil(0.99 n) >= 10, i.e. n >= 1000
        self.assertEqual(stats.tail(list(range(1000)))[1:], (0.99, 10))
        self.assertEqual(stats.tail(list(range(999)))[1:], (0.95, 49))
        # p99.9 needs n >= 10000
        self.assertEqual(stats.tail(list(range(10000)))[1:], (0.999, 10))
        self.assertEqual(stats.tail(list(range(200)))[1:], (0.95, 10))
        self.assertEqual(stats.tail(list(range(100)))[1:], (0.9, 10))
        self.assertEqual(stats.tail(list(range(40)))[1:], (0.75, 10))
        self.assertEqual(stats.tail(list(range(20)))[1:], (0.5, 10))

    def test_no_tail_below_twenty_samples(self):
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertIsNone(stats.tail([]))

    def test_tail_value_is_the_nearest_rank_sample(self):
        xs = [float(i) for i in range(1, 201)]  # 1..200
        value, q, beyond = stats.tail(list(reversed(xs)))
        self.assertEqual((value, q, beyond), (190.0, 0.95, 10))
        self.assertEqual(stats.percentile(xs, 0.5), 100.0)
        self.assertEqual(stats.median([3, 1, 2, 10]), 2.5)


class SeedDeterminism(unittest.TestCase):
    def gen_into(self, seed, workload):
        d = tempfile.mkdtemp(dir=self.tmp)
        gen.generate(seed, workload, d)
        return d

    def setUp(self):
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(HERE, ".work"))

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def same(self, a, b, rel):
        return filecmp.cmp(os.path.join(a, rel), os.path.join(b, rel), shallow=False)

    def test_same_seed_same_bytes(self):
        for wl, files in (("graph_oltp", ["plan.tsv", "reports.tsv"]),
                          ("graph_analytics", ["plan.tsv"]),
                          ("llm_curation", ["plan.tsv"])):
            a, b = self.gen_into(7, wl), self.gen_into(7, wl)
            for rel in files:
                self.assertTrue(self.same(a, b, rel), f"{wl}: {rel} differs for one seed")

    def test_other_seed_other_ops_and_corpus(self):
        for wl, files in (("graph_oltp", ["plan.tsv", "reports.tsv"]),
                          ("graph_analytics", ["plan.tsv"]),
                          ("llm_curation", ["plan.tsv"])):
            a, b = self.gen_into(7, wl), self.gen_into(8, wl)
            for rel in files:
                self.assertFalse(self.same(a, b, rel), f"{wl}: {rel} equal across seeds")


class TimedActionDeliversAllColumns(unittest.TestCase):
    def test_pii_redact_cpu_at_collect_level(self):
        run.build()
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        work = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(HERE, ".work"))
        try:
            # pii_redact reads only `customer`; the sf0.1 fixture's has 15,000 rows
            run.jvm(work, "cpu-selftest", "pii_redact",
                    data=os.path.join(HERE, "fixture", "sf0.1"))
            with open(os.path.join(work, "out", "selftest.json")) as f:
                r = json.load(f)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(f"\npii_redact executor CPU: timed action {r['collect_cpu_s']:.4f} s, "
              f"count() {r['count_cpu_s']:.4f} s", file=sys.stderr)
        self.assertGreater(r["collect_cpu_s"], 5 * r["count_cpu_s"])


if __name__ == "__main__":
    unittest.main()
