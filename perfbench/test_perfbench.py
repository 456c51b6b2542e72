"""Self-tests of the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_bronze  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def span(i, parent, a, b):
    return {"id": i, "parent": parent, "start_ns": a, "end_ns": b}


class RequestOrder(unittest.TestCase):
    def test_permutation_is_deterministic_per_seed(self):
        self.assertEqual(run.recsys_requests(2, 7), run.recsys_requests(2, 7))
        self.assertNotEqual(run.recsys_requests(2, 7), run.recsys_requests(2, 8))

    def test_each_pass_requests_every_pool_query_once(self):
        reqs = run.recsys_requests(3, 1)
        n = len(run.RECSYS_POOL)
        for p in range(3):
            self.assertEqual(sorted(reqs[p * n:(p + 1) * n]),
                             sorted(run.RECSYS_POOL))


class HostSteal(unittest.TestCase):
    def test_steal_is_the_eighth_counter_over_all_ticks(self):
        before = [100, 0, 10, 500, 0, 0, 0, 5, 0, 0]
        after = [160, 0, 20, 520, 0, 0, 0, 15, 0, 0]
        self.assertAlmostEqual(run.steal_frac(before, after), 10 / 100)

    def test_no_reading_gives_none(self):
        self.assertIsNone(run.steal_frac(None, [1] * 10))


class SelfTime(unittest.TestCase):
    def test_duration_minus_children(self):
        s = stats.self_times([span(0, -1, 0, 100), span(1, 0, 10, 30),
                              span(2, 0, 50, 60)])
        self.assertAlmostEqual(s[0], 70e-9)
        self.assertAlmostEqual(s[1], 20e-9)

    def test_overlapping_children_count_once(self):
        s = stats.self_times([span(0, -1, 0, 100), span(1, 0, 10, 40),
                              span(2, 0, 30, 50)])
        self.assertAlmostEqual(s[0], 60e-9)

    def test_child_outside_parent_is_clipped(self):
        s = stats.self_times([span(0, -1, 0, 100), span(1, 0, 90, 120)])
        self.assertAlmostEqual(s[0], 90e-9)


class BronzeGenerator(unittest.TestCase):
    SIZE = dict(backfill_hours=2, events_per_backfill_hour=300,
                increments=2, events_per_increment=200, n_users=40,
                n_products=30)

    def generate(self, seed):
        d = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, d)
        return d, gen_bronze.generate(d, seed, **self.SIZE)

    def files(self, d):
        return sorted(os.path.relpath(os.path.join(r, f), d)
                      for r, _, fs in os.walk(d) for f in fs
                      if f.endswith(".json") and f != "manifest.json")

    def test_same_seed_gives_identical_bytes(self):
        a, _ = self.generate(3)
        b, _ = self.generate(3)
        self.assertEqual(self.files(a), self.files(b))
        _, mismatch, errors = filecmp.cmpfiles(a, b, self.files(a),
                                               shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_bytes(self):
        a, _ = self.generate(3)
        b, _ = self.generate(4)
        _, mismatch, _ = filecmp.cmpfiles(a, b, self.files(a), shallow=False)
        self.assertTrue(mismatch)

    def test_manifest_counts_follow_planted_defects(self):
        _, m = self.generate(5)
        click = m["silver"]["clickstream"]
        self.assertEqual(click["raw"], 2 * 300)
        self.assertLess(click["processed"], click["raw"])
        self.assertGreater(click["processed"], 0.8 * click["raw"])
        self.assertEqual(m["gold_rows"]["enriched_events"], click["processed"])
        self.assertEqual([h["raw"] for h in m["hours"]], [200, 200])
        self.assertLessEqual(m["hours"][0]["report_rows"],
                             m["hours"][1]["report_rows"])


if __name__ == "__main__":
    unittest.main()
