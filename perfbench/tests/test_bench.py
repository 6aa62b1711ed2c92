"""Tests of the benchmark's own logic: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
from bench import etlgen, metrics  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertEqual(etlgen.service_config(7), etlgen.service_config(7))

    def test_seed_changes_catalog_and_faults(self):
        a, b = etlgen.service_config(7), etlgen.service_config(8)
        self.assertNotEqual(a["animals"], b["animals"])
        self.assertNotEqual(a["faults"], b["faults"])

    def test_catalog_covers_every_epoch_shape(self):
        born = [a["born_at"] for a in etlgen.catalog(3)]
        self.assertIn(None, born)
        shapes = {"negative": lambda e: e < 0,
                  "s": lambda e: 0 <= e < 10**12 and e <= etlgen.MAX_EPOCH_S,
                  "ms": lambda e: 10**12 <= e < 10**15,
                  "us": lambda e: 10**15 <= e < 10**18,
                  "ns": lambda e: e >= 10**18,
                  "future": lambda e: 10**12 <= e < 10**15 and e * 1000 > etlgen.AS_OF_US,
                  "past year 9999": lambda e: etlgen.MAX_EPOCH_S < e < 10**12}
        for name, test in shapes.items():
            self.assertTrue(any(e is not None and test(e) for e in born), name)

    def test_ids_are_distinct(self):
        ids = [a["id"] for a in etlgen.catalog(3)]
        self.assertEqual(len(ids), len(set(ids)))


class FaultScheduleTest(unittest.TestCase):
    def test_faults_stay_within_retry_budget(self):
        for seed in range(50):
            schedule = etlgen.fault_schedule(seed, etlgen.catalog(seed, 500))
            self.assertEqual(len(schedule), len(etlgen.FAULTS))
            self.assertTrue(all(0 < k < etlgen.RETRY_ATTEMPTS for k in schedule.values()))

    def test_no_record_lost_under_the_schedule(self):
        # Replays the client's attempt loop against the schedule: every
        # logical request, faulted or not, succeeds within the budget, so
        # the sink posts each record exactly once.
        animals = etlgen.catalog(11, 500)
        schedule = etlgen.fault_schedule(11, animals)
        pages = (len(animals) + etlgen.PAGE_SIZE - 1) // etlgen.PAGE_SIZE
        keys = ([f"page:{p}" for p in range(1, pages + 1)] +
                [f"detail:{a['id']}" for a in animals] + [f"post:{a['id']}" for a in animals])
        for key in keys:
            attempt = 1
            while attempt <= schedule.get(key, 0):
                attempt += 1
            self.assertLessEqual(attempt, etlgen.RETRY_ATTEMPTS, key)
        posted = [[etlgen.expected_record(a) for a in animals[i:i + 100]]
                  for i in range(0, len(animals), 100)]
        self.assertEqual(etlgen.check_posted(animals, posted), (len(animals), {}))

    def test_lost_and_duplicate_records_are_reported(self):
        animals = etlgen.catalog(11, 5)
        recs = [etlgen.expected_record(a) for a in animals]
        recs[2] = dict(recs[2], friends=["?"])
        _, bad = etlgen.check_posted(animals, [recs[1:], recs[1:2]])
        self.assertEqual(sorted(bad), sorted(a["id"] for a in animals[:3]))


class OracleTest(unittest.TestCase):
    """The reference fixture: Dog, Cat and Mouse from the reference tests."""

    def test_reference_fixture(self):
        fixture = [
            {"id": 1, "name": "Dog", "friends": "Kangaroo, Sea Lions", "born_at": None},
            {"id": 2, "name": "Cat", "friends": "", "born_at": 1348692957651},
            {"id": 3, "name": "Mouse", "friends": "Dog", "born_at": None},
        ]
        self.assertEqual([etlgen.expected_record(a) for a in fixture], [
            {"id": 1, "name": "Dog", "friends": ["Kangaroo", "Sea Lions"]},
            {"id": 2, "name": "Cat", "friends": [], "born_at": "2012-09-26T20:55:57.651000Z"},
            {"id": 3, "name": "Mouse", "friends": ["Dog"]},
        ])

    def test_units_by_magnitude(self):
        self.assertEqual(etlgen.iso_utc(1348692957), "2012-09-26T20:55:57Z")
        self.assertEqual(etlgen.iso_utc(1348692957651123), "2012-09-26T20:55:57.651123Z")
        self.assertEqual(etlgen.iso_utc(1348692957651123999), "2012-09-26T20:55:57.651123Z")
        self.assertIsNone(etlgen.iso_utc(-1))
        self.assertIsNone(etlgen.iso_utc(etlgen.AS_OF_US // 1000 + 1))
        self.assertIsNone(etlgen.iso_utc(etlgen.MAX_EPOCH_S + 1))

    def test_friends_split_and_trimmed(self):
        self.assertEqual(etlgen.split_friends(" a ,, b ,"), ["a", "b"])
        self.assertEqual(etlgen.split_friends(None), [])


class PercentileRuleTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(metrics.highest_percentile(19))
        self.assertEqual(metrics.highest_percentile(20), 50)
        self.assertEqual(metrics.highest_percentile(99), 50)
        self.assertEqual(metrics.highest_percentile(100), 90)
        self.assertEqual(metrics.highest_percentile(999), 90)
        self.assertEqual(metrics.highest_percentile(1000), 99)
        self.assertEqual(metrics.highest_percentile(10000), 99.9)

    def test_interpolates_between_ranks(self):
        xs = list(range(1, 102))
        self.assertEqual(metrics.percentile(xs, 50), 51)
        self.assertEqual(metrics.percentile(xs, 90), 91)
        self.assertAlmostEqual(metrics.percentile([1.0, 2.0], 90), 1.9)
        self.assertEqual(metrics.percentile([3.0], 90), 3.0)


class AttributionTest(unittest.TestCase):
    # construct [1000.0, 1005.5) ms, plan [1005.5, 1005.8), exec [1005.8, 1020)
    WINDOWS = [(1_000_000, 1_005_500), (1_005_500, 1_005_800), (1_005_800, 1_020_000)]

    def test_job_belongs_to_the_window_it_started_in(self):
        self.assertEqual(metrics.job_window(1000, self.WINDOWS), 0)
        self.assertEqual(metrics.job_window(1004, self.WINDOWS), 0)
        self.assertEqual(metrics.job_window(1019, self.WINDOWS), 2)
        self.assertIsNone(metrics.job_window(1020, self.WINDOWS))
        self.assertIsNone(metrics.job_window(998, self.WINDOWS))

    def test_millisecond_stamp_never_moves_a_job_earlier(self):
        # Stamped 1005 ms, a job may have started as late as 1005.999 ms:
        # inside exec, so it is not credited to construction or planning.
        self.assertEqual(metrics.job_window(1005, self.WINDOWS), 2)

    def test_tasks_follow_their_stage_to_the_running_job(self):
        jobs = [{"id": 1, "start_ms": 1001, "end_ms": 1003, "stages": [10]},
                {"id": 2, "start_ms": 1010, "end_ms": 1015, "stages": [10, 11]}]
        tasks = [{"stage": 10, "launch_ms": 1001}, {"stage": 11, "launch_ms": 1011},
                 {"stage": 10, "launch_ms": 1012}]
        per_window, per_job = metrics.attribute(jobs, tasks, self.WINDOWS)
        self.assertEqual([[j["id"] for j in w] for w in per_window], [[1], [], [2]])
        self.assertEqual({k: len(v) for k, v in per_job.items()}, {1: 1, 2: 2})

    def test_self_time_is_the_part_no_job_covers(self):
        self.assertEqual(metrics.uncovered_us(0, 100, []), 100)
        self.assertEqual(metrics.uncovered_us(0, 100, [(10, 30), (20, 40), (90, 200)]), 60)
        self.assertEqual(metrics.uncovered_us(0, 100, [(-50, 150)]), 0)


if __name__ == "__main__":
    unittest.main()
