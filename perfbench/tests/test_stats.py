"""Unit tests for the benchmark's pure statistics.

    python3 -m unittest discover -s perfbench/tests -t perfbench
"""
import unittest

from pb import stats


class TailRule(unittest.TestCase):
    def test_few_samples_report_the_maximum(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.tail(xs), (5, 100.0, 5))
        self.assertEqual(stats.tail(list(range(20)))[0], 19)

    def test_ten_samples_beyond_the_reported_one(self):
        xs = list(range(1, 31))  # 30 samples
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 30)
        self.assertEqual(value, 20)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 100.0 * 20 / 30)

    def test_twenty_one_samples_is_the_median(self):
        xs = list(range(21))
        self.assertEqual(stats.tail(xs)[0], stats.median(xs))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_children(self):
        self.assertEqual(stats.merge_cover([(2, 5), (4, 8), (10, 12)], 0, 20), 8)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(stats.merge_cover([(-5, 3), (8, 30)], 0, 10), 5)

    def test_nested_spans(self):
        spans = {
            1: (0, "workload", 0, 100),
            2: (1, "step", 10, 60),
            3: (2, "job", 20, 40),
            4: (2, "job", 30, 50),
            5: (3, "stage", 25, 35),
        }
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50)
        self.assertEqual(st[2], 50 - 30)
        self.assertEqual(st[3], 20 - 10)
        self.assertEqual(st[4], 20)
        self.assertEqual(st[5], 10)


class Digests(unittest.TestCase):
    def test_order_insensitive(self):
        a = [(1, "x", 0.5), (2, "y", None)]
        self.assertEqual(stats.rows_digest(a), stats.rows_digest(list(reversed(a))))

    def test_numbers_compare_by_value(self):
        self.assertEqual(stats.rows_digest([(1, 2.0)]), stats.rows_digest([(1.0, 2)]))
        self.assertEqual(stats.rows_digest([(0.1 + 0.2,)]), stats.rows_digest([(0.3,)]))
        self.assertEqual(stats.rows_digest([(-0.0,)]), stats.rows_digest([(0.0,)]))

    def test_differences_change_the_digest(self):
        base = stats.rows_digest([(1, "a"), (2, "b")])
        self.assertNotEqual(base, stats.rows_digest([(1, "a"), (2, "c")]))
        self.assertNotEqual(base, stats.rows_digest([(1, "a")]))
        self.assertNotEqual(base, stats.rows_digest([(1, "a"), (2, "b"), (2, "b")]))
        self.assertNotEqual(stats.rows_digest([(1.5,)]), stats.rows_digest([(1.50001,)]))
        self.assertNotEqual(stats.rows_digest([(None,)]), stats.rows_digest([("None",)]))

    def test_nested_values(self):
        self.assertEqual(stats.rows_digest([([1, 2.0], {"k": 1})]),
                         stats.rows_digest([((1.0, 2), {"k": 1.0})]))

    def test_mismatches(self):
        pairs = {"a": {"got": "x", "want": "x"}, "b": {"got": "x", "want": "y"},
                 "c": {"got": None, "want": "y"}}
        self.assertEqual(stats.digest_mismatches(pairs), ["b", "c"])


class SparkLayers(unittest.TestCase):
    listener = {
        "jobs": [
            {"id": 0, "group": "pb-2", "start": 10, "end": 30, "stages": [0]},
            {"id": 1, "group": "pb-2", "start": 40, "end": 70, "stages": [1]},
            {"id": 2, "group": None, "start": 80, "end": 90, "stages": [2]},
        ],
        "stages": [
            {"id": 0, "run_ms": 40, "cpu_ns": 30e6, "gc_ms": 1, "shuffle_write": 5,
             "input_bytes": 100, "task_ms": [10, 10, 20]},
            {"id": 1, "run_ms": 60, "cpu_ns": 50e6, "gc_ms": 2, "shuffle_write": 0,
             "input_bytes": 0, "task_ms": [30, 30]},
            {"id": 2, "run_ms": 5, "cpu_ns": 1e6, "gc_ms": 0, "shuffle_write": 0,
             "input_bytes": 0, "task_ms": [5]},
        ],
    }

    def test_aggregates_over_the_steps_jobs(self):
        m = stats.spark_layers(self.listener, {2: (0, 100)}, {2}, lanes=4)
        self.assertEqual(m["spark.jobs"], 2)
        self.assertEqual(m["spark.tasks"], 5)
        self.assertAlmostEqual(m["spark.executor_busy_s"], 0.1)
        self.assertAlmostEqual(m["spark.driver_gap_s"], (100 - 50) / 1e9)
        self.assertEqual(m["spark.shuffle_bytes"], 5)
        self.assertEqual(m["spark.unattributed_jobs"], 1)
        # stage 0: max/median 2.0 weighted 40; stage 1: 1.0 weighted 60
        self.assertAlmostEqual(m["spark.task_skew"], (2.0 * 40 + 1.0 * 60) / 100)
        self.assertEqual(stats.job_ms(self.listener, {2}), [20e-6, 30e-6])


class Comparability(unittest.TestCase):
    fp = {"nproc": 4, "lanes": 4, "cpu_model": "x", "java": "17", "xmx": "4g",
          "workload": "runner", "config": {"docs": 5000}}

    def test_identical_fingerprints_compare(self):
        self.assertEqual(stats.comparable({"fingerprint": self.fp}, {"fingerprint": dict(self.fp)}), [])

    def test_other_host_or_config_never_compares(self):
        other = dict(self.fp, nproc=32)
        self.assertEqual(stats.comparable({"fingerprint": self.fp}, {"fingerprint": other}), ["nproc"])
        other = dict(self.fp, config={"docs": 10})
        self.assertEqual(stats.comparable({"fingerprint": self.fp}, {"fingerprint": other}), ["config"])
        self.assertIn("lanes", stats.comparable({"fingerprint": {}}, {"fingerprint": {}}))


if __name__ == "__main__":
    unittest.main()
