"""Self-tests of the benchmark's own arithmetic and generators.

    python3 perfbench/test_perfbench.py
"""

import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fixtures  # noqa: E402
import trace  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 25))  # 24 samples
        value, pct, n = trace.tail(xs)
        self.assertEqual((pct, n), (58, 24))
        self.assertEqual(sum(x > value for x in xs), 10)
        # one percentile higher would leave fewer than ten beyond
        self.assertLess(24 - -(-(pct + 1) * 24 // 100), 10)

    def test_hundred_samples_give_p90(self):
        xs = [float(i) for i in range(100, 0, -1)]
        value, pct, n = trace.tail(xs)
        self.assertEqual((value, pct, n), (90.0, 90, 100))

    def test_eleven_samples_leave_ten_beyond_the_minimum_rank(self):
        value, pct, _ = trace.tail(range(11))
        self.assertEqual((value, pct), (0, 9))

    def test_too_few_samples_report_the_maximum_at_100(self):
        self.assertEqual(trace.tail([3, 1, 2]), (3, 100, 3))
        self.assertEqual(trace.tail([]), (0.0, 0, 0))


def span(i, parent, kind, start, end):
    return dict(id=i, parent=parent, kind=kind, name=kind, start=start, end=end, group=None)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(1, None, "process", 0, 100), span(2, 1, "job", 10, 40), span(3, 1, "job", 30, 60)]
        self.assertEqual(trace.self_times(spans), {1: 50, 2: 30, 3: 30})

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, None, "process", 0, 100), span(2, 1, "app", 90, 120)]
        self.assertEqual(trace.self_times(spans)[1], 90)

    def test_self_times_account_for_the_root(self):
        spans = [
            span(1, None, "process", 0, 1000),
            span(2, 1, "app", 100, 950),
            span(3, 2, "day", 200, 500),
            span(4, 2, "day", 500, 900),
            span(5, 3, "job", 250, 450),
            span(6, 5, "stage", 260, 440),
            span(7, 6, "task", 270, 400),
            span(8, 6, "task", 300, 430),  # parallel with 7
            span(9, 4, "job", 600, 800),
            span(10, 9, "stage", 600, 800),
            span(11, 10, "task", 610, 790),
        ]
        self.assertEqual(trace.accounted(spans), 1000)

    def test_union_length(self):
        self.assertEqual(trace.union_length([(0, 10), (5, 15), (20, 25), (30, 30)]), 20)


class Fixtures(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.dir)

    def days(self, name, seed):
        root = os.path.join(self.dir, name)
        expected = fixtures.write_days(root, seed, days=3, files_per_day=6, median=512, sigma=0.8,
                                       nested_per_day=1, empties=2)
        return fixtures.tree_hash(root), expected

    def kafka(self, name, seed):
        root = os.path.join(self.dir, name)
        expected, ends = fixtures.write_kafka(root, seed, ("audit",), 2, 50, 256, 0.6, 2, 0.1)
        return fixtures.tree_hash(root), expected, ends

    def test_same_seed_same_fixture_hash(self):
        self.assertEqual(self.days("a", 7), self.days("b", 7))
        self.assertEqual(self.kafka("c", 7), self.kafka("d", 7))

    def test_other_seed_other_fixture_same_sizes(self):
        (h1, e1), (h2, e2) = self.days("a", 1), self.days("b", 2)
        self.assertNotEqual(h1, h2)
        self.assertEqual(sorted(n for _, n in e1.values()), sorted(n for _, n in e2.values()))

    def test_day_layout_shape(self):
        _, expected = self.days("a", 3)
        self.assertEqual(len(expected), 18)
        self.assertEqual(sum(n == 0 for _, n in expected.values()), 2)
        nested = [k for k in expected if "/nested/" in k]
        self.assertEqual(len(nested), 3)
        for k in nested:  # nested files reuse a top-level basename of their day
            self.assertIn(k.replace("nested/", ""), expected)
        self.assertTrue(os.path.isdir(os.path.join(self.dir, "a", "staging")))

    def test_kafka_keys_skip_tombstones(self):
        _, expected, ends = self.kafka("a", 4)
        self.assertEqual(sum(ends.values()), 50)
        self.assertEqual(len(expected), 45)  # 10% tombstones carry no object
        for k in expected:
            self.assertRegex(k, r"^data/audit/2024-03-0[12]/audit-[01]-\d+\.gz\.enc$")

    def test_crc32c_check_value(self):
        self.assertEqual(fixtures.crc32c(b"123456789"), 0xE3069283)

    def test_record_batch_header(self):
        b = fixtures.record_batch([(5, 1000, b"k", b"v"), (6, 900, None, None)])
        self.assertEqual(int.from_bytes(b[0:8], "big"), 5)
        self.assertEqual(int.from_bytes(b[8:12], "big"), len(b) - 12)
        self.assertEqual(b[16], 2)  # magic
        self.assertEqual(int.from_bytes(b[17:21], "big"), fixtures.crc32c(b[21:]))
        self.assertEqual(int.from_bytes(b[23:27], "big"), 1)  # lastOffsetDelta
        self.assertEqual(int.from_bytes(b[57:61], "big"), 2)  # record count

    def test_varint_zigzag(self):
        self.assertEqual(fixtures.varint(0), b"\x00")
        self.assertEqual(fixtures.varint(-1), b"\x01")
        self.assertEqual(fixtures.varint(1), b"\x02")
        self.assertEqual(fixtures.varint(300), b"\xd8\x04")


if __name__ == "__main__":
    unittest.main()
