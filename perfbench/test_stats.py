"""Tests for the benchmark's own arithmetic, on fixed synthetic inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import stats


class TailPercentileTest(unittest.TestCase):
    def test_large_sample_uses_p99(self):
        p, v = stats.tail_percentile(list(range(1, 2001)))
        self.assertEqual(p, 0.99)
        self.assertEqual(v, 1980)  # nearest rank ceil(0.99 * 2000) = 1980
        self.assertEqual(sum(1 for x in range(1, 2001) if x > v), 20)

    def test_small_sample_keeps_ten_beyond(self):
        values = list(range(1, 101))  # p99 would leave 1 sample beyond
        p, v = stats.tail_percentile(values)
        self.assertAlmostEqual(p, 0.90)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in values if x > v), 10)

    def test_exactly_ten_beyond_at_the_boundary(self):
        values = [float(x) for x in range(1000)]  # (1000 - 10) / 1000 = 0.99
        p, v = stats.tail_percentile(values)
        self.assertEqual(p, 0.99)
        self.assertEqual(sum(1 for x in values if x > v), 10)

    def test_tiny_sample_falls_back_to_median(self):
        self.assertEqual(stats.tail_percentile([5, 1, 4, 2, 3]), (0.5, 3))
        self.assertEqual(stats.tail_percentile([4.0, 1.0, 2.0, 3.0]), (0.5, 2.5))
        # 20 samples: p = 0.5 exactly, so still the median
        self.assertEqual(stats.tail_percentile(list(range(20))), (0.5, 9.5))

    def test_order_does_not_matter(self):
        values = [((i * 7919) % 503) / 10 for i in range(503)]
        self.assertEqual(stats.tail_percentile(values), stats.tail_percentile(sorted(values)))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [
            {"id": 1, "parent": 0, "kind": "lane", "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "kind": "job", "start": 1.0, "end": 4.0},
            {"id": 3, "parent": 1, "kind": "job", "start": 3.0, "end": 6.0},  # overlaps 2
            {"id": 4, "parent": 1, "kind": "job", "start": 8.0, "end": 9.0},
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - (5.0 + 1.0))
        self.assertAlmostEqual(st[2], 3.0)

    def test_children_clipped_to_parent(self):
        spans = [
            {"id": 1, "parent": 0, "kind": "execute", "start": 2.0, "end": 5.0},
            {"id": 2, "parent": 1, "kind": "job", "start": 1.0, "end": 3.0},  # starts early
            {"id": 3, "parent": 1, "kind": "job", "start": 4.5, "end": 7.0},  # ends late
        ]
        self.assertAlmostEqual(stats.self_times(spans)[1], 3.0 - 1.0 - 0.5)

    def test_nested_and_by_kind(self):
        spans = [
            {"id": 1, "parent": 0, "kind": "run", "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "kind": "lane", "start": 1.0, "end": 5.0},
            {"id": 3, "parent": 1, "kind": "lane", "start": 5.0, "end": 9.0},
            {"id": 4, "parent": 2, "kind": "job", "start": 2.0, "end": 3.0},
            {"id": 5, "parent": 3, "kind": "job", "start": 5.0, "end": 9.0},
        ]
        by = stats.self_time_by_kind(spans)
        self.assertAlmostEqual(by["run"], 2.0)
        self.assertAlmostEqual(by["lane"], 3.0 + 0.0)
        self.assertAlmostEqual(by["job"], 5.0)
        # self times of all spans add up to the root's duration
        self.assertAlmostEqual(sum(by.values()), 10.0)


class EpochAttributionTest(unittest.TestCase):
    def write_logs(self, ck, source, offsets):
        d = os.path.join(ck, "sources", "0")
        os.makedirs(d)
        for n, names in source.items():
            with open(os.path.join(d, str(n)), "w") as f:
                f.write("v1\n")
                for name in names:
                    f.write(json.dumps({"path": f"file:///in/{name}", "timestamp": 1,
                                        "batchId": n}) + "\n")
        with open(os.path.join(d, ".1.crc"), "w") as f:
            f.write("not a log file")
        d = os.path.join(ck, "offsets")
        os.makedirs(d)
        for batch, off in offsets.items():
            with open(os.path.join(d, str(batch)), "w") as f:
                f.write('v1\n{"batchWatermarkMs":0}\n' + json.dumps({"logOffset": off}))

    def test_events_take_their_files_epoch_end(self):
        with tempfile.TemporaryDirectory() as ck:
            # source offsets 0, 1, 2; query batch 1 ran without new files,
            # so source offset 1 is read by query batch 2
            self.write_logs(ck, {0: ["w.json"], 1: ["a.json", "b.json"], 2: ["c.json"]},
                            {0: 0, 1: 0, 2: 1, 3: 2})
            file_epoch = stats.file_epochs(ck)
        self.assertEqual(file_epoch, {"w.json": 0, "a.json": 2, "b.json": 2, "c.json": 3})
        inserts = [
            {"key": "e2-p0-c0", "start": 1.0, "end": 1.2, "ok": True},
            {"key": "e2-p3-c0", "start": 1.0, "end": 1.5, "ok": True},
            {"key": "e2-p3-c1", "start": 1.5, "end": 9.9, "ok": False},  # failed try
            {"key": "e3-p1-c0", "start": 2.0, "end": 2.25, "ok": True},
        ]
        ends = stats.epoch_ends(inserts, {1: 1.1, 2: 2.1, 4: 3.1})
        self.assertEqual(ends, {1: 1.1, 2: 1.5, 3: 2.25, 4: 3.1})
        files = [{"name": "a.json", "i0": 0, "i1": 2}, {"name": "b.json", "i0": 2, "i1": 3},
                 {"name": "c.json", "i0": 3, "i1": 4}]
        lat = stats.event_latencies(files, file_epoch, ends, t0=0.5, rate=4.0)
        # due times 0.5, 0.75, 1.0 (batch 2 ends 1.5) and 1.25 (batch 3 ends 2.25)
        self.assertEqual([round(x, 9) for x in lat], [1.0, 0.75, 0.5, 1.0])

    def test_unread_file_is_an_error_not_a_fast_event(self):
        with self.assertRaises(ValueError):
            stats.event_latencies([{"name": "x.json", "i0": 0, "i1": 1}], {}, {}, 0.0, 1.0)

    def test_generator_lateness(self):
        files = [{"name": "a", "i0": 0, "i1": 2, "written": 0.6}]
        self.assertEqual([round(x, 9) for x in stats.generator_lateness(files, 0.0, 2.0)],
                         [0.6, 0.1])


class UnionLengthTest(unittest.TestCase):
    def test_disjoint_touching_and_empty(self):
        self.assertAlmostEqual(stats.union_length([(0, 1), (1, 2), (3, 3), (5, 6)]), 3.0)
        self.assertEqual(stats.union_length([]), 0.0)


if __name__ == "__main__":
    unittest.main()
