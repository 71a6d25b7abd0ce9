"""Unit tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics as M  # noqa: E402
import run  # noqa: E402
import wsgen  # noqa: E402


def progress(batch_id, start, end, ts, trigger_ms):
    return {"batchId": batch_id, "timestamp": ts, "durationMs": {"triggerExecution": trigger_ms},
            "sources": [{"startOffset": None if start is None else str(start),
                         "endOffset": str(end)}]}


class PercentileRule(unittest.TestCase):
    def test_p99_needs_ten_samples_beyond(self):
        vals = list(range(1, 1001))  # 1000 samples: p99 is rank 990, 10 beyond
        self.assertEqual(M.percentile(vals, 99), 990)
        with self.assertRaises(ValueError):
            M.percentile(vals[:999], 99)  # rank 990 of 999 leaves 9 beyond

    def test_median_and_small_samples(self):
        self.assertEqual(M.percentile(list(range(1, 22)), 50), 11)
        with self.assertRaises(ValueError):
            M.percentile(list(range(1, 19)), 50)  # 18 samples: 9 beyond the median

    def test_lossy_run_falls_back_to_the_largest_latency(self):
        self.assertEqual(run.pct([5.0, 7.0], 90), 7.0)
        self.assertEqual(run.pct([], 90), 0.0)

    def test_median(self):
        self.assertEqual(M.median([3, 1, 2]), 2)
        self.assertEqual(M.median([4, 1, 3, 2]), 2.5)


class FrameAttribution(unittest.TestCase):
    def setUp(self):
        t = "2026-01-01T00:00:00.000Z"
        self.t0 = M.parse_ts_ms(t)
        self.batches = M.Batches([
            progress(0, None, 0, t, 100),                        # empty first batch
            progress(2, 5, 12, "2026-01-01T00:00:01.000Z", 250),  # out of order on purpose
            progress(1, 0, 5, "2026-01-01T00:00:00.500Z", 300),
        ])

    def test_offset_ranges_map_frames_to_batches(self):
        self.assertEqual(list(self.batches.batch_of(range(13))),
                         [1] * 5 + [2] * 7 + [-1])  # seq 12 is not committed yet

    def test_batch_end_is_trigger_start_plus_duration(self):
        ends = self.batches.commit_ms([0, 4, 5, 11, 12])
        self.assertEqual(list(ends[:4]), [self.t0 + 800, self.t0 + 800,
                                          self.t0 + 1250, self.t0 + 1250])
        self.assertTrue(math.isnan(ends[4]))

    def test_latency_from_creation_stamp(self):
        stamp_us = int(self.t0 * 1000) + 200_000  # created 200 ms after t0
        lat = M.frame_latencies_ms(self.batches, [7, 3, 99], [stamp_us] * 3)
        self.assertEqual(list(lat), [600.0, 1050.0])  # ascending; seq 99 never committed

    def test_frames_in_a_gap_are_not_committed(self):
        t = "2026-01-01T00:00:00.000Z"
        b = M.Batches([progress(1, 0, 5, t, 1), progress(2, 6, 9, t, 1)])
        self.assertEqual(list(b.batch_of([4, 5, 6])), [1, -1, 2])

    def test_overlapping_offsets_are_refused(self):
        t = "2026-01-01T00:00:00.000Z"
        with self.assertRaises(ValueError):
            M.Batches([progress(1, 0, 5, t, 1), progress(2, 4, 9, t, 1)])


class ExactlyOnce(unittest.TestCase):
    def test_every_frame_once_passes(self):
        passed, failed, stray = M.exactly_once([2, 0, 1], [True, True, True], 3)
        self.assertEqual((list(passed), list(failed), stray), ([0, 1, 2], [], 0))

    def test_replay_into_a_later_epoch_fails_the_frame(self):
        # frame 1 committed in its own epoch (ok) and again in a later one,
        # which the epoch check marks not ok: still a duplicate delivery
        passed, failed, _ = M.exactly_once([0, 1, 2, 1], [True, True, True, False], 3)
        self.assertEqual((list(passed), list(failed)), ([0, 2], [1]))

    def test_two_good_copies_fail_the_frame(self):
        passed, failed, _ = M.exactly_once([0, 1, 1], [True, True, True], 2)
        self.assertEqual((list(passed), list(failed)), ([0], [1]))

    def test_missing_and_altered_frames_fail(self):
        passed, failed, _ = M.exactly_once([0, 2], [True, False], 4)
        self.assertEqual((list(passed), list(failed)), ([0], [1, 2, 3]))

    def test_rows_of_no_sent_frame_are_counted(self):
        passed, failed, stray = M.exactly_once([0, -1, 7], [True, False, False], 1)
        self.assertEqual((list(passed), list(failed), stray), ([0], [], 2))


class SinkCheck(unittest.TestCase):
    """check_sink on a small sink laid out as KafkaShapedSink writes it:
    frames 0-1 are a backlog, 2-5 scheduled; epoch 1 commits [0, 3), epoch 2
    commits [3, 6)."""
    SEED = 5
    REPORT = {"seed": SEED, "total": 6, "backlog_n": 2, "backlog_us": 1792000000000000,
              "sched0_ns": 1792000000500000000, "period_ns": 50000.0}

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.sink = self.tmp.name
        t = "2026-01-01T00:00:00.000Z"
        self.batches = M.Batches([progress(1, None, 3, t, 10), progress(2, 3, 6, t, 10)])
        self.bodies = wsgen.body_pool(self.SEED)
        self.rows = {1: [], 2: []}
        for seq in range(6):
            self.add(seq, 1 if seq < 3 else 2)

    def tearDown(self):
        self.tmp.cleanup()

    def stamp(self, seq):
        r = self.REPORT
        if seq < r["backlog_n"]:
            return r["backlog_us"]
        return (r["sched0_ns"] + int((seq - r["backlog_n"]) * r["period_ns"])) // 1000

    def add(self, seq, epoch, key=run.WS_KEY):
        value = wsgen.frame_payload(self.bodies, self.SEED, seq, self.stamp(seq)).decode()
        self.rows.setdefault(epoch, []).append(
            {"key": key, "value": value, "ts": 0, "partition": seq % run.WS_PARTITIONS})

    def check(self):
        for epoch, rows in self.rows.items():
            d = os.path.join(self.sink, f"topic={run.WS_TOPIC}", f"epoch={epoch}")
            os.makedirs(d, exist_ok=True)
            pq.write_table(pa.Table.from_pylist(rows), os.path.join(d, "part-0.parquet"))
        passed, stamps, failed, stray = run.check_sink(self.sink, self.REPORT, self.batches)
        return list(passed), list(failed), stray

    def test_intact_sink_passes(self):
        self.assertEqual(self.check(), ([0, 1, 2, 3, 4, 5], [], 0))

    def test_replay_into_a_later_epoch_fails(self):
        self.add(1, 2)
        self.assertEqual(self.check(), ([0, 2, 3, 4, 5], [1], 0))

    def test_altered_copy_fails(self):
        self.rows[2][1]["value"] = self.rows[2][1]["value"].replace('"u":', '"u":9')
        self.assertEqual(self.check(), ([0, 1, 2, 3, 5], [4], 0))

    def test_wrong_key_fails(self):
        self.rows[2][0]["key"] = "other"
        self.assertEqual(self.check(), ([0, 1, 2, 4, 5], [3], 0))

    def test_missing_frame_fails(self):
        del self.rows[1][2]
        self.assertEqual(self.check(), ([0, 1, 3, 4, 5], [2], 0))

    def test_row_of_no_sent_frame_is_counted(self):
        self.add(9, 2)
        self.assertEqual(self.check(), ([0, 1, 2, 3, 4, 5], [], 1))


class Frames(unittest.TestCase):
    def test_frames_rebuild_from_seq_and_stamp(self):
        a, b = wsgen.body_pool(7), wsgen.body_pool(7)
        self.assertEqual(a, b)
        self.assertNotEqual(a, wsgen.body_pool(8))
        f = wsgen.frame_payload(a, 7, 42, 1234567)
        self.assertTrue(f.startswith(b'{"seq":42,"t":1234567,'))
        self.assertEqual(wsgen.frame_payload(b, 7, 42, 1234567), f)

    def test_frame_sizes_average_about_512_bytes(self):
        bodies = wsgen.body_pool(3)
        sizes = [len(wsgen.frame_payload(bodies, 3, s, 1792229112451491)) for s in range(4096)]
        self.assertTrue(440 <= sum(sizes) / len(sizes) <= 600, sum(sizes) / len(sizes))


if __name__ == "__main__":
    unittest.main()
