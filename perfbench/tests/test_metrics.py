"""Unit tests of the benchmark's pure metric logic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics  # noqa: E402


def offset(rows, file=None):
    d = {"totalRows": rows, "fileStart": 0}
    if file is not None:
        d.update(file=file, fileBytes=10)
    return json.dumps(d)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(100))  # 0..99
        v, pct, n = metrics.tail(xs)
        self.assertEqual(v, 89)  # 90..99 lie beyond it
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 100.0 * 89 / 99)
        self.assertEqual(n, 100)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3] * 5)[0], sorted([5, 1, 4, 2, 3] * 5)[14])

    def test_exactly_eleven_samples_gives_the_minimum(self):
        v, pct, n = metrics.tail(list(range(11, 0, -1)))
        self.assertEqual((v, pct, n), (1, 0.0, 11))

    def test_too_few_samples_fall_back_to_the_minimum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (1.0, 0.0, 3))
        self.assertEqual(metrics.tail([7.0]), (7.0, 0.0, 1))
        self.assertEqual(metrics.tail([]), (None, None, 0))


def batches_starting(starts, rows):
    return [{"start_ms": e, "dur": {}, "rows": rows} for e in starts]


class ThroughputTest(unittest.TestCase):
    def test_whole_batches_only(self):
        # 3 batches of 100 rows starting 1 s apart: the first two ran in 2 s
        got = metrics.segments_throughput([batches_starting([1000.0, 2000.0, 3000.0], 100)])
        self.assertAlmostEqual(got, 100.0)

    def test_ten_or_eleven_bursts_in_eight_seconds_read_the_same(self):
        # 500k-row bursts every 760 ms (657,895 readings/s). A fixed 8 s
        # window sees 10 or 11 of them complete depending on where it
        # starts, which a window count quantises to 625k or 687.5k;
        # whole batches read the true rate at every phase.
        period, rows = 760.0, 500000
        window_counts = set()
        for phase in range(0, 760, 20):
            ends = [phase + period * k for k in range(40)]
            in_win = [t for t in ends if 1000.0 <= t < 9000.0]
            window_counts.add(len(in_win) * rows / 8.0)
            got = metrics.segments_throughput([batches_starting(in_win, rows)])
            self.assertAlmostEqual(got, rows / (period / 1000.0), places=6)
        self.assertEqual(window_counts, {625000.0, 687500.0})

    def test_segments_are_anchored_separately(self):
        # two runs of 10 rows per 100 ms; the gap between them is not time
        got = metrics.segments_throughput([batches_starting([0, 100, 200], 10),
                                           batches_starting([5000, 5100], 10),
                                           batches_starting([9000], 10)])
        self.assertAlmostEqual(got, 100.0)

    def test_needs_two_batches(self):
        self.assertIsNone(metrics.segments_throughput([batches_starting([1.0], 5)]))
        self.assertIsNone(metrics.segments_throughput([]))

    def test_window_selection_uses_start_time(self):
        bs = [{"start_ms": t, "dur": {"triggerExecution": 900}, "rows": 10}
              for t in (0, 1000, 2000, 3000)]
        # the batch started at 2000 ends after the window and still counts
        got = metrics.in_window(bs, (1000, 2100))
        self.assertEqual([b["start_ms"] for b in got], [1000, 2000])
        # the start-up batch never counts, even inside the window
        got = metrics.in_window(bs, (0, 2100))
        self.assertEqual([b["start_ms"] for b in got], [1000, 2000])

    def test_jittered_durations_read_the_pace(self):
        # one 100k-row chunk per 1 s tick, each batch taking 100-900 ms,
        # measured in five 3 s windows at random phases. Picking batches
        # and spans by completion read about 6 % high here; by trigger
        # start every run reads the pace.
        rng = random.Random(11)
        got = []
        for _ in range(300):
            phase = rng.uniform(0, 1000)
            bs = [{"start_ms": phase + 1000 * k, "rows": 100000,
                   "dur": {"triggerExecution": rng.uniform(100, 900)}} for k in range(40)]
            windows, t = [], 2000.0
            for _ in range(5):
                w0 = t + rng.uniform(0, 1000)
                windows.append((w0, w0 + 3000))
                t = w0 + 5000
            got.append(metrics.segments_throughput([metrics.in_window(bs, w) for w in windows]))
        for g in got:
            self.assertAlmostEqual(g, 100000.0, places=6)


class TracedPhaseTest(unittest.TestCase):
    def leg(self, ends):
        batches = [{"id": i, "start_ms": e - 50, "rows": 100, "dur": {"triggerExecution": 50},
                    "so": offset(100 * i), "eo": offset(100 * (i + 1))} for i, e in enumerate(ends)]
        return metrics.Run({"batches": batches, "window": [0, 10000], "traced": [2500, 7500],
                            "callbacks": []}, {"rate": 100, "pace_ms": 1000})

    def test_untraced_ends_and_traced_middle(self):
        # 100 rows per 100 ms untraced, per 200 ms while traced
        ends = [0] + [100 * k for k in range(1, 26)] + [2500 + 200 * k for k in range(1, 26)] + \
               [7500 + 100 * k for k in range(1, 26)]
        untraced, traced = self.leg(ends).phase_throughput()
        self.assertAlmostEqual(untraced, 1000.0)
        self.assertAlmostEqual(traced, 500.0)

    def test_traced_batches_ran_wholly_inside(self):
        leg = self.leg([0, 2520, 2600, 7400, 7550])
        self.assertEqual([b["id"] for b in leg.traced()], [2, 3])


class LagTest(unittest.TestCase):
    def test_due_ticks_follow_the_schedule_when_no_tick_is_skipped(self):
        # continuous mode: one chunk per 1000 ms tick, granted up to a
        # poll interval late; due = t0 + k * pace, as t0 + rows / rate
        grants = [1000 + 1000 * k + late for k, late in enumerate([3, 240, 0, 120, 249], 1)]
        due = metrics.due_ticks(1000.0, 1000.0, grants)
        self.assertEqual(due, [2000.0, 3000.0, 4000.0, 5000.0, 6000.0])
        rows = [100000 * k for k in range(1, 6)]
        sched = [1000.0 + r * 1000.0 / 100000 for r in rows]
        self.assertEqual(due, sched)

    def test_due_ticks_drop_skipped_ticks(self):
        # 500 ms pace, the engine grants every 700 ms: missed ticks are
        # dropped, a chunk falls due at the tick it was granted in
        grants = [700.0 * k for k in range(1, 6)]  # 700 1400 2100 2800 3500
        self.assertEqual(metrics.due_ticks(0.0, 500.0, grants),
                         [500.0, 1000.0, 2000.0, 2500.0, 3500.0])

    def test_due_ticks_absorb_rounding_just_before_a_tick(self):
        # a grant 2 ms before the tick boundary (millisecond rounding)
        self.assertEqual(metrics.due_ticks(10.0, 1000.0, [1008.0, 2009.0]), [1010.0, 2010.0])

    def test_a_grant_late_in_its_tick_stays_in_that_tick(self):
        # a cold first batch held the engine until 2965 ms: tick 1 was
        # skipped and the chunk granted then belongs to tick 2
        self.assertEqual(metrics.due_ticks(0.0, 1000.0, [2965.0, 3218.0, 4218.0]),
                         [2000.0, 3000.0, 4000.0])

    def test_ticks_skipped(self):
        self.assertEqual(metrics.ticks_skipped([0, 1000, 2000, 3000], 1000), 0)
        # grants late by up to a poll interval still skip nothing
        self.assertEqual(metrics.ticks_skipped([10, 1240, 2000, 3100], 1000), 0)
        # engine-bound bursts: 500 ms pace, a grant every 700 ms
        self.assertEqual(metrics.ticks_skipped([700 * k for k in range(11)], 500), 4)
        self.assertEqual(metrics.ticks_skipped([], 500), 0)


class OffsetTest(unittest.TestCase):
    def test_initial_offset(self):
        self.assertEqual(metrics.parse_offset(None)["totalRows"], 0)

    def test_anchorless_offset(self):
        o = metrics.parse_offset('{"totalRows":42,"fileStart":7}')
        self.assertEqual((o["totalRows"], o["file"], o["fileStart"], o["fileBytes"]),
                         (42, None, 7, -1))

    def test_escaped_file_name(self):
        # PlaybackOffset.json escapes only backslash and double quote
        raw = '{"totalRows":5,"file":"/d/we\\"ird\\\\name.csv","fileStart":0,"fileBytes":99}'
        o = metrics.parse_offset(raw)
        self.assertEqual(o["file"], '/d/we"ird\\name.csv')
        self.assertEqual((o["totalRows"], o["fileBytes"]), (5, 99))

    def test_unescaped_control_characters_are_accepted(self):
        o = metrics.parse_offset('{"totalRows":1,"file":"a\tb.csv","fileStart":0,"fileBytes":1}')
        self.assertEqual(o["file"], "a\tb.csv")


class RowLossTest(unittest.TestCase):
    def test_complete_batches(self):
        bs = [{"so": None, "eo": offset(100, "f"), "rows": 100},
              {"so": offset(100, "f"), "eo": offset(250, "f"), "rows": 150}]
        self.assertEqual(metrics.row_loss(bs), (0, 0))

    def test_short_batch_counts_lost_rows(self):
        bs = [{"so": offset(0), "eo": offset(100), "rows": 100},
              {"so": offset(100), "eo": offset(200), "rows": 60},
              {"so": offset(200), "eo": offset(300), "rows": 0}]
        self.assertEqual(metrics.row_loss(bs), (140, 2))

    def test_extra_rows_mismatch_without_loss(self):
        bs = [{"so": offset(0), "eo": offset(10), "rows": 12}]
        self.assertEqual(metrics.row_loss(bs), (0, 1))


class SpanTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(metrics.union_ms([], 0, 10), 0)

    def test_self_times(self):
        sp = [{"id": 0, "name": "batch", "start": 0, "end": 100, "parent": None},
              {"id": 1, "name": "add_batch", "start": 10, "end": 90, "parent": 0},
              {"id": 2, "name": "task", "start": 20, "end": 60, "parent": 1},
              {"id": 3, "name": "task", "start": 40, "end": 80, "parent": 1}]
        st = metrics.self_times(sp)
        self.assertEqual(st, {"batch": 20, "add_batch": 20, "task": 80})


if __name__ == "__main__":
    unittest.main()
