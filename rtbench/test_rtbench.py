"""Tests of the benchmark's own logic (no engine needed):

    python3 -m unittest discover -s rtbench -p 'test_*.py'
"""
import hashlib
import os
import tempfile
import unittest

import gen
import stats


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def waves(self, seed, n=12):
        with tempfile.TemporaryDirectory() as d:
            meta, exp = gen.write_stream_waves(seed, n, d)
            return tree_digest(d), meta, exp

    def test_same_seed_gives_byte_identical_ods_files(self):
        a, meta_a, _ = self.waves(5)
        b, meta_b, _ = self.waves(5)
        self.assertEqual(a, b)
        self.assertEqual(meta_a, meta_b)

    def test_other_seed_gives_other_files(self):
        self.assertNotEqual(self.waves(5)[0], self.waves(6)[0])

    def test_tables_are_deterministic(self):
        digests = []
        for _ in range(2):
            with tempfile.TemporaryDirectory() as d:
                rows = gen.write_tables(3, d, 0.2)
                digests.append((tree_digest(d), rows))
        self.assertEqual(digests[0], digests[1])

    def test_late_events_stay_inside_the_watermark_delay(self):
        g = gen.StreamGen(9)
        top = None
        for _ in range(30):
            k, logs, cdc = g.next_wave()
            for r in logs + cdc:
                if top is not None:
                    self.assertGreater(r["ts"], top - gen.WATERMARK_MS)
            top = max([top or 0] + [r["ts"] for r in logs + cdc])

    def test_cumulative_counts_grow_every_wave(self):
        _, meta, _ = self.waves(2, n=20)
        details = [w["details_cum"] for w in meta]
        self.assertTrue(all(b > a for a, b in zip(details, details[1:])))

    def test_corrections_keep_the_latest_amount(self):
        exp = gen.StreamExpect()
        order = {"table": "order_info", "type": "insert", "ts": 1, "data": {"id": "o1"}}
        detail = lambda ts, amt: {"table": "order_detail", "type": "insert", "ts": ts,  # noqa: E731
                                  "data": {"id": "d1", "order_id": "o1", "sku_id": "s",
                                           "split_total_amount": amt}}
        exp.add([], [order, detail(1, "1.05")])
        exp.add([], [dict(order, ts=9), detail(9, "2.50")])
        self.assertEqual(exp.sku_table(), [["s", 250, 1]])

    def test_correction_share_is_per_new_detail(self):
        g = gen.StreamGen(4)
        g.next_wave()
        new = corrected = 0
        for _ in range(400):
            k, _, cdc = g.next_wave()
            for r in cdc:
                if r["table"] == "order_detail":
                    if r["data"]["id"].startswith(f"d{k * gen.ORDERS_PER_WAVE}_") or \
                            int(r["data"]["order_id"][1:]) >= k * gen.ORDERS_PER_WAVE:
                        new += 1
                    else:
                        corrected += 1
        self.assertAlmostEqual(corrected / new, gen.CORRECTION_SHARE, delta=0.02)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 21)))[:2], (50.0, 10))   # 10 beyond p50
        self.assertEqual(stats.tail(list(range(1, 41)))[:2], (75.0, 30))   # 10 beyond p75
        self.assertEqual(stats.tail(list(range(1, 101)))[:2], (90.0, 90))  # 10 beyond p90
        self.assertEqual(stats.tail(list(range(1, 1001)))[:2], (99.0, 990))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 3))

    def test_a_failed_operation_misses_the_percentile(self):
        vals = [1.0] * 15 + [float("inf")] * 25
        self.assertEqual(stats.median(vals), float("inf"))

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2)


class HopBusyTest(unittest.TestCase):
    def test_busy_time_is_the_union_of_a_hops_triggers_in_the_window(self):
        import run
        prog = lambda q, start, ms: {"query": q, "start": start,  # noqa: E731
                                     "durations": {"triggerExecution": ms}}
        res = {"setup_end_ms": 1000, "measured_end_ms": 9000,
               "query_names": {"a": "ods_dwd.log_split", "b": "ods_dwd.trade", "c": "dwd_dws.uv"},
               "progress": [prog("a", 1000, 3000), prog("b", 2000, 1000),  # b inside a
                            prog("c", 4000, 2000), prog("c", 9500, 5000)]}  # last after the window
        self.assertEqual(run.hop_busy_s(res), {"ods_dwd": 3.0, "dwd_dws": 2.0})


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
            {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},   # overlaps 2
            {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},  # sticks out of 1
            {"id": 5, "parent": 2, "start": 2.0, "end": 3.0},
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 10.0 - (4.0 + 1.0))  # [1,5] and [9,10]
        self.assertEqual(st[2], 3.0 - 1.0)
        self.assertEqual(st[3], 2.0)
        self.assertEqual(st[4], 3.0)
        self.assertEqual(st[5], 1.0)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([{"id": 7, "parent": 0, "start": 2.5, "end": 4.0}]), {7: 1.5})


if __name__ == "__main__":
    unittest.main()
