"""Unit tests for the benchmark's helpers: python3 -m unittest discover -s perfbench"""
import unittest

import benchlib as b


def released(*seqs, start=0, step=500_000_000):
    return [{"seq": s, "due_ns": start + i * step, "at_ns": start + i * step + 1000}
            for i, s in enumerate(seqs)]


FILES = [{"seq": s, "rows": 500, "first_ts_us": 1000 * s, "last_ts_us": 1000 * s + 999}
         for s in range(8)]


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(b.percentile(xs, 50), 5)
        self.assertEqual(b.percentile(xs, 90), 9)
        self.assertEqual(b.percentile(xs, 100), 10)
        self.assertEqual(b.percentile(list(reversed(xs)), 90), 9)
        self.assertEqual(b.percentile([7.5], 90), 7.5)

    def test_sample_counts(self):
        # p90 is supported by ten samples beyond it only from 100 samples on
        self.assertEqual(b.beyond(100, 90), 10)
        self.assertEqual(b.beyond(99, 90), 9)
        self.assertEqual(b.beyond(10, 90), 1)
        self.assertEqual(b.beyond(20, 50), 10)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            b.percentile([], 50)


class JoinTest(unittest.TestCase):
    def test_files_take_their_due_time(self):
        rel = released(0, 1, 2, 3)
        done = {0: 100_000_000, 1: 700_000_000, 2: 1_100_000_000}
        # one sample per file; warm and unfinished files left out
        self.assertEqual(b.file_latencies(rel, done, skip={0}), [200.0, 100.0])
        # p90 of eleven files rests on one file beyond it
        self.assertEqual(b.beyond(11, 90), 1)

    def test_ingest_delivery(self):
        rel = released(0, 1, 2, 3)
        batches = [{"batch": 0, "t_ns": 10, "min_seq": 0, "max_seq": 1, "rows": 1000},
                   {"batch": 1, "t_ns": 20, "min_seq": 2, "max_seq": 3, "rows": 1000}]
        at, failures = b.ingest_delivery(FILES, rel, batches)
        self.assertEqual(failures, [])
        self.assertEqual(at, {0: 10, 1: 10, 2: 20, 3: 20})

    def test_ingest_delivery_gates(self):
        rel = released(0, 1, 2)
        batches = [{"batch": 0, "t_ns": 10, "min_seq": 0, "max_seq": 1, "rows": 999},
                   {"batch": 1, "t_ns": 20, "min_seq": 1, "max_seq": 1, "rows": 500},
                   {"batch": 2, "t_ns": 30, "min_seq": 5, "max_seq": 5, "rows": 500}]
        _, failures = b.ingest_delivery(FILES, rel, batches)
        self.assertEqual(len(failures), 4)  # row count, twice, never, unreleased
        self.assertTrue(any("held 999 rows" in f for f in failures))
        self.assertTrue(any("file 1 delivered twice" in f for f in failures))
        self.assertTrue(any("file 2 never" in f for f in failures))
        self.assertTrue(any("file 5 reached" in f for f in failures))

    def test_scan_consumption_needs_a_finished_sink(self):
        consumed = [{"seq": 0, "batch": 0}, {"seq": 1, "batch": 1}, {"seq": 2, "batch": 2}]
        sinks = [{"batch": 0, "t_ns": 5}, {"batch": 2, "t_ns": 9}]
        self.assertEqual(b.scan_consumption(consumed, sinks), {0: 5, 2: 9})

    def test_file_of_ts(self):
        self.assertEqual(b.file_of_ts(FILES, 0), 0)
        self.assertEqual(b.file_of_ts(FILES, 1999), 1)
        self.assertEqual(b.file_of_ts(FILES, 2000), 2)
        with self.assertRaises(ValueError):
            b.file_of_ts(FILES, -1)
        with self.assertRaises(ValueError):
            b.file_of_ts(FILES, 7999 + 1)

    def test_opportunity_takes_the_later_legs_file(self):
        rel = released(0, 1, 2)
        outs = [{"t_ns": 1_200_000_000, "later_ts_us": [1500, 2500]}]
        self.assertEqual(b.opportunity_latencies(FILES, rel, outs), [700.0, 200.0])
        self.assertEqual(b.opportunity_latencies(FILES, rel, outs, skip={1}), [200.0])


class BacklogTest(unittest.TestCase):
    def test_steady_lane_keeps_up(self):
        rel = released(*range(8))
        # saw-tooth: files wait 300..800 ms whatever their position
        done = {r["seq"]: r["due_ns"] + (300 + 500 * (i % 2)) * 1_000_000
                for i, r in enumerate(rel)}
        ratio = b.backlog_ratio(rel, done)
        self.assertAlmostEqual(ratio, 1.0)
        self.assertFalse(b.backlog_grows(ratio))

    def test_growing_backlog(self):
        rel = released(*range(8))
        # each file waits 400 ms longer than the one before
        done = {r["seq"]: r["due_ns"] + (500 + 400 * i) * 1_000_000
                for i, r in enumerate(rel)}
        ratio = b.backlog_ratio(rel, done)
        self.assertGreater(ratio, 3)
        self.assertTrue(b.backlog_grows(ratio))

    def test_too_few_files(self):
        with self.assertRaises(ValueError):
            b.backlog_ratio(released(0, 1, 2), {0: 1, 1: 2, 2: 3})


class GateTest(unittest.TestCase):
    GOLD = {"q1": {"rows": 3, "sum": "17"}, "q2": {"rows": 0, "sum": "0"}}

    def test_batch_gate(self):
        ok = {"q1": {"rows": 3, "sum": "17"}, "q2": {"rows": 0, "sum": "0"}}
        self.assertEqual(b.batch_gate(ok, self.GOLD), [])
        bad = {"q1": {"rows": 3, "sum": "18"}, "q2": {"rows": 1, "sum": "0"},
               "q3": {"rows": 1, "sum": "1"}, "q4": {"error": "boom"}}
        self.assertEqual(b.batch_gate(bad, self.GOLD), ["q1", "q2", "q3", "q4"])

    def test_opportunity_gate(self):
        ref = ["a", "b", "b"]
        self.assertEqual(b.opportunity_gate(["b", "a", "b"], reference=ref), [])
        self.assertEqual(len(b.opportunity_gate(["a", "b"], reference=ref)), 1)
        self.assertEqual(len(b.opportunity_gate([], reference=[])), 1)
        golden = {"count": 3, "digest": b.keys_digest(ref)}
        self.assertEqual(b.opportunity_gate(["b", "b", "a"], golden=golden), [])
        self.assertEqual(len(b.opportunity_gate(["a", "b", "c"], golden=golden)), 1)
        self.assertEqual(len(b.opportunity_gate(["a"])), 1)

    def test_multiset_diff(self):
        self.assertEqual(b.multiset_diff(["a", "a", "b"], ["a", "b"]), (1, 0))
        self.assertEqual(b.multiset_diff(["a"], ["a", "c", "c"]), (0, 2))
        self.assertEqual(b.multiset_diff([], []), (0, 0))


class SummaryTest(unittest.TestCase):
    def test_batch_latency_is_the_best_lap(self):
        raw = {"ops": [{"name": "q1", "lap": 0, "lat_s": 1.0, "ok": True},
                       {"name": "q1", "lap": 1, "lat_s": 3.0, "ok": True},
                       {"name": "q1", "lap": 2, "lat_s": 2.0, "ok": True},
                       {"name": "q2", "lap": 0, "lat_s": 0.5, "ok": True},
                       {"name": "q2", "lap": 1, "lat_s": 0.5, "ok": False}],
               "gate": {"q1": {"rows": 3, "sum": "17"}, "q2": {"rows": 0, "sum": "0"}}}
        s = b.batch_summary(raw, GateTest.GOLD)
        self.assertEqual(s["lap_s"], 1.5)
        self.assertAlmostEqual(s["latency_ms"], 707.10678, places=4)  # geomean of 0.5 s and 1 s
        self.assertEqual(s["latency_tail_ms"], 1000.0)
        self.assertEqual(s["latency_p50_ms"], 500.0)
        self.assertEqual(s["latency_p90_ms"], 1000.0)
        self.assertEqual((s["attempted"], s["failed"]), (7, 1))

    def test_trace_overhead_compares_mean_lap_latencies(self):
        def ops(q1, q2):
            return [{"name": "q1", "lat_s": q1, "ok": True},
                    {"name": "q2", "lat_s": q2, "ok": True}]
        # untraced laps on either side average to 1 s and 4 s (geomean 2 s);
        # the traced lap reads 1.1 s and 4.4 s, 10 % slower; a failed
        # operation has no latency and is left out
        untraced = ops(0.8, 3.0) + ops(1.2, 5.0) + [{"name": "q1", "lat_s": 0.0, "ok": False}]
        self.assertAlmostEqual(b.lap_geomean_ms(untraced), 2000.0)
        self.assertAlmostEqual(b.trace_overhead_pct(ops(1.1, 4.4), untraced), 10.0)

    def test_stream_latency_is_the_geomean_of_the_lanes(self):
        seqs = list(range(8))
        rel = released(*seqs)
        scan_rel = released(*seqs, start=10_000_000_000)
        raw = {"files": FILES, "unmeasured_seqs": [0, 1], "released": rel,
               "scan_released": scan_rel, "failures": [],
               # ingest lane: one file per batch, 200 ms after its due time
               "batches": [{"batch": s, "t_ns": r["due_ns"] + 200_000_000, "min_seq": s,
                            "max_seq": s, "rows": 500} for s, r in zip(seqs, rel)],
               "stored_rows": 4000,
               # pair-scan lane: 800 ms after its due time
               "scan_consumed": [{"seq": s, "batch": s} for s in seqs],
               "scan_sinks": [{"batch": s, "t_ns": r["due_ns"] + 800_000_000}
                              for s, r in zip(seqs, scan_rel)],
               "scan_outs": [{"t_ns": scan_rel[3]["due_ns"] + 900_000_000,
                              "later_ts_us": [3500]}],
               "scan_keys": ["k"], "reference": ["k"],
               "reads": [{"lat_s": 0.3, "ok": True}]}
        s = b.stream_summary(raw)
        self.assertEqual(s["failures"], [])
        self.assertAlmostEqual(s["latency_ms"], 400.0)  # geomean of 200 and 800
        self.assertEqual((s["ingest_p50_ms"], s["pairscan_file_p50_ms"]), (200.0, 800.0))
        self.assertEqual(s["pairscan_p50_ms"], 900.0)
        self.assertEqual(s["samples"], 12)
        raw["stored_rows"] = 3500
        raw["scan_sinks"] = raw["scan_sinks"][:-1]
        self.assertEqual(b.stream_summary(raw)["failed"], 2)


if __name__ == "__main__":
    unittest.main()
