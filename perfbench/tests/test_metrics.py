"""Tests of the benchmark's own arithmetic and failure accounting.

Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gates  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        # a tail above the median needs 20 samples
        self.assertIsNone(metrics.tail_percentile(list(range(19))))
        p = metrics.tail_percentile(list(range(20)))
        self.assertEqual(p, 52)
        cut = metrics.percentile(list(range(20)), p)
        self.assertEqual(sum(1 for v in range(20) if v > cut), 10)

    def test_highest_supported_percentile(self):
        xs = list(range(100))
        p = metrics.tail_percentile(xs)
        self.assertEqual(p, 90)
        self.assertGreaterEqual(sum(1 for v in xs if v > metrics.percentile(xs, p)), 10)
        self.assertLess(sum(1 for v in xs if v > metrics.percentile(xs, p + 1)), 10)

    def test_ties_do_not_count_as_beyond(self):
        xs = [1.0] * 30 + [2.0] * 5
        self.assertIsNone(metrics.tail_percentile(xs))

    def test_summary_reports_no_tail_for_small_samples(self):
        s = metrics.summary([3.0, 1.0, 2.0])
        self.assertEqual((s["n"], s["p50"], s["tail"]), (3, 2.0, None))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "name": f"s{i}", "group": "g",
                "start_ms": start, "end_ms": end}

    def test_self_time_subtracts_children(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30), self.span(3, 1, 50, 60),
                 self.span(4, 2, 12, 20)]
        st = metrics.self_times(spans)
        self.assertEqual(st, {1: 70, 2: 12, 3: 10, 4: 8})
        # self times of a tree add up to the root's wall time
        self.assertEqual(sum(st.values()), 100)

    def test_overlapping_children_count_once(self):
        # micro-batch spans from another thread may overlap each other
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 50), self.span(3, 1, 40, 70),
                 self.span(4, 1, 90, 130)]
        self.assertEqual(metrics.self_times(spans)[1], 100 - 60 - 10)

    def test_driver_gap(self):
        self.assertEqual(metrics.driver_gap_ms([(0, 100)], [(10, 30), (20, 40), (90, 200)]), 60)


class Backlog(unittest.TestCase):
    """The configured phases: files due every 1/rate s for the phase's
    length, at most 8 files per trigger. A micro-batch (one at a time)
    starts once a file is waiting and no earlier than `stall_ms`, reads the
    waiting files and ends `took` ms later."""

    PHASES = list(zip(gen.PARAMS["stream_ingest"]["rates_files_per_s"],
                      gen.PARAMS["stream_ingest"]["phase_s"]))
    MAX_FILES = gen.PARAMS["stream_ingest"]["max_files_per_trigger"]

    def run_stream(self, rate, phase_s, took, stall_ms=0.0):
        n = round(rate * phase_s)
        drops = [{"file": f"f{i}", "due_ms": 1000.0 * i / rate,
                  "drop_ms": 1000.0 * i / rate + 1} for i in range(n)]
        fb, ends, t, i, b = {}, {}, stall_ms, 0, 0
        while i < n:
            ready = [d for d in drops[i:i + self.MAX_FILES] if d["drop_ms"] <= t]
            if not ready:
                t = drops[i]["drop_ms"]
                continue
            for d in ready:
                fb[d["file"]] = b
            i += len(ready)
            t += took
            ends[b] = t
            b += 1
        series = metrics.backlog_series(drops, fb, ends)
        since = metrics.first_commit_s(drops, fb, ends)
        return series, since, metrics.backlog_grows(series, since, rate)

    def test_configured_phases(self):
        self.assertEqual(self.PHASES, [(2, 6), (4, 4), (16, 1.5)])
        self.assertEqual(self.MAX_FILES, 8)

    def test_kept_up_stream_does_not_grow(self):
        # 0.8 s per batch of up to 8 files: capacity 10 files/s
        for rate, phase_s in self.PHASES[:2]:
            series, since, grows = self.run_stream(rate, phase_s, took=800.0)
            self.assertFalse(grows, (rate, metrics.backlog_trend(series, since)))
        self.assertTrue(self.run_stream(*self.PHASES[2], took=800.0)[2])

    def test_slow_first_batch_does_not_grow(self):
        # the first batch of a phase plans its query; its ramp is left out
        for rate, phase_s in self.PHASES[:2]:
            self.assertFalse(self.run_stream(rate, phase_s, took=1500.0)[2])

    def test_stalled_stream_grows(self):
        # nothing is committed until every file of the phase is due
        for rate, phase_s in self.PHASES:
            series, since, grows = self.run_stream(rate, phase_s, took=800.0,
                                                   stall_ms=1000.0 * phase_s)
            self.assertTrue(grows, rate)
            self.assertAlmostEqual(metrics.backlog_trend(series, since), rate, delta=0.25 * rate)

    def test_stream_serving_under_half_grows(self):
        # 8 files per 5 s at the mid rate: 1.6 of 4 files/s
        series, since, grows = self.run_stream(4, 4, took=5000.0)
        self.assertTrue(grows)
        self.assertFalse(self.run_stream(2, 6, took=2000.0)[2])  # 4 of 2 files/s

    def test_trend_skips_the_ramp_before_the_first_commit(self):
        points = [(0.0, 0), (0.5, 2), (1.0, 4), (1.5, 2), (2.0, 4), (2.5, 2), (3.0, 4)]
        self.assertGreater(metrics.slope(points), 0.5)
        self.assertAlmostEqual(metrics.backlog_trend(points, 1.0), 0.0)
        self.assertEqual(metrics.backlog_trend(points, None), metrics.slope(points))


class Attribution(unittest.TestCase):
    def write_log(self, d, name, entries):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, name), "w") as f:
            f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))

    def test_files_map_to_their_batches(self):
        with tempfile.TemporaryDirectory() as ck:
            src = os.path.join(ck, "sources", "0")
            e = lambda f, b: {"path": f"file:///w/watch/{f}", "timestamp": 1, "batchId": b}
            self.write_log(src, "0", [e("a.parquet", 0), e("b.parquet", 0)])
            self.write_log(src, "1", [e("c.parquet", 1)])
            # a compacted log repeats earlier entries; both agree
            self.write_log(src, "9.compact", [e("a.parquet", 0), e("d.parquet", 9)])
            self.write_log(src, ".10.tmp", [e("x.parquet", 10)])
            fb = metrics.attribute_files(ck)
        self.assertEqual(fb, {"a.parquet": 0, "b.parquet": 0, "c.parquet": 1, "d.parquet": 9})

    def test_latency_from_due_time_to_batch_end(self):
        drops = [{"file": "a", "due_ms": 1000.0, "drop_ms": 1500.0},
                 {"file": "b", "due_ms": 2000.0, "drop_ms": 2001.0},
                 {"file": "c", "due_ms": 3000.0, "drop_ms": 3001.0}]
        lat, missing = metrics.file_latencies(drops, {"a": 0, "b": 1}, {0: 2500.0, 1: 2500.0})
        # a late drop still counts from when the file was due
        self.assertEqual(lat, [1.5, 0.5])
        self.assertEqual(missing, ["c"])


class FailureAccounting(unittest.TestCase):
    def test_failed_gate_raises_fail_share(self):
        with tempfile.TemporaryDirectory() as d:
            gen_dir = os.path.join(d, "phase0")
            sink = os.path.join(d, "sink")
            os.makedirs(gen_dir)
            os.makedirs(sink)
            rows = {"event_id": [1, 2, 3], "ts": [0, 1000000, 2000000], "user_id": [1, 1, 2],
                    "event_type": ["a", "b", "c"], "value": [1.0, 2.0, 3.0],
                    "props": ["x", "y", "z"]}
            table = pa.table(rows).cast(pa.schema([
                ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
                ("user_id", pa.int64()), ("event_type", pa.string()),
                ("value", pa.float64()), ("props", pa.string())]))
            pq.write_table(table, os.path.join(gen_dir, "part-00000.parquet"))
            body = {"phases": [{"name": "phase0", "sink": sink}]}
            manifest = {"phases": [{"dir": gen_dir}]}

            pq.write_table(table, os.path.join(sink, "part-0.parquet"))
            whole = run.account(5, [], gates.stream(body, manifest))
            self.assertEqual(whole, (7, []))
            self.assertEqual(metrics.fail_share(whole[0], len(whole[1])), 0.0)

            pq.write_table(table.slice(0, 2), os.path.join(sink, "part-0.parquet"))
            attempted, failures = run.account(5, [], gates.stream(body, manifest))
            self.assertEqual(attempted, 7)
            self.assertEqual(len(failures), 2)
            self.assertIn("3 generated ids", failures[0]["message"])
            self.assertAlmostEqual(metrics.fail_share(attempted, len(failures)), 2 / 7)


if __name__ == "__main__":
    unittest.main()
