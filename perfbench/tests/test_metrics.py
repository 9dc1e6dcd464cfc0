"""Unit tests for the benchmark's metric arithmetic (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""

import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import metrics  # noqa: E402


def span(id, parent, start, end, name="x.y", op=1):
    return {"id": id, "parent": parent, "op": op, "name": name, "start_ns": start, "end_ns": end}


def job(id, span_id, start_ms, end_ms, op=1, **kw):
    j = {"job": id, "span": span_id, "op": op, "start_ms": start_ms, "end_ms": end_ms,
         "stages": 1, "tasks": 2, "cpu_ns": 0, "run_ms": 0, "gc_ms": 0, "shuffle_write": 0,
         "shuffle_read": 0, "fetch_wait_ms": 0, "spill_disk": 0, "input_bytes": 0,
         "input_records": 0, "output_bytes": 0, "output_records": 0}
    j.update(kw)
    return j


class TailRule(unittest.TestCase):
    def test_too_few_samples_give_no_tail(self):
        self.assertIsNone(metrics.tail(range(19)))

    def test_median_needs_ten_beyond(self):
        t = metrics.tail(range(20))
        self.assertEqual((t["percentile"], t["beyond"], t["n"]), (50.0, 10, 20))
        self.assertEqual(t["value"], 9)

    def test_highest_percentile_with_ten_beyond(self):
        for n, p in ((100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
                     (10000, 99.9)):
            t = metrics.tail(range(n))
            self.assertEqual(t["percentile"], p, n)
            self.assertGreaterEqual(t["beyond"], 10)

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(metrics.tail(list(reversed(range(100)))), metrics.tail(range(100)))


class SelfTime(unittest.TestCase):
    def test_union_length_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25), (21, 22)]), 20)
        self.assertEqual(metrics.union_length([]), 0)

    def test_nested_spans(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 2, 20, 30), span(4, 1, 60, 70)]
        s = metrics.self_times(spans)
        self.assertEqual(s, {1: 50, 2: 30, 3: 10, 4: 10})
        self.assertEqual(sum(s.values()), 100)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60)]
        self.assertEqual(metrics.self_times(spans)[1], 50)

    def test_child_past_parent_is_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 130)]
        self.assertEqual(metrics.self_times(spans)[1], 90)


class JobAttribution(unittest.TestCase):
    spans = [span(1, 0, 0, 10_000_000, "op.w"), span(2, 1, 1_000_000, 4_000_000, "quality.a"),
             span(3, 1, 5_000_000, 9_000_000, "etl.upsert"),
             span(4, 0, 20_000_000, 30_000_000, "op.w", op=2)]

    @staticmethod
    def to_ns(ms):
        return ms * 1_000_000

    def test_job_with_span_property_keeps_it(self):
        owner = metrics.attribute_jobs([job(7, 3, 2, 3)], self.spans, self.to_ns)
        self.assertEqual(owner, {7: 3})

    def test_job_without_property_goes_to_innermost_span_of_its_op(self):
        owner = metrics.attribute_jobs([job(7, 0, 2, 3), job(8, 0, 4.5, 5), job(9, 0, 25, 26, op=2)],
                                       self.spans, self.to_ns)
        self.assertEqual(owner, {7: 2, 8: 1, 9: 4})

    def test_job_outside_every_span_is_unattributed(self):
        owner = metrics.attribute_jobs([job(7, 0, 15, 16)], self.spans, self.to_ns)
        self.assertEqual(owner, {7: 0})

    def test_per_layer_sums_jobs_by_layer_and_driver_gap(self):
        record = {
            "ops": [{"id": 1, "warmup": False, "start_ns": 0, "end_ns": 10_000_000_000,
                     "ok": True, "rows": 100, "staged": 10, "staged_bytes": 1000,
                     "returned": 5}],
            "spans": [span(1, 0, 0, 10_000_000_000, "op.w"),
                      span(2, 1, 1_000_000_000, 4_000_000_000, "quality.validateRaw"),
                      span(3, 1, 5_000_000_000, 9_000_000_000, "etl.upsert")],
            "jobs": [job(1, 2, 1000, 2000), job(2, 2, 2500, 3000),
                     job(3, 3, 5000, 8000, output_records=40, output_bytes=3000)],
            "plans": [{"op": 1, "analysis_ms": 5, "optimizer_ms": 6, "planning_ms": 7,
                       "files_written": 2}],
            "clock": {"nano": 0, "wall_ms": 0},
            "setup": {"session_s": 1.0, "generate_s": [1.0, 3.0, 2.0],
                      "seed_table_s": [4.0], "warmup_s": 0.5},
        }
        m = {k: v for k, (v, _) in metrics.per_layer(record).items()}
        self.assertEqual(m["quality.jobs"], 2)
        self.assertAlmostEqual(m["quality.self_s"], 3.0)
        self.assertEqual(m["etl.upsert_jobs"], 1)
        self.assertAlmostEqual(m["etl.upsert_s"], 4.0)
        self.assertEqual(m["etl.rows_rewritten_per_staged_row"], 4.0)
        self.assertEqual(m["store.bytes_written_per_staged_byte"], 3.0)
        self.assertAlmostEqual(m["sched.driver_gap_s"], 10.0 - 4.5)
        self.assertEqual(m["sched.jobs"], 3)
        self.assertEqual(m["store.files_written"], 2)
        self.assertEqual(m["trace.self_sum_err"], 0.0)
        self.assertEqual(m["setup.generate_s"], 2.0)


class EndToEnd(unittest.TestCase):
    def test_metrics_exclude_warmup_and_failed_rows(self):
        ops = [{"id": 1, "warmup": True, "start_ns": 0, "end_ns": 9e9, "ok": True, "rows": 50},
               {"id": 2, "warmup": False, "start_ns": 0, "end_ns": 2e9, "ok": True, "rows": 100},
               {"id": 3, "warmup": False, "start_ns": 0, "end_ns": 4e9, "ok": False, "rows": 0}]
        record = {"ops": ops, "heap_live_peak_mb": 12.5, "host_probe_s": 0.33,
                  "host_probe_reference_s": 0.66,
                  "setup": {"session_s": 1.0, "generate_s": [1.0, 3.0, 2.0],
                            "seed_table_s": [4.0, 5.0, 6.0], "warmup_s": 0.5}}
        m, ctx = metrics.end_to_end(record)
        self.assertEqual(m["rows_per_s"][0], 50.0)
        self.assertEqual(m["op_p50_s"][0], 3.0)
        self.assertEqual(m["setup_s"][0], 1.0 + 2.0 + 5.0 + 0.5)
        self.assertAlmostEqual(ctx["fail_ratio"], 1 / 3)
        self.assertEqual(ctx["host_factor"], 0.5)
        self.assertIsNone(ctx["op_tail_s"])


if __name__ == "__main__":
    unittest.main()
