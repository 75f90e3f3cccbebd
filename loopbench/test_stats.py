"""Tests for the benchmark's accounting: percentiles, tails and
open-loop latency and lateness.

    python3 -m unittest discover -s loopbench -p 'test_*.py'
"""
import unittest

import stats


def raw_record(workload, **kw):
    rec = {"workload": workload, "seed": 1, "traced": False,
           "attempted": 3, "failed": 0, "traced_ops": 0,
           "setup_s": [0.5, 0.2, 0.3], "series": {},
           "values": {"jvm.mem_peak_mb": 800.0},
           "checks": [], "open_loop": [],
           "counters": {}}
    rec.update(kw)
    return rec


class Percentiles(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_nearest_rank(self):
        xs = list(range(1, 101))          # 1..100
        self.assertEqual(stats.quantile(xs, 50), 50)
        self.assertEqual(stats.quantile(xs, 99), 99)
        self.assertEqual(stats.quantile(xs, 100), 100)
        self.assertEqual(stats.quantile([7], 99), 7)
        self.assertEqual(stats.quantile([5, 1, 4, 2, 3], 90), 5)

    def test_quantile_is_a_sample_not_an_interpolation(self):
        self.assertIn(stats.quantile([1.0, 10.0], 50), (1.0, 10.0))

    def test_samples_beyond(self):
        self.assertEqual(stats.beyond(1000, 99), 10)
        self.assertEqual(stats.beyond(999, 99), 9)
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(10000, 99.9), 10)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_quantile(10000), 99.9)
        self.assertEqual(stats.tail_quantile(1000), 99.0)
        self.assertEqual(stats.tail_quantile(999), 90.0)
        self.assertEqual(stats.tail_quantile(100), 90.0)
        self.assertEqual(stats.tail_quantile(20), 50.0)
        with self.assertRaises(ValueError):
            stats.tail_quantile(19)

    def test_empty_series_raise(self):
        with self.assertRaises(ValueError):
            stats.median([])
        with self.assertRaises(ValueError):
            stats.quantile([], 50)

    def test_late_half(self):
        self.assertEqual(stats.late_half([1, 2, 3, 4]), [3, 4])
        self.assertEqual(stats.late_half([1, 2, 3]), [2, 3])
        self.assertEqual(stats.late_half([1]), [1])


class OpenLoop(unittest.TestCase):
    MS = 1_000_000

    def test_latency_counts_from_due_time(self):
        # the generator sent 30 ms late; the server took 5 ms
        lat, late = stats.open_loop([(0, 30 * self.MS, 35 * self.MS, True)])
        self.assertEqual(lat, [35.0])
        self.assertEqual(late, [30.0])

    def test_stall_is_charged_to_every_request_it_delays(self):
        # requests due every 10 ms; a 100 ms stall holds the first five,
        # which are then sent and answered together at 100 ms
        rows = [(i * 10 * self.MS, 100 * self.MS, 101 * self.MS, True)
                for i in range(5)]
        rows += [(i * 10 * self.MS, i * 10 * self.MS,
                  i * 10 * self.MS + self.MS, True) for i in range(10, 15)]
        lat, late = stats.open_loop(rows)
        # timing from the send would read 1 ms for every request
        self.assertEqual(lat[:5], [101.0, 91.0, 81.0, 71.0, 61.0])
        self.assertEqual(lat[5:], [1.0] * 5)
        self.assertEqual(late[:5], [100.0, 90.0, 80.0, 70.0, 60.0])
        self.assertEqual(stats.quantile(lat, 50), 1.0)
        self.assertEqual(stats.quantile(lat, 90), 91.0)

    def test_early_send_is_not_negative_lateness(self):
        _, late = stats.open_loop([(10 * self.MS, 9 * self.MS,
                                    12 * self.MS, True)])
        self.assertEqual(late, [0.0])


class EndToEnd(unittest.TestCase):
    def test_operation_workloads(self):
        raw = raw_record("feedback_loop", series={
            "op_ms": [900.0, 400.0, 500.0, 300.0, 600.0],
            "op_warmup": [1, 0, 0, 0, 0]})
        e = stats.end_to_end(raw)
        self.assertEqual(e, {"latency_ms": 450.0,   # of 400, 500, 300, 600
                             "mem_peak_mb": 800.0,
                             "setup_s": 0.3})
        c = stats.cold_and_tail(raw)
        self.assertEqual(c["op.first_ms"], 900.0)
        self.assertEqual(c["op.late_ms"], 450.0)    # of the late 300, 600

    def test_warmup_operations_are_left_out(self):
        raw = raw_record("feedback_loop", series={
            "op_ms": [900.0, 800.0, 700.0, 400.0, 500.0, 600.0],
            "op_warmup": [1, 1, 1, 0, 0, 0]})
        e = stats.end_to_end(raw)
        self.assertEqual(e["latency_ms"], 500.0)
        self.assertEqual(stats.cold_and_tail(raw)["op.first_ms"], 900.0)


    def test_serve_predict_tail_is_p99_at_1000_samples(self):
        ms = 1_000_000
        rows = [(i * ms, i * ms, i * ms + (i + 1) * ms, True)
                for i in range(1000)]
        raw = raw_record("serve_predict", open_loop=rows,
                         series={"cold_ms": [40.0, 50.0, 45.0]},
                         values={"jvm.mem_peak_mb": 300.0})
        e = stats.end_to_end(raw)
        self.assertEqual(e["latency_ms"], 500.0)
        c = stats.cold_and_tail(raw)
        self.assertEqual(c["serving.predict_tail_ms"], 990.0)
        self.assertEqual(c["op.first_ms"], 45.0)


class Result(unittest.TestCase):
    SPEC = {"end_to_end": [{"name": n, "unit": u} for n, u in
                           [("latency_ms", "ms"), ("mem_peak_mb", "MB"),
                            ("setup_s", "s")]],
            "per_layer": [{"name": "io.ingest_s", "unit": "s"},
                          {"name": "text.exact_s", "unit": "s"},
                          {"name": "io.ingest.jobs", "unit": "count"},
                          {"name": "op.first_ms", "unit": "ms"},
                          {"name": "trace.overhead_frac", "unit": "ratio"}]}
    SERIES = {"op_ms": [9.0, 4.0, 5.0, 6.0],
              "op_traced": [0, 0, 1, 0], "op_warmup": [1, 0, 0, 0],
              "io.ingest_s": [0.25]}

    def test_failed_check_makes_run_incorrect(self):
        raw = raw_record("train_pipeline", series=self.SERIES, checks=[
            {"name": "a", "ok": True, "detail": ""},
            {"name": "b", "ok": False, "detail": "x"}])
        self.assertFalse(stats.result(raw, 0, self.SPEC)["correct"])

    def test_failed_operation_makes_run_incorrect(self):
        raw = raw_record("train_pipeline", series=self.SERIES, failed=1)
        r = stats.result(raw, 0, self.SPEC)
        self.assertFalse(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (3, 1))

    def test_traced_result_has_every_per_layer_metric(self):
        raw = raw_record("train_pipeline", series=self.SERIES, traced=True,
                         traced_ops=2,
                         counters={"io.ingest": {"jobs": 4.0}})
        r = stats.result(raw, 1, self.SPEC)
        self.assertTrue(r["correct"])
        m = r["metrics"]
        self.assertEqual(list(m), [x["name"] for x in self.SPEC["per_layer"]])
        self.assertEqual(m["io.ingest_s"]["value"], 0.25)
        self.assertEqual(m["text.exact_s"]["value"], 0.0)   # never called
        self.assertEqual(m["io.ingest.jobs"]["value"], 2.0)  # per traced op
        self.assertEqual(m["op.first_ms"]["value"], 9.0)
        # traced 5 ms against untraced 4 and 6
        self.assertEqual(m["trace.overhead_frac"]["value"], 0.0)

    def test_untraced_result_has_every_end_to_end_metric(self):
        raw = raw_record("train_pipeline", series=self.SERIES)
        r = stats.result(raw, 0, self.SPEC)
        self.assertEqual(list(r["metrics"]),
                         [x["name"] for x in self.SPEC["end_to_end"]])
        self.assertEqual(r["metrics"]["latency_ms"],
                         {"value": 5.0, "unit": "ms"})


if __name__ == "__main__":
    unittest.main()
