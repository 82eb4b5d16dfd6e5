#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic.

    python3 perfbench/selftest.py          # all tests (one JVM run, ~1 min)
    python3 perfbench/selftest.py --quick  # skip the JVM run

They pin the rules the benchmark's numbers depend on: percentiles are
nearest-rank with their sample count, a perturbed result fails the
oracle check, alert latency runs from the event's due time, and a query
that throws is counted as failed and never timed.
"""
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
import oracle  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        self.assertEqual(metrics.pct([15, 20, 35, 40, 50], 30), (20, 5))
        self.assertEqual(metrics.pct([15, 20, 35, 40, 50], 40), (20, 5))
        self.assertEqual(metrics.pct([15, 20, 35, 40, 50], 50), (35, 5))
        self.assertEqual(metrics.pct(list(range(1, 11)), 90), (9, 10))
        self.assertEqual(metrics.pct(list(range(1, 11)), 100), (10, 10))

    def test_no_interpolation_and_order_free(self):
        self.assertEqual(metrics.pct([4, 1, 3, 2], 50), (2, 4))

    def test_empty_sample_is_reported_as_such(self):
        v, n = metrics.pct([], 50)
        self.assertNotEqual(v, v)
        self.assertEqual(n, 0)


class OracleCheck(unittest.TestCase):
    def setUp(self):
        self.dir = Path(tempfile.mkdtemp())
        tables = self.dir / "tables"
        tables.mkdir()
        pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, float("nan")]}).to_parquet(
            tables / "t.parquet")
        (tables / "_COMPLETE").write_text("x")
        self.tables = tables
        self.sql = {"q": "SELECT k, v FROM t ORDER BY k"}

    def result(self, df):
        out = self.dir / "results" / "q"
        out.mkdir(parents=True, exist_ok=True)
        df.to_parquet(out / "part-0.parquet")
        return self.dir / "results"

    def check(self, df):
        return oracle.check(self.tables, self.result(df), self.sql, self.dir / "cache")["q"]

    def test_identical_result_passes(self):
        self.assertIsNone(self.check(pd.DataFrame({"v": [0.5, 1.25, float("nan")], "k": [1, 2, 3]})))

    def test_perturbed_value_fails(self):
        why = self.check(pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.2500000000000002, float("nan")]}))
        self.assertIn("column v row 1", why)

    def test_missing_row_fails(self):
        self.assertIn("rows", self.check(pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})))

    def test_int_versus_float_column_fails(self):
        why = self.check(pd.DataFrame({"k": [1.0, 2.0, 3.0], "v": [0.5, 1.25, float("nan")]}))
        self.assertIn("column k", why)

    def test_missing_result_fails(self):
        got = oracle.check(self.tables, self.dir / "none", self.sql, self.dir / "cache")
        self.assertEqual(got["q"], "no engine result")


def stream_result(alerts, sink_end, trigger_start):
    """A minimal alert_stream harness result: one data trigger per batch."""
    progress = []
    for b, start in trigger_start.items():
        iso = pd.Timestamp(start, unit="ms", tz="UTC").strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
        progress.append({"batchId": b, "timestamp": iso, "numInputRows": 5000,
                         "durationMs": {"triggerExecution": sink_end[b] - start + 5},
                         "stateOperators": [{"memoryUsedBytes": 1000000}]})
    main = {"ok": True, "error": None, "setup_s": 2.0, "progress": progress,
            "sink": [{"batch": b, "start_ms": trigger_start[b] + 1, "end_ms": e}
                     for b, e in sink_end.items()],
            "alerts": alerts}
    return {"trace": False, "rate": 5000, "streams": [main]}


class AlertLatency(unittest.TestCase):
    def test_measured_from_due_time_not_admission(self):
        # Event 7 is due at t=100 ms, admitted by the trigger starting at
        # t=1000 ms, and its batch's sink write returns at t=1600 ms.
        self.assertEqual(metrics.alert_latencies([(3, 7, 100)], {3: 1600}), [1500])

    def test_stream_metrics_use_due_time(self):
        w = metrics.WARMUP_TRIGGERS
        starts = {b: 1000 * b for b in range(w + 1)}
        ends = {b: 1000 * b + 600 for b in range(w + 1)}
        due = 1000 * w - 900          # due 0.9 s before its trigger starts
        res = stream_result([(w, 1, due)], ends, starts)
        _, failed, _, e2e, samples, _, _, _ = metrics.alert_stream(res, 4)
        self.assertEqual(failed, 0)
        self.assertEqual(e2e["latency_ms_p50"], ends[w] - due)
        self.assertNotEqual(e2e["latency_ms_p50"], ends[w] - starts[w])
        self.assertEqual(samples["latency_ms"], 1)


class LayerAccounting(unittest.TestCase):
    def test_job_span_leaves_out_jobs_run_by_the_build(self):
        # A job run while building (submitted before the build returned at
        # t=100) is build time, not part of the action's job span.
        jobs = [(40, 90), (130, 200), (210, 350)]
        self.assertEqual(metrics._job_span(jobs, 100), 220)
        self.assertEqual(metrics._job_span([(40, 90)], 100), 0)


class FailedOperations(unittest.TestCase):
    def read_result(self, ok_flags):
        reqs = [{"query": q, "phase": "setup1", "ms": 10.0, "ok": True, "error": None}
                for q in ("a", "b")]
        reqs += [{"query": q, "phase": "measure", "ms": ms, "ok": ok,
                  "error": None if ok else "boom"}
                 for q, ms, ok in ok_flags]
        return {"trace": False, "requests": reqs, "setup_s": [1.0], "measure_s": 1.0,
                "rounds": 1, "cache_bytes": 1000000, "cache_frames": 1}

    def test_thrown_request_is_failed_and_untimed(self):
        res = self.read_result([("a", 5.0, True), ("b", 1.0, False)])
        attempted, failed, failures, e2e, samples, *_ = metrics.read_api(res, {}, 4)
        self.assertEqual((attempted, failed), (4, 1))
        self.assertEqual(samples["latency_ms"], 1)
        self.assertEqual(e2e["latency_ms_p50"], 5.0)
        self.assertNotIn("b", samples["per_query_ms"])

    def test_oracle_mismatch_fails_every_request_of_the_query(self):
        res = self.read_result([("a", 5.0, True), ("b", 1.0, True)])
        _, failed, failures, e2e, samples, *_ = metrics.read_api(res, {"b": "rows 1 != 2"}, 4)
        self.assertEqual(failed, 2)
        self.assertEqual(samples["latency_ms"], 1)
        self.assertTrue(any(f["phase"] == "oracle" for f in failures))


class ForcedThrowEndToEnd(unittest.TestCase):
    """Runs the real read_api workload with one query forced to throw."""

    def test_forced_throw(self):
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", "read_api",
                            "--seed", "1", "--seconds", "1", "--trace", "0",
                            "--fail-query", "series_p95"],
                           cwd=HERE.parent, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 3)          # the set-up pass + two rounds
        record = json.loads((HERE / ".work" / "runs" / "read_api-seed1-trace0.json").read_text())
        self.assertNotIn("series_p95", record["samples"]["per_query_ms"])
        self.assertEqual(record["samples"]["latency_ms"],
                         sum(len(v) for v in record["samples"]["per_query_ms"].values()))
        self.assertTrue(all(f["query"] == "series_p95" for f in record["failures"]))


if __name__ == "__main__":
    if "--quick" in sys.argv:
        sys.argv.remove("--quick")
        del ForcedThrowEndToEnd
    unittest.main()
