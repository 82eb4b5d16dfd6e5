"""Turns the JVM harness's raw samples into the benchmark's metrics.

End-to-end metrics (every workload reports all of them):
  setup_s          median set-up time over the run's set-ups
  latency_ms_p50   read_api: request wall time; alert_stream: alert latency
                     (sink write returned − event due time); alert_backfill:
                     catch-up latency per backlog event (its micro-batch's
                     sink write returned − drain start)
  throughput_per_s read_api: requests/s; alert_stream: events/s in the
                     steady window; alert_backfill: backlog events/s

On alert_stream the offered load is fixed, so throughput_per_s only
confirms that the stream keeps up with it; latency_ms_p50 is the metric
that moves there.

The latency p90 and p99 and the persisted-frame and state-store sizes are
recorded with each run but not gated: a read_api run gives a few dozen
requests, too few for a steady tail.

Per-layer metrics come from traced runs; a layer a workload does not use
reports 0 (README.md lists which). Percentiles are nearest-rank.
"""
import datetime as dt
import math
import statistics

MB = 1e6

END_TO_END = {
    "setup_s": "s",
    "latency_ms_p50": "ms",
    "throughput_per_s": "1/s",
}

PER_LAYER = {
    "operators.build_ms": "ms",
    "operators.cache_frames": "count",
    "operators.cache_mb": "MB",
    "catalyst.analyze_ms": "ms",
    "catalyst.optimize_ms": "ms",
    "catalyst.physical_ms": "ms",
    "catalyst.plan_nodes": "count",
    "exec.action_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_wait_ms": "ms",
    "exec.spill_mb": "MB",
    "exec.input_rows": "rows",
    "exec.result_rows": "rows",
    "exec.busy_frac": "fraction",
    "exec.task_skew": "ratio",
    "exec.speedup_vs_1core": "ratio",
    "sources.admit_wait_ms_p50": "ms",
    "sources.lag_events": "events",
    "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_p95": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.busy_frac": "fraction",
    "streaming.rows_per_trigger": "rows",
    "sink.write_ms": "ms",
    "sink.alert_rows": "rows",
    "state.update_ms": "ms",
    "state.commit_ms": "ms",
    "state.rows_total": "rows",
    "state.rows_updated": "rows",
    "state.mb": "MB",
    "state.rocksdb_flush_ms": "ms",
    "state.rocksdb_checkpoint_ms": "ms",
    "state.rocksdb_get_ms": "ms",
    "state.rocksdb_put_ms": "ms",
    "state.rocksdb_bytes_written": "bytes",
}

# Warm-up micro-batches of the measured alert stream left out of its
# steady window.
WARMUP_TRIGGERS = 2


def pct(xs, p):
    """Nearest-rank percentile: (value, sample count); (nan, 0) if empty."""
    s = sorted(xs)
    if not s:
        return float("nan"), 0
    return s[max(1, math.ceil(p / 100.0 * len(s))) - 1], len(s)


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else float("nan")


def alert_latencies(alerts, sink_end_ms):
    """Per-alert latency in ms: the wall time its micro-batch's sink write
    returned minus the event's due time. `alerts` holds (batch, event id,
    due ms); `sink_end_ms` maps batch → return time."""
    return [sink_end_ms[b] - due for b, _, due in alerts if b in sink_end_ms]


def iso_ms(ts: str) -> int:
    return int(dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000)


def trigger_spans(progress):
    """Data triggers as dicts: start/end ms and every progress field used."""
    out = []
    for p in progress:
        if p["numInputRows"] <= 0:
            continue
        start = iso_ms(p["timestamp"])
        d = p["durationMs"]
        state = (p.get("stateOperators") or [{}])[0]
        out.append({
            "batch": p["batchId"], "start_ms": start,
            "end_ms": start + d.get("triggerExecution", 0),
            "rows": p["numInputRows"], "phases": d, "state": state,
        })
    return out


def _state_layers(trig):
    def st(k):
        return [t["state"].get(k, 0) for t in trig]

    def cm(k):
        return [t["state"].get("customMetrics", {}).get(k, 0) for t in trig]
    last = trig[-1]["state"] if trig else {}
    return {
        "state.update_ms": mean(st("allUpdatesTimeMs")),
        "state.commit_ms": mean(st("commitTimeMs")),
        "state.rows_total": last.get("numRowsTotal", 0),
        "state.rows_updated": mean(st("numRowsUpdated")),
        "state.mb": last.get("memoryUsedBytes", 0) / MB,
        "state.rocksdb_flush_ms": mean(cm("rocksdbCommitFlushLatency")),
        "state.rocksdb_checkpoint_ms": mean(cm("rocksdbCommitCheckpointLatency")),
        "state.rocksdb_get_ms": mean(cm("rocksdbGetLatency")),
        "state.rocksdb_put_ms": mean(cm("rocksdbPutLatency")),
        "state.rocksdb_bytes_written": mean(cm("rocksdbTotalBytesWritten")),
    }


def _stream_layers(trig, sink, alerts, exec_, cores, n_triggers_total):
    ph = lambda k: mean(t["phases"].get(k, 0) for t in trig)  # noqa: E731
    wall = (trig[-1]["end_ms"] - trig[0]["start_ms"]) if trig else 0
    busy = sum(t["phases"].get("triggerExecution", 0) for t in trig)
    out = {
        "streaming.latest_offset_ms": ph("latestOffset"),
        "streaming.get_batch_ms": ph("getBatch"),
        "streaming.trigger_ms_p50": pct([t["phases"]["triggerExecution"] for t in trig], 50)[0],
        "streaming.trigger_ms_p95": pct([t["phases"]["triggerExecution"] for t in trig], 95)[0],
        "streaming.query_planning_ms": ph("queryPlanning"),
        "streaming.add_batch_ms": ph("addBatch"),
        "streaming.wal_commit_ms": ph("walCommit"),
        "streaming.commit_offsets_ms": ph("commitOffsets"),
        "streaming.busy_frac": busy / wall if wall else 0.0,
        "streaming.rows_per_trigger": mean(t["rows"] for t in trig),
        "sink.write_ms": mean(s["end_ms"] - s["start_ms"] for s in sink),
        "sink.alert_rows": len(alerts) / len(trig) if trig else 0.0,
        "exec.action_ms": ph("addBatch"),
    }
    out.update(_state_layers(trig))
    if exec_:
        n = max(n_triggers_total, 1)
        out.update(_exec_layers(exec_, n, wall_ms=None, cores=cores))
    return out


def _exec_layers(e, n, wall_ms, cores):
    """Per-operation means of a job group's task totals."""
    out = {
        "exec.jobs": e["jobs"] / n,
        "exec.stages": e["stages"] / n,
        "exec.tasks": e["tasks"] / n,
        "exec.task_run_ms": e["task_run_ms"] / n,
        "exec.task_cpu_ms": e["task_cpu_ms"] / n,
        "exec.gc_ms": e["gc_ms"] / n,
        "exec.shuffle_write_mb": e["shuffle_write_bytes"] / MB / n,
        "exec.shuffle_read_mb": e["shuffle_read_bytes"] / MB / n,
        "exec.shuffle_wait_ms": e["shuffle_wait_ms"] / n,
        "exec.spill_mb": e["spill_bytes"] / MB / n,
        "exec.input_rows": e["input_rows"] / n,
        "exec.task_skew": e["task_skew"],
    }
    if wall_ms:
        out["exec.busy_frac"] = e["task_run_ms"] / (wall_ms * cores)
    return out


def _zero_layers():
    return {k: 0.0 for k in PER_LAYER}


# ------------------------------------------------------------------ read_api

def summarize(workload, res, oracle_fail, cores):
    """The run's summary: attempted, failed, failures, e2e, samples, and for
    traced runs layers, spans and accounting (None otherwise)."""
    if workload == "read_api":
        parts = read_api(res, oracle_fail, cores)
    elif workload == "alert_stream":
        parts = alert_stream(res, cores)
    else:
        parts = alert_backfill(res, cores)
    keys = ("attempted", "failed", "failures", "e2e", "samples", "layers", "spans", "accounting")
    return dict(zip(keys, parts))


def read_api(res, oracle_fail, cores):
    reqs = res["requests"]
    bad_query = {q for q, why in oracle_fail.items() if why}

    def ok(r):
        return r["ok"] and r["query"] not in bad_query
    failures = [{"query": r["query"], "phase": r["phase"], "error": r["error"]}
                for r in reqs if not r["ok"]]
    failures += [{"query": q, "phase": "oracle", "error": why}
                 for q, why in sorted(oracle_fail.items()) if why]
    attempted = len(reqs)
    failed = sum(1 for r in reqs if not ok(r))
    measured = [r for r in reqs if r["phase"] == "measure" and ok(r)]
    times = [r["ms"] for r in measured]
    clean = [s for k, s in enumerate(res["setup_s"], 1)
             if all(ok(r) for r in reqs if r["phase"] == f"setup{k}")]
    p50, n = pct(times, 50)
    p90, _ = pct(times, 90)
    e2e = {
        "setup_s": median(clean or res["setup_s"]),
        "latency_ms_p50": p50,
        "throughput_per_s": len(measured) / res["measure_s"],
    }
    per_query = {}
    for r in measured:
        per_query.setdefault(r["query"], []).append(round(r["ms"], 3))
    samples = {"latency_ms": n, "latency_ms_p90": p90, "latency_ms_p99": pct(times, 99)[0],
               "setup_s": res["setup_s"], "rounds": res["rounds"],
               "cache_mb": res["cache_bytes"] / MB, "per_query_ms": per_query,
               "setup_query_ms": {r["query"]: round(r["ms"], 3) for r in reqs
                                  if r["phase"] == "setup1"},
               "result_rows": {r["query"]: r["rows"] for r in reqs
                               if r["phase"] == "setup1" and "rows" in r}}
    layers, spans, accounting = None, None, None
    if res["trace"] and measured:
        layers = _zero_layers()
        m = lambda k: mean(r[k] for r in measured)  # noqa: E731
        n_req = len(measured)
        tot = lambda k: sum(r["exec"][k] for r in measured)  # noqa: E731
        agg = {k: tot(k) for k in measured[0]["exec"]
               if k not in ("task_skew", "stage_spans", "job_times_ms")}
        agg["task_skew"] = median(r["exec"]["task_skew"] for r in measured)
        action = sum(r["action_ms"] for r in measured)
        layers.update(_exec_layers(agg, n_req, wall_ms=action, cores=cores))
        layers.update({
            "operators.build_ms": m("build_ms") - m("tracker_analysis_ms"),
            "operators.cache_frames": res["cache_frames"],
            "operators.cache_mb": res["cache_bytes"] / MB,
            "catalyst.analyze_ms": m("tracker_analysis_ms"),
            "catalyst.optimize_ms": m("optimize_ms"),
            "catalyst.physical_ms": m("physical_ms"),
            "catalyst.plan_nodes": m("plan_nodes"),
            "exec.action_ms": m("action_ms"),
            "exec.result_rows": m("rows"),
        })
        # Accounting from sources independent of the request's wall timer:
        # the harness-timed build (which includes the eager analysis and
        # any job run while building), Spark's own optimization and planning
        # phase timers, and the listener-clock span of the jobs submitted
        # after the build returned. What is left is work in the calling thread outside
        # all of them, split into the part before the first of those jobs
        # (code generation, RDD preparation) and the part after the last
        # (result conversion).
        parts = {
            "build_ms": sum(r["build_ms"] for r in measured),
            "tracker_optimization_ms": sum(r["tracker_optimization_ms"] for r in measured),
            "tracker_planning_ms": sum(r["tracker_planning_ms"] for r in measured),
            "action_job_span_ms": sum(_job_span(r["exec"]["job_times_ms"], r["built_at_ms"])
                                      for r in measured),
        }
        total = sum(parts.values())
        wall = sum(r["ms"] for r in measured)
        after = [r for r in measured
                 if any(s >= r["built_at_ms"] for s, _ in r["exec"]["job_times_ms"])]
        tail = sum(r["built_at_ms"] + r["ms"] - r["build_ms"]
                   - max(e for s, e in r["exec"]["job_times_ms"] if s >= r["built_at_ms"])
                   for r in after)
        accounting = {"check": "build + tracker optimization + tracker planning + listener "
                               "job span vs request wall",
                      "parts_ms": parts, "layer_sum_ms": total, "wall_ms": wall,
                      "unaccounted_ms": wall - total,
                      "unaccounted_after_last_job_ms": tail,
                      "unaccounted_before_first_job_ms": wall - total - tail,
                      "ratio": total / wall,
                      "within_10pct": abs(total / wall - 1) <= 0.10}
        spans = [{"kind": "request", "query": r["query"], "wall_ms": r["ms"],
                  "children": [
                      {"name": "build", "ms": r["build_ms"] - r["tracker_analysis_ms"]},
                      {"name": "analyze", "ms": r["tracker_analysis_ms"]},
                      {"name": "optimize", "ms": r["optimize_ms"]},
                      {"name": "physical", "ms": r["physical_ms"]},
                      {"name": "action", "ms": r["action_ms"],
                       "stages": r["exec"].get("stage_spans", []),
                       # listener-clock [submitted, ended] ms, relative to
                       # the build's return
                       "jobs": [[s - r["built_at_ms"], e - r["built_at_ms"]]
                                for s, e in r["exec"]["job_times_ms"]]}]}
                 for r in measured]
    return attempted, failed, failures, e2e, samples, layers, spans, accounting


def _job_span(job_times, after_ms):
    """First submission to last end of the jobs submitted at or after
    `after_ms` (listener clock, ms); 0 when there are none."""
    jobs = [(s, e) for s, e in job_times if s >= after_ms]
    return max(e for _, e in jobs) - min(s for s, _ in jobs) if jobs else 0


# --------------------------------------------------------------- alert_stream

def alert_stream(res, cores):
    streams = res["streams"]
    attempted = len(streams)
    failures = [{"stream": k, "error": s["error"]} for k, s in enumerate(streams, 1) if not s["ok"]]
    failed = len(failures)
    main = streams[-1]
    setups = [s["setup_s"] for s in streams if s["ok"]]
    e2e = {k: float("nan") for k in END_TO_END}
    samples, layers, spans, accounting = {}, None, None, None
    if main["ok"]:
        trig = trigger_spans(main["progress"])
        window = trig[WARMUP_TRIGGERS:]
        in_window = {t["batch"] for t in window}
        sink_end = {s["batch"]: s["end_ms"] for s in main["sink"]}
        alerts = [a for a in main["alerts"] if a[0] in in_window]
        lat = alert_latencies(alerts, sink_end)
        p50, n = pct(lat, 50)
        p90, _ = pct(lat, 90)
        wall = window[-1]["end_ms"] - window[0]["start_ms"]
        e2e = {
            "setup_s": median(setups),
            "latency_ms_p50": p50,
            "throughput_per_s": sum(t["rows"] for t in window) / wall * 1000,
        }
        samples = {"latency_ms": n, "latency_ms_p90": p90, "latency_ms_p99": pct(lat, 99)[0],
                   "triggers": len(window), "setup_s": setups,
                   # Trigger start − the rate source's last release of events;
                   # Alerts.ReleaseLeadMs is the intended value.
                   "release_phase_ms": [(t["start_ms"] - main["created_ms"]) % 1000
                                        for t in window if main.get("created_ms")],
                   "state_mb": trig[-1]["state"].get("memoryUsedBytes", 0) / MB}
        if res["trace"]:
            layers = _zero_layers()
            sink = [s for s in main["sink"] if s["batch"] in in_window]
            layers.update(_stream_layers(window, sink, alerts, main.get("exec"), cores, len(trig)))
            if main.get("exec"):
                busy_wall = trig[-1]["end_ms"] - trig[0]["start_ms"]
                layers["exec.busy_frac"] = main["exec"]["task_run_ms"] / (busy_wall * cores)
            start = {t["batch"]: t["start_ms"] for t in window}
            layers["sources.admit_wait_ms_p50"] = pct(
                [start[b] - due for b, _, due in alerts], 50)[0]
            # Events due but not yet admitted when each trigger started.
            created = min(due - eid * 1000 // res["rate"] for _, eid, due in main["alerts"])
            admitted, lags = 0, []
            for t in trig:
                admitted += t["rows"]
                if t["batch"] in in_window:
                    lags.append(max(0.0, (t["start_ms"] - created) * res["rate"] / 1000 - admitted))
            layers["sources.lag_events"] = mean(lags)
            accounting = _phase_accounting(window)
            spans = _trigger_spans(window, main["sink"])
    return attempted, failed, failures, e2e, samples, layers, spans, accounting


def _phase_accounting(trig):
    total = sum(t["phases"]["triggerExecution"] for t in trig)
    parts = sum(v for t in trig for k, v in t["phases"].items() if k != "triggerExecution")
    return {"check": "sum of progress phases vs streaming trigger time",
            "layer_sum_ms": parts, "wall_ms": total, "ratio": parts / total if total else 0.0,
            "within_10pct": bool(total) and abs(parts / total - 1) <= 0.10}


def _trigger_spans(trig, sink):
    spans = [{"kind": "trigger", "batch": t["batch"], "start_ms": t["start_ms"],
              "end_ms": t["end_ms"], "rows": t["rows"],
              "children": [{"name": k, "ms": v} for k, v in t["phases"].items()
                           if k != "triggerExecution"]} for t in trig]
    spans += [{"kind": "sink", "batch": s["batch"], "start_ms": s["start_ms"],
               "end_ms": s["end_ms"]} for s in sink]
    return spans


# ------------------------------------------------------------- alert_backfill

def alert_backfill(res, cores):
    drains = res["drains"]
    attempted = len(drains)
    failures = [{"drain": k, "error": d["error"]} for k, d in enumerate(drains, 1) if not d["ok"]]
    failed = len(failures)
    setups = [d["setup_s"] for d in drains if d["ok"] and d["setup"]]
    good = [d for d in drains if d["ok"] and not d["setup"]]
    e2e = {k: float("nan") for k in END_TO_END}
    samples, layers, spans, accounting = {}, None, None, None
    if good:
        trigs = [trigger_spans(d["progress"]) for d in good]
        # Catch-up latency: every backlog event is overdue when the drain
        # starts, so its latency runs from the drain's start to the return
        # of its micro-batch's sink write (one sample per event).
        lat = []
        for d, tr in zip(good, trigs):
            end = {s["batch"]: s["end_ms"] for s in d["sink"]}
            for t in tr:
                lat += [end[t["batch"]] - d["start_ms"]] * t["rows"]
        p50, n = pct(lat, 50)
        p90, _ = pct(lat, 90)
        events = res["backlog_events"] * len(good)
        e2e = {
            "setup_s": median(setups),
            "latency_ms_p50": p50,
            "throughput_per_s": events / sum(d["drain_ms"] for d in good) * 1000,
        }
        samples = {"latency_ms": n, "latency_ms_p90": p90, "latency_ms_p99": pct(lat, 99)[0],
                   "drains": len(good), "backlog_events": res["backlog_events"],
                   "backlog_staging_s": res["stage_s"],
                   "setup_s": setups,
                   "events_per_s": [res["backlog_events"] / d["drain_ms"] * 1000 for d in good]}
        if res["trace"]:
            layers = _zero_layers()
            steady = [t for tr in trigs for t in tr]
            sink = [s for d in good for s in d["sink"]]
            alerts = [a for d in good for a in d["alerts"]]
            ex = None
            if all(d.get("exec") for d in good):
                ex = {k: sum(d["exec"][k] for d in good)
                      for k in good[0]["exec"]
                      if k not in ("task_skew", "stage_spans", "job_times_ms")}
                ex["task_skew"] = median(d["exec"]["task_skew"] for d in good)
            layers.update(_stream_layers(steady, sink, alerts, ex, cores, len(steady)))
            if ex:
                layers["exec.busy_frac"] = ex["task_run_ms"] / (sum(d["drain_ms"] for d in good) * cores)
            one = res.get("one_core")
            if one and one["ok"]:
                layers["exec.speedup_vs_1core"] = e2e["throughput_per_s"] / (
                    res["backlog_events"] / one["drain_ms"] * 1000)
            accounting = _phase_accounting(steady)
            spans = _trigger_spans(steady, sink)
    return attempted, failed, failures, e2e, samples, layers, spans, accounting
