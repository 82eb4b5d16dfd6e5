#!/usr/bin/env python3
"""Assemble THROUGHPUT.json from a raw-captures JSONL, best-of per family.

The capture recipe runs each measurement family in its OWN fresh JVM on
a settled box (this box's 32-thread capacity is too neighbor-noisy for
one long session to measure every family fairly), appending every raw
line to THROUGHPUT_RUNS_r{N}.jsonl. This tool selects the best capture
per (config, state_store) — lowest e2e p95 (chained lines:
chained_e2e_p95_ms), the same min-of-N principle the batch bench uses —
plus the best capacity_knee line (highest knee), and writes them to
THROUGHPUT.json PRESERVING THE RAW LINE BYTES, so every artifact line is
grep-able verbatim in the committed raw-runs file: a headline claim must
be verifiable against committed evidence.

A partial capture never becomes the artifact: when any (family, provider)
pair of FAMILY_ORDER x PROVIDER_ORDER, or the capacity_knee line, has no
measured line in the runs file, the tool names what is missing, writes
nothing and exits 1.

Usage: python3 tools/assemble_throughput.py RUNS.jsonl [THROUGHPUT.json]
"""
import json, sys
from pathlib import Path

FAMILY_ORDER = ["reference_rate", "headroom", "chained", "chained_fused"]
PROVIDER_ORDER = ["hdfs", "rocksdb"]


def e2e_of(d):
    return d.get("chained_e2e_p95_ms", d.get("e2e_p95_ms", float("inf")))


def main():
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    runs = Path(sys.argv[1])
    out = Path(sys.argv[2] if len(sys.argv) > 2 else "THROUGHPUT.json")
    best = {}      # (config, state_store) -> (e2e, raw line)
    best_knee = None  # (knee, raw line)
    for raw in runs.read_text().splitlines():
        raw = raw.strip()
        if not raw:
            continue
        d = json.loads(raw)
        if d.get("metric") == "throughput_probe":
            if d.get("probe_failed"):
                continue  # degraded captures stay in the raw file only
            key = (d["config"], d["state_store"])
            e2e = e2e_of(d)
            if key not in best or e2e < best[key][0]:
                best[key] = (e2e, raw)
        elif d.get("metric") == "capacity_knee":
            knee = d.get("knee_events_per_sec", 0)
            if best_knee is None or knee > best_knee[0]:
                best_knee = (knee, raw)
    missing = [f"{fam}/{prov}" for prov in PROVIDER_ORDER
               for fam in FAMILY_ORDER if (fam, prov) not in best]
    if best_knee is None:
        missing.append("capacity_knee")
    if missing:
        print(f"{runs} is missing {', '.join(missing)}; "
              f"{out} not written", file=sys.stderr)
        sys.exit(1)
    lines = []
    for prov in PROVIDER_ORDER:
        for fam in FAMILY_ORDER:
            lines.append(best[(fam, prov)][1])
    # any captured (config, provider) outside the known orders still lands
    for key in sorted(best):
        if best[key][1] not in lines:
            lines.append(best[key][1])
    lines.append(best_knee[1])
    out.write_text("\n".join(lines) + "\n")
    print(f"wrote {len(lines)} lines to {out} (from {runs})")


if __name__ == "__main__":
    main()
