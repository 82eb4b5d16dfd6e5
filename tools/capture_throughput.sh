#!/bin/bash
# Per-family fresh-JVM ThroughputProbe capture (see assemble_throughput.py
# for why): each family runs in its own JVM on a settled box (the knee
# rides in the hdfs headroom JVM, which seeds it), every raw
# line appends to the given JSONL, and the artifact is then assembled
# strictly from those committed lines.
#
# Usage: tools/capture_throughput.sh THROUGHPUT_RUNS_rN.jsonl [repeat]
#   repeat (default 1) = extra passes for the latency-claim families
#   (reference_rate + chained_fused), giving best-of-(1+repeat) there.
set -euo pipefail
RUNS="${1:?usage: capture_throughput.sh RUNS.jsonl [repeat]}"
REPEAT="${2:-1}"
cd "$(dirname "$0")/.."

run_family() { # family provider
  echo "[capture] $1 / $2 ($(date -u +%H:%M:%SZ), load $(cut -d' ' -f1 /proc/loadavg))"
  SPARK_GRAFT_PROBE="$1" SPARK_GRAFT_PROBE_PROVIDER="$2" \
    SPARK_GRAFT_PROBE_OUT="$RUNS" \
    sbt -batch "runMain graft.ThroughputProbe" >/dev/null
}

# hdfs headroom and the knee share one JVM: the knee search starts from
# that measured headroom row instead of re-measuring 50,000/s
for prov in hdfs rocksdb; do
  for fam in reference_rate headroom chained chained_fused; do
    [ "$fam/$prov" = headroom/hdfs ] && fam=headroom,knee
    run_family "$fam" "$prov"
  done
done
for _ in $(seq "$REPEAT"); do
  for prov in hdfs rocksdb; do
    run_family reference_rate "$prov"
    run_family chained_fused "$prov"
  done
done

python3 tools/assemble_throughput.py "$RUNS" THROUGHPUT.json
python3 tools/throughput_table.py --inplace
echo "[capture] done"
