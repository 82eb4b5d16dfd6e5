#!/usr/bin/env python3
"""Benchmark of the graft engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

run from the root of a checkout. The first run builds the engine and
this harness with sbt (later runs reuse the build while the sources are
unchanged), stages the workload's seeded inputs under perfbench/.work,
runs one JVM, checks every output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. Each run also writes
a record (host, posture, seed, failures, samples, and for traced runs the
spans and the tracing overhead) to perfbench/.work/runs/. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))

WORKLOADS = ("read_api", "alert_stream", "alert_backfill")
READ_SF = 0.01         # scale factor of the read_api tables
TABLE_SEED = 42        # the tables are fixed; the run seed orders requests
RUN_LIMIT_S = 170      # a run (after the build) must end within this
LOAD_LIMIT_BUSY = 0.25 # ambient CPU share above which a run is flagged load_hot
SLOW_HOST_RATIO = 1.15 # calibration time vs earlier runs above which host_slow
HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def host_record():
    try:
        load = [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        load = None
    cpu = ""
    try:
        for line in Path("/proc/cpuinfo").read_text().splitlines():
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    except OSError:
        pass
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    busy, steal = ambient_cpu()
    # The 1-minute load average still carries the previous run's load, so
    # "under load" is judged on CPU use sampled while nothing of ours runs.
    return {"loadavg_start": load, "cpu_busy_start": busy, "cpu_steal_start": steal,
            "cpu_model": cpu, "nproc": cores, "load_limit_busy": LOAD_LIMIT_BUSY,
            "load_hot": busy is not None and busy > LOAD_LIMIT_BUSY}


def ambient_cpu(seconds=0.5):
    """Busy and steal shares of all CPUs over a short sample of /proc/stat."""
    def sample():
        f = [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]
        idle = f[3] + (f[4] if len(f) > 4 else 0)
        steal = f[7] if len(f) > 7 else 0
        return sum(f[:8]), idle, steal
    try:
        t0, i0, s0 = sample()
        time.sleep(seconds)
        t1, i1, s1 = sample()
    except (OSError, ValueError, IndexError):
        return None, None
    dt = max(t1 - t0, 1)
    return round(1 - (i1 - i0) / dt, 3), round((s1 - s0) / dt, 3)


def source_files():
    roots = [ROOT / "src" / "main", ROOT / "project", HERE / "src", HERE / "project"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file() and "target" not in p.parts
                  and p.suffix in (".scala", ".java", ".sbt", ".properties")]
    return sorted(files)


def commit():
    """The checkout's git commit when there is one, and a digest of the
    sources the build reads (a checkout need not be a git repository)."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    rev = None
    if (ROOT / ".git").exists():
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        rev = r.stdout.strip() or None
    return {"git": rev, "source_sha256": h.hexdigest()}


def build(digest: str):
    """Compiles engine and harness; returns the runtime classpath."""
    stamp = WORK / "build.json"
    if stamp.exists():
        b = json.loads(stamp.read_text())
        if b["digest"] == digest and all(Path(p).exists() for p in b["classpath"]):
            return b["classpath"]
    print("perfbench: building the engine and the harness (sbt)", file=sys.stderr)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, capture_output=True, text=True, stdin=subprocess.DEVNULL, timeout=850)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed", 1)
    cp = lines[-1].strip().split(os.pathsep)
    WORK.mkdir(parents=True, exist_ok=True)
    stamp.write_text(json.dumps({"digest": digest, "classpath": cp}))
    return cp


def run_jvm(cp, args, deadline):
    java = shutil.which("java")
    if os.environ.get("JAVA_HOME"):
        java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java")
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           *ADD_OPENS, "-cp", os.pathsep.join(cp), "perfbench.Main", *args]
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("the workload did not finish in time", 1)
    if rc != 0:
        fail(f"the harness JVM exited with code {rc}", 1)


def slow_host(calib_s):
    """Compares this run's single-thread calibration with the median of the
    earlier run records: the host's speed drifts, and the load average
    cannot show contention from outside this machine's view."""
    earlier = []
    for p in (WORK / "runs").glob("*.json"):
        c = json.loads(p.read_text())["host"].get("calib_s")
        if c:
            earlier.append(c)
    if len(earlier) < 3:
        return {"calib_vs_median": None, "host_slow": False}
    ratio = calib_s / statistics.median(earlier)
    return {"calib_vs_median": round(ratio, 3), "host_slow": ratio > SLOW_HOST_RATIO}


def overhead(workload, traced_e2e):
    """Traced end-to-end numbers relative to the latest untraced run."""
    runs = sorted((WORK / "runs").glob(f"{workload}-*-trace0.json"),
                  key=lambda p: p.stat().st_mtime)
    runs = [p for p in runs if json.loads(p.read_text())["failed_frac"] == 0]
    if not runs:
        return None
    base = json.loads(runs[-1].read_text())
    out = {}
    for k, v in traced_e2e.items():
        b = base["metrics"].get(k, {}).get("value")
        if isinstance(b, (int, float)) and b and v == v:
            out[k] = {"traced": v, "untraced": b, "relative": v / b - 1}
    return {"against": runs[-1].name, "metrics": out}


def finite(x):
    """JSON-safe copy: a metric that could not be measured becomes null."""
    if isinstance(x, float) and x != x:
        return None
    if isinstance(x, dict):
        return {k: finite(v) for k, v in x.items()}
    if isinstance(x, (list, tuple)):
        return [finite(v) for v in x]
    return x


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--fail-query", help=argparse.SUPPRESS)
    a = ap.parse_args()
    t_start = time.time()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources next to the benchmark (expected {ROOT}/build.sbt and src/main/scala)")
    host = host_record()
    if host["load_hot"]:
        print(f"perfbench: host under load ({host['cpu_busy_start']:.0%} CPU busy before "
              "the run); this run is flagged load_hot", file=sys.stderr)

    import metrics
    rev = commit()
    cp = build(rev["source_sha256"])
    t_built = time.time()

    run_dir = WORK / "run" / a.workload
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    data = ""
    if a.workload == "read_api":
        import tables
        # Keyed by the generator's source, so a changed generator restages.
        gen = hashlib.sha256((HERE / "tables.py").read_bytes()).hexdigest()[:12]
        data = str(tables.stage(WORK / "data" / f"sf{READ_SF}-{gen}", READ_SF, TABLE_SEED))
    out = run_dir / "result.json"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", str(run_dir),
            "--out", str(out), "--cores", str(host["nproc"])]
    if a.fail_query:
        args += ["--fail-query", a.fail_query]
    run_jvm(cp, args, t_built + RUN_LIMIT_S)
    res = json.loads(out.read_text())
    print(f"perfbench: harness finished after {time.time() - t_start:.1f} s", file=sys.stderr)

    oracle = None
    if a.workload == "read_api":
        import oracle as orc
        oracle = orc.check(Path(data), Path(res["results_dir"]), res["oracle_sql"],
                           WORK / "oracle")
        print(f"perfbench: oracle check done after {time.time() - t_start:.1f} s", file=sys.stderr)
    s = metrics.summarize(a.workload, res, oracle, host["nproc"])
    attempted, failed, e2e = s["attempted"], s["failed"], s["e2e"]

    if a.trace:
        values, units = s["layers"] or {k: 0.0 for k in metrics.PER_LAYER}, metrics.PER_LAYER
    else:
        values, units = e2e, metrics.END_TO_END
    correct = failed == 0 and all(v == v for v in values.values())
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}

    host.update(calib_s=res["calib_s"], **slow_host(res["calib_s"]))
    if host["host_slow"]:
        print(f"perfbench: host {host['calib_vs_median']:.2f}x slower than in earlier runs "
              "(calibration loop); this run is flagged host_slow", file=sys.stderr)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "host": host, "posture": res["posture"],
        "commit": rev, "build_s": round(t_built - t_start, 3),
        "wall_s": round(time.time() - t_start, 3),
        "failed_frac": failed / attempted if attempted else 1.0,
        "failures": s["failures"], "oracle": oracle, "samples": s["samples"],
        "end_to_end": {k: {"value": e2e[k], "unit": metrics.END_TO_END[k]} for k in e2e},
        "metrics": result["metrics"],
    }
    if a.trace:
        record.update(layer_accounting=s["accounting"], spans=s["spans"],
                      tracing_overhead=overhead(a.workload, e2e))
    (WORK / "runs").mkdir(parents=True, exist_ok=True)
    (WORK / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(finite(record), indent=1, default=str))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(finite(result)))


if __name__ == "__main__":
    main()
