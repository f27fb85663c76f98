#!/usr/bin/env python3
"""Run one benchmark workload; the last stdout line is its JSON result.

    python3 perfbench/run.py --workload alarm-steady --seed 1 --seconds 20 --trace 0

Builds the program first when its sources changed (see build.py), then
runs the harness in one JVM and checks its outputs. With --trace 0 the
result carries every end-to-end metric of BENCHMARK.json, with --trace 1
every per-layer metric (0 for a layer the workload does not run; a missing
metric of a layer it runs fails the run).
Exits 1 without a result line when the run cannot complete, and 1 after
the result line when an output check failed.

corpus-queries reads the shared TPC-H-like tables from $GRAFT_BENCH_DATA
(default ~/testdata), which holds sf0.1 and sf0.001.
"""
import argparse
import json
import math
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

import build

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
GOLDEN = BENCH / "golden" / "corpus_sf0.1.tsv"
# A run must end within 180 s; leave room for start-up and clean-up.
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_command(classes, work, extra):
    opens = [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    # A fixed heap: with the default growing one, the same queries ran 9-79%
    # slower, and varied more from one JVM to the next.
    return ([build.java(), "-Xms3g", "-Xmx3g", "-Xss8m", *opens,
             f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "graftbench.Main",
             "--work", str(work), "--golden", str(GOLDEN),
             "--data", os.environ.get("GRAFT_BENCH_DATA", os.path.expanduser("~/testdata"))]
            + extra)


def run_jvm(cmd, log, timeout_s):
    """Run the harness in its own process group; kill the group on timeout."""
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (empty where unavailable)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_share(before, after):
    """Share of CPU time the hypervisor stole between two cpu_times() reads."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else None


def log_tail(log, n=40):
    try:
        return "".join(open(log, errors="replace").readlines()[-n:])
    except OSError:
        return ""


# Per-layer metrics, by name prefix, that each workload measures. The others
# belong to layers the workload does not run, and read 0 there.
LAYERS = {
    "alarm-steady": ("app.", "model.", "streaming.", "gen.", "trace."),
    "corpus-queries": ("functions.", "sources.", "rules.", "graft.", "trace."),
}


def select_metrics(spec, measured, traced, workload):
    """The result's metrics: every e2e (or per-layer) metric of the spec.

    Raises ValueError when a metric the workload measures is missing or not
    finite, or when an e2e metric is not positive.
    """
    out = {}
    for m in spec["per_layer" if traced else "end_to_end"]:
        v = measured.get(m["name"])
        if v is None and traced and not m["name"].startswith(LAYERS[workload]):
            v = 0.0
        if v is None or not math.isfinite(v) or (not traced and v <= 0):
            raise ValueError(f"metric {m['name']} was not measured (got {v})")
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def record_golden():
    classes = build.build()
    work = build.out_dir() / "runs" / f"golden-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    sf = os.path.join(os.environ.get("GRAFT_BENCH_DATA", os.path.expanduser("~/testdata")), "sf0.1")
    code = run_jvm(jvm_command(classes, work, ["--record-golden", sf]), work / "jvm.log", 600)
    if code != 0:
        sys.stderr.write(log_tail(work / "jvm.log"))
        sys.exit("run: recording digests failed")
    shutil.rmtree(work, ignore_errors=True)
    print(GOLDEN.read_text(), end="")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="rewrite the corpus-queries digests from the current program")
    a = ap.parse_args()
    if a.record_golden:
        return record_golden()
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classes = build.build()
    out = build.out_dir()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = out / "runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = work / "jvm.log"
    t0_ms = int(time.time() * 1000)
    cmd = jvm_command(classes, work, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--t0-ms", str(t0_ms)])
    cpu0 = cpu_times()
    code = run_jvm(cmd, log, JVM_TIMEOUT_S)
    steal = steal_share(cpu0, cpu_times())
    result_file = work / "result.json"
    reports = out / "reports"
    reports.mkdir(exist_ok=True)
    shutil.copy(log, reports / f"{tag}.log")
    if code != 0 or not result_file.is_file():
        sys.stderr.write(log_tail(log))
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"run: harness {'timed out' if code is None else f'exited with {code}'}")
    res = json.loads(result_file.read_text())

    # Keep the report (and spans, when traced); drop the app's data.
    shutil.copy(result_file, reports / f"{tag}.json")
    if (work / "spans.jsonl").is_file():
        shutil.copy(work / "spans.jsonl", reports / f"{tag}.spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)

    failed = res["failed"]
    checks = []
    if a.trace:
        share = res["metrics"].get("trace.unattributed_share", 1.0)
        if share > 0.10:
            checks.append(f"spans attribute only {1 - share:.1%} of task time (< 90%)")
    try:
        metrics = select_metrics(spec, res["metrics"], bool(a.trace), a.workload)
    except ValueError as e:
        sys.exit(f"run: {e}")
    for c in checks:
        print(f"check failed: {c}", file=sys.stderr)
    correct = failed == 0 and not checks
    calibration = dict(res["calibration"], steal_share=steal)
    print(json.dumps({"diagnostics": {"calibration": calibration, "notes": res["notes"]}}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
