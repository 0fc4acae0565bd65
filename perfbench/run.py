#!/usr/bin/env python3
"""graft pipeline benchmark.

Builds graft from source, then runs one workload in a fresh JVM on
local[nproc]: seeded input generation, one untimed warm pass, timed passes
for --seconds (one client, closed loop: each step starts when the previous
one has written its output), and with --trace 1 one more pass with Spark
listeners attached. Every step's output is then checked against its DuckDB
oracle. The last stdout line is one JSON object:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) named in BENCHMARK.json. The full record of the run is written
to .bench_build/records/.

Usage (from the repository root):
  python3 perfbench/run.py --workload kwwhat --seed 1 --seconds 10 --trace 0
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402

JVM_TIMEOUT_S = 160
# A fixed heap and young generation with the throughput collector: the
# young generation is touched once and reused, so the peak resident set
# follows live data rather than collector heuristics.
JVM_MEMORY = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
              "-Xms2g", "-Xmx2g", "-Xmn640m"]
# Compiler threads that never exit, so their CPU time can be left out of the
# measured CPU time (perfbench.Main.cpuS)
JVM_JIT = ["-XX:-UseDynamicNumberOfCompilerThreads"]


def _terminate(signum, frame):
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(check.STEPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminate)

    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build.build()

    work = os.path.join(build.OUT, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(work, "jvm.log")
    cmd = ["java"] + JVM_MEMORY + JVM_JIT + ["-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + build.JVM_OPENS + [
        "-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
        str(a.trace), work, result_path]
    launched = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=build.ROOT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            lines = [l for l in fh if " INFO " not in l and " WARN " not in l]
        sys.stderr.write("".join(lines[-60:]))
        raise SystemExit(f"perfbench: JVM run failed ({rc})")
    with open(result_path) as fh:
        r = json.load(fh)

    mismatched = check.check(a.workload, work)
    failures = r["failures"] + [f"{k}: {v}" for k, v in mismatched.items()]
    attempted = int(r["attempted"])
    failed = int(r["failed"]) + len(mismatched)

    # CPU seconds of the JVM without its JIT compiler threads, not wall
    # time: on a shared host, time stolen by other tenants moves wall times
    # by 10-30 % between runs
    e2e = {
        "pipeline_cpu_s": statistics.median(r["pass_cpu_s"]),
        "setup_s": r["session_cpu_s"] + r["gen_cpu_s"] + sum(r["warm_cpu_s"]),
    }
    wall = {
        "pipeline_wall_s": statistics.median(r["pass_s"]),
        "setup_wall_s": (r["ready_epoch_ms"] / 1000.0 - launched)
        + r["gen_s"] + sum(r["warm_s"]),
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if a.trace:
        trace = dict(r["trace"], pipeline_wall_s=wall["pipeline_wall_s"],
                     pipeline_jit_cpu_s=statistics.median(r["pass_jit_cpu_s"]),
                     peak_rss_mb=r["vmhwm_kb"] / 1024.0)
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {n: {"value": trace.get(n, 0.0), "unit": units[n]} for n in names}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    record = dict(r, workload=a.workload, seed=a.seed, seconds=a.seconds, end_to_end=e2e,
                  wall=wall, attempted=attempted, failed=failed, failures=failures)
    rec_dir = os.path.join(build.OUT, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for f in failures:
        sys.stderr.write(f"perfbench: FAILED {f}\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
