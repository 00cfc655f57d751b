"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload broadcast-uniform --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark first when their sources changed
(see build.py), then runs the benchmark in one JVM with a fixed heap, the
build's class-data archive and Spark local[nproc]. `--trace 0` reports the end-to-end metrics, `--trace 1`
the per-layer ones and writes the spans to .bench_out/. Saved indexes and
Spark scratch files live in a per-run directory under the build directory,
deleted when the run ends, failed or not. Load average and hypervisor
steal at the start and end go to stderr and .bench_out/ as context.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("broadcast-uniform", "fanout-small-batches", "routed-clustered-pq")
RUN_LIMIT_S = 170


def host_context():
    """Load averages and cumulative steal/total jiffies from /proc."""
    ctx = {}
    try:
        with open("/proc/loadavg") as fh:
            ctx["loadavg"] = [float(x) for x in fh.read().split()[:3]]
        with open("/proc/stat") as fh:
            cpu = [int(x) for x in fh.readline().split()[1:]]
        ctx["steal_jiffies"] = cpu[7] if len(cpu) > 7 else 0
        ctx["total_jiffies"] = sum(cpu)
    except OSError:
        pass
    return ctx


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    start = time.time()
    try:
        classpath, archive = build.build()
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2
    build_s = time.time() - start

    work = os.path.join(build.target_dir(), f"run-{os.getpid()}")
    out_dir = os.path.join(build.ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    before = host_context()
    cmd = (build.java_command(classpath, archive)
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "perfbench.PerfBench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work-dir", work, "--out-dir", out_dir])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=work, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=max(30, RUN_LIMIT_S - (time.time() - start - build_s)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("[perfbench] run exceeded its time limit", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    after = host_context()
    ctx = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "loadavg_start": before.get("loadavg"), "loadavg_end": after.get("loadavg")}
    if "total_jiffies" in before and "total_jiffies" in after:
        total = after["total_jiffies"] - before["total_jiffies"]
        ctx["steal_frac"] = (after["steal_jiffies"] - before["steal_jiffies"]) / max(1, total)
    print(f"[perfbench] context {json.dumps(ctx)}", file=sys.stderr)
    with open(os.path.join(out_dir, f"context-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(ctx, fh)

    result = None
    for line in stdout.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        print(f"[perfbench] benchmark JVM exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 4
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
