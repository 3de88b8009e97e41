#!/usr/bin/env python3
"""Benchmark of the graft table-maintenance engine.

    python3 perfbench/run.py --workload maintain|upsert|read --seed N \
        --seconds S --trace 0|1

Run from the repository root. It builds the engine and the benchmark from
source (once per source change), runs one seeded workload in a single JVM at
local[nproc] for S seconds, checks every result against a model built
independently of the engine, and prints every metric by name and unit. The
last line of standard output is one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 `metrics` holds the end-to-end metrics; with --trace 1 the
per-layer metrics of a traced run, whose raw spans and Spark events are kept
under <build dir>/perfbench/trace/. The exit code is nonzero on any failed
operation or correctness mismatch. NOTES.md gives the workloads' sizes and
the reasons for them; `python3 -m unittest discover -s perfbench` runs the
self-tests.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import report  # noqa: E402

JVM_TIMEOUT_S = 170
SET_UPS = 3


def filesystem_of(path):
    """Type of the filesystem holding `path`, from the mount table."""
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                    best, kind = parts[1], parts[2]
    except OSError:
        pass
    return kind


def cpu_steal_jiffies():
    """Ticks the hypervisor gave other guests, all CPUs (0 if unknown)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8])
    except (OSError, IndexError, ValueError):
        return 0


def run_jvm(cmd, env, log_path):
    """Runs the JVM, returns (exit code, peak RSS in MB of that process)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)

    def stop(*_):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("perfbench: interrupted")

    previous = signal.signal(signal.SIGTERM, stop)
    try:
        deadline = time.time() + JVM_TIMEOUT_S
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, usage.ru_maxrss / 1024.0
            if time.time() > deadline:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                return 124, 0.0
            time.sleep(0.2)
    finally:
        signal.signal(signal.SIGTERM, previous)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(report.OP_KINDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.path.dirname(HERE)
    build_dir = os.path.join(
        os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")), "perfbench")
    build.build(root, build_dir)
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        raw_path = os.path.join(run_dir, "raw.json")
        cmd = build.jvm_command(build_dir, run_dir, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--setups", str(SET_UPS), "--work", run_dir,
            "--out", raw_path])
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        log_path = os.path.join(run_dir, "jvm.log")
        steal0, t0 = cpu_steal_jiffies(), time.time()
        code, rss_mb = run_jvm(cmd, env, log_path)
        steal = (cpu_steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK") / (
            (time.time() - t0) * (os.cpu_count() or 1))
        if code != 0 or not os.path.exists(raw_path):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            raise SystemExit(f"perfbench: the JVM exited with code {code}")
        with open(raw_path) as f:
            raw = json.load(f)
        fs = filesystem_of(run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    env_info = raw["env"]
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace}")
    print(f"env: nproc={env_info['cores']} master=local[{env_info['cores']}] clients=1 "
          f"heap=-Xmx{build.HEAP} (max {env_info['heap_max_bytes'] / 2**30:.2f} GiB) "
          f"spark={env_info['spark']} jdk={env_info['jdk']}")
    print(f"flush: Hadoop local filesystem, no fsync; run directory on {fs}, "
          "deleted at exit")
    print(f"cpu steal during the run: {steal:.1%} of all CPU time")
    print("sizes: " + " ".join(f"{k}={v}" for k, v in raw["sizes"].items()))
    t = raw["totals"]
    print("phases: " + " ".join(
        f"{k}={t[k]:.1f}s" for k in ("prepare_s", "warm_up_s", "window_s", "finish_s")
        if k in t) + " set_ups=" + ",".join(f"{s:.2f}s" for s in raw["setup_s"]))

    e2e = report.workload_metrics(a.workload, raw, rss_mb)
    print("end-to-end:")
    for name, (value, unit, note) in e2e.items():
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"  {name:<30} {shown:>12} {unit:<6} {note}")
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    for f in raw["failures"]:
        print(f"FAILED: {f}")

    if a.trace:
        modules = report.module_map(os.path.join(root, "src", "main", "scala"),
                                    os.path.join(HERE, "scala"))
        layers = report.layer_metrics(raw, env_info["cores"], modules)
        print("per-layer (traced run):")
        for name, value in layers.items():
            print(f"  {name:<50} {value:>14.6g} {report.PER_LAYER[name]}")
        trace_dir = os.path.join(build_dir, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"spans": raw["spans"], "ops": raw["ops"], "jobs": raw["jobs"],
                       "stages": raw["stages"], "queries": raw["queries"],
                       "triggers": raw["triggers"], "per_layer": layers}, f)
        print(f"trace: {trace_path}")
        metrics = {k: {"value": v, "unit": report.PER_LAYER[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in report.END_TO_END.items()}

    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
