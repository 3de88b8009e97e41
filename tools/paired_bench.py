#!/usr/bin/env python3
"""Paired before/after runs of the perfbench harness.

Runs `python3 perfbench/run.py` in two checkouts (a parent and a change) for
the same seeds, alternating which side runs first, and reports for each
end-to-end metric each side's median and quartiles and the number of pairs
in which the change was lower.

    git archive HEAD^ | tar -x -C /path/to/parent      # the parent checkout
    python3 tools/paired_bench.py --parent /path/to/parent --change . \\
        --workload upsert_read --seeds 700-709 --seconds 20 \\
        --metrics op_ms_p50,setup_s,lookup_updated_ms_p50

Raw per-run values are appended as JSON lines to `--out` (if given) so an
interrupted series can be inspected. A run that fails or reports
`correct: false` stops the series.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

LINE = re.compile(r"^\s{2}(\S+)\s+(\S+)\s+(\S+)")


def run_once(checkout, workload, seed, seconds):
    """One harness run; returns {metric: value} from its end-to-end block."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.splitlines()
    if p.returncode != 0 or not lines or not json.loads(lines[-1]).get("correct"):
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit(f"run failed: {checkout} seed {seed}")
    values, block = {}, False
    for line in lines:
        if line.startswith("end-to-end:"):
            block = True
        elif block and LINE.match(line):
            name, value, _ = LINE.match(line).groups()
            if value != "n/a":
                values[name] = float(value)
        elif block:
            block = False
    steal = re.search(r"cpu steal during the run: ([\d.]+)%", p.stdout)
    values["cpu_steal_pct"] = float(steal.group(1)) if steal else float("nan")
    return values


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return q[0], statistics.median(xs), q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--metrics", default="op_ms_p50,setup_s")
    ap.add_argument("--out")
    a = ap.parse_args()
    lo, hi = (int(s) for s in a.seeds.split("-"))
    metrics = a.metrics.split(",")
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    runs = {"parent": [], "change": []}
    for i, seed in enumerate(range(lo, hi + 1)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            v = run_once(sides[side], a.workload, seed, a.seconds)
            runs[side].append(v)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"side": side, "seed": seed, **v}) + "\n")
            print(f"seed {seed} {side:<6} " + " ".join(
                f"{m}={v.get(m, float('nan')):.4g}" for m in metrics), flush=True)
    n = len(runs["parent"])
    print(f"\n{a.workload}: {n} pairs, seeds {lo}-{hi}, alternating order")
    print(f"{'metric':<28} {'parent median (q1-q3)':>28} {'change median (q1-q3)':>28} "
          f"{'change lower':>13}")
    for m in metrics + ["cpu_steal_pct"]:
        pairs = [(p[m], c[m]) for p, c in zip(runs["parent"], runs["change"])
                 if m in p and m in c]
        if not pairs:
            continue
        pq = quartiles([p for p, _ in pairs])
        cq = quartiles([c for _, c in pairs])
        wins = sum(1 for p, c in pairs if c < p)
        print(f"{m:<28} {pq[1]:>12.4g} ({pq[0]:.4g}-{pq[2]:.4g}) "
              f"{cq[1]:>12.4g} ({cq[0]:.4g}-{cq[2]:.4g}) {wins:>6}/{len(pairs)}")


if __name__ == "__main__":
    main()
