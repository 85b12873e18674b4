#!/usr/bin/env python3
"""Alternating parent/change pairs of the NEM-lake benchmark.

    python3 tools/benchpairs.py PARENT_DIR CHANGE_DIR \\
        [--workloads crunch,ingest,registry] [--seeds 921-930] \\
        [--seconds 2] [--trace 0|1] [--out runs.jsonl]

PARENT_DIR and CHANGE_DIR are two checkouts of the repository (make the
parent's with `git clone` or `git archive`). For each workload and seed
the script runs `perfbench/run.py` once in each checkout, alternating
which side goes first, so a drift of the host over the runs falls on
both sides alike. Each side builds its own `.bench_build/` on its first
run. Seeds are a comma list or an inclusive range `a-b`; every seed makes
one pair.

It then prints, per workload and metric (the end-to-end metrics of
BENCHMARK.json, or its per-layer ones with `--trace 1`), each side's
median and quartiles over its finished runs, the pairs the change wins
out of every pair run (ties count for neither side) and whether the
change clears the gain rule: it wins at least nine tenths of all pairs
run, its median beats the parent's by more than the parent's
interquartile range, and it failed no more runs than the parent. A
failed run is reported with its error; a pair whose change run failed
counts as a loss, and each workload's header gives both sides' failed
runs. `--out` appends every run's result as one JSON line.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return out


def run(checkout, workload, seed, seconds, trace):
    """One run's metrics as {name: value}, or the error text."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        err = (p.stderr or p.stdout).strip()[-2000:] or f"exit {p.returncode}"
        return None, err, time.time() - t0
    metrics = json.loads(lines[-1])["metrics"]
    return {k: v["value"] for k, v in metrics.items()}, None, time.time() - t0


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(workload, specs, pairs):
    """`pairs` holds one (parent, change) per seed run, a failed side None."""
    failed = {side: sum(1 for p in pairs if p[i] is None) for i, side in enumerate(("parent", "change"))}
    print(f"\n{workload}: {len(pairs)} pairs, failed runs: parent {failed['parent']}, change {failed['change']}")
    print(f"  {'metric':<24} {'parent median [q1, q3]':<30} {'change median [q1, q3]':<30} {'wins':>6}  gain")
    for m in specs:
        name, lower = m["name"], m["better"] == "lower"
        ps = [p[name] for p, _ in pairs if p is not None and name in p]
        cs = [c[name] for _, c in pairs if c is not None and name in c]
        if not ps or not cs:
            continue
        both = [(p[name], c[name]) for p, c in pairs
                if p is not None and c is not None and name in p and name in c]
        wins = sum(1 for p, c in both if (c < p if lower else c > p))
        pm, cm = statistics.median(ps), statistics.median(cs)
        (p1, p3), (c1, c3) = quartiles(ps), quartiles(cs)
        better_by = (pm - cm) if lower else (cm - pm)
        gain = (wins * 10 >= 9 * len(pairs) and better_by > p3 - p1
                and failed["change"] <= failed["parent"])
        side = f"{pm:.4g} [{p1:.4g}, {p3:.4g}]", f"{cm:.4g} [{c1:.4g}, {c3:.4g}]"
        print(f"  {name:<24} {side[0]:<30} {side[1]:<30} {f'{wins}/{len(pairs)}':>6}  {'yes' if gain else 'no'}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workloads", default="crunch,ingest,registry")
    ap.add_argument("--seeds", default="921-930")
    ap.add_argument("--seconds", type=float, default=2)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        specs = json.load(f)["per_layer" if a.trace else "end_to_end"]
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    for workload in a.workloads.split(","):
        pairs = []
        for i, seed in enumerate(seeds(a.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {}
            for side in order:
                metrics, err, wall = run(sides[side], workload, seed, a.seconds, a.trace)
                got[side] = metrics
                line = {"workload": workload, "seed": seed, "side": side, "first": order[0],
                        "wall_s": round(wall, 1), "metrics": metrics, "error": err}
                if a.out:
                    with open(a.out, "a") as f:
                        f.write(json.dumps(line) + "\n")
                status = "failed: " + err.splitlines()[-1] if err else f"{wall:.0f} s"
                print(f"[{workload} seed {seed}] {side}: {status}", file=sys.stderr, flush=True)
            pairs.append((got["parent"], got["change"]))
        report(workload, specs, pairs)


if __name__ == "__main__":
    main()
