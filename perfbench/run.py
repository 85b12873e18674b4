"""NEM-lake benchmark: one run of one workload.

    python3 perfbench/run.py --workload ingest|crunch|registry \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the program and the
harness into `.bench_build/` and trains a class-data-sharing archive for
them (see build.py). Each run starts one JVM on `local[cores]`
(`SPARK_GRAFT_CPUS`, default: all cores) with that archive and a
fixed-size heap of `SPARK_DRIVER_MEM` (default 1g), touched in full at
start-up, so the peak RSS follows neither the collector's sizing
decisions nor how far into the heap a run happened to reach. The JVM sets
the workload up, times it, checks its outputs and writes a result file;
this script then runs the DuckDB-side checks and prints one JSON line:
the end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`. Any failed operation or check, or a workload
that cannot run, exits non-zero without printing a result.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("ingest", "crunch", "registry")
DEADLINE_S = 170


def fail(workload, msg):
    print(f"perfbench: workload {workload} failed: {msg}", file=sys.stderr)
    sys.exit(1)


def cores():
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        build_dir = os.path.join(ROOT, ".bench_build")
        os.makedirs(build_dir, exist_ok=True)
        jar, archive = build.build(build_dir)
    except Exception as e:  # noqa: BLE001 - any set-up failure ends the run
        fail(a.workload, f"build: {e}")

    work = os.path.join(build_dir, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result = run_jvm(a, jar, archive, work)
        import checks
        py_checks = checks.run(a.workload, result.get("py", {}))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # a failed operation ends the JVM run; a failed check ends this one
    bad = [c for c in result["checks"] + py_checks if not c["ok"]]
    if bad:
        fail(a.workload, f"{len(bad)} failed checks: " + "; ".join(f"{c['name']}: {c['detail']}" for c in bad))
    attempted = result["attempted"] + len(py_checks)
    key, values = ("per_layer", result["layer"]) if a.trace else ("end_to_end", result["e2e"])
    metrics = {}
    for m in spec[key]:
        name = m["name"]
        # a per-layer metric of a layer the workload does not run reads 0;
        # one it runs (a key it returned) must hold a number
        if name in values and values[name] is None or name not in values and key == "end_to_end":
            fail(a.workload, f"metric {name} has no value")
        metrics[name] = {"value": values.get(name, 0.0), "unit": m["unit"]}
    print(json.dumps({"correct": True, "attempted": attempted, "failed": len(bad), "metrics": metrics}))


def run_jvm(a, jar, archive, work):
    out = os.path.join(work, "result.json")
    cmd = (build.java(jar, work, f"-XX:SharedArchiveFile={archive}")
           + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores()),
              "--work", work, "--data", os.path.join(HERE, "data"), "--out", out,
              "--t0", str(int(time.time() * 1000))])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            fail(a.workload, f"timed out after {DEADLINE_S} s\n" + tail(log_path))
        finally:
            # on a time-out or a signal the JVM must not outlive this script
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        fail(a.workload, f"JVM exited with {proc.returncode}\n" + tail(log_path))
    with open(out) as f:
        result = json.load(f)
    if "error" in result:
        fail(a.workload, result["error"] + "\n" + tail(log_path))
    return result


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


if __name__ == "__main__":
    # a termination signal unwinds through the `finally` blocks above
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    main()
