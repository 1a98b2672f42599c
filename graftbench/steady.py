#!/usr/bin/env python3
"""Steadiness tool: runs one workload N times, each in a fresh JVM with its
own seed, and prints every end-to-end metric's median and quartiles next to
the bound BENCHMARK.json gives it.

    python3 graftbench/steady.py --workload W [--runs 10] [--seed 1]
    python3 graftbench/steady.py --workload W --determinism [--seed 1]

The spread is (q3 - q1) / median with Python's statistics.quantiles(n=4);
a metric is steady when its spread is below a third of its bound (setup_s
is exempt from the spread rule). --determinism instead makes two traced
runs on one seed and checks that the deterministic per-layer counts (rows,
tasks, shuffle records, input records) are identical. Exits 1 when a check
fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DETERMINISTIC = ("tasks", "shuffle_records", "input_records", "output_records")


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"run failed: workload {workload} seed {seed} exit {r.returncode}")
    return json.loads(lines[-2])["details"], json.loads(lines[-1])


def spreads(workload, runs, seed, seconds, spec):
    vals = {}
    for i in range(runs):
        details, res = run(workload, seed + i, seconds, 0)
        for k, v in res["metrics"].items():
            vals.setdefault(k, []).append(v["value"])
        print(json.dumps({"seed": seed + i, "wall_s": round(details["wall_s"], 1),
                          "metrics": {k: v["value"] for k, v in res["metrics"].items()}}),
              flush=True)
    ok = True
    rows = []
    for e in spec["end_to_end"]:
        xs = vals[e["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        steady = e["name"] == "setup_s" or spread <= e["bound"] / 3
        ok &= e["name"] == "setup_s" or spread <= e["bound"]
        rows.append({"metric": e["name"], "median": med, "q1": q1, "q3": q3,
                     "spread": round(spread, 4), "bound": e["bound"], "steady": steady})
        print(f"{e['name']:30s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
              f"spread {spread:7.4f}  bound {e['bound']:.2f}  "
              f"{'steady' if steady else 'NOT STEADY'}")
    print(json.dumps({"workload": workload, "runs": runs, "rows": rows}))
    return ok


def determinism(workload, seed, seconds):
    a, _ = run(workload, seed, seconds, 1)
    b, _ = run(workload, seed, seconds, 1)
    ok = True
    for layer in sorted(set(a["counts"]) | set(b["counts"])):
        ca, cb = a["counts"].get(layer, {}), b["counts"].get(layer, {})
        diff = {k: (ca.get(k), cb.get(k)) for k in DETERMINISTIC if ca.get(k) != cb.get(k)}
        ok &= not diff
        print(f"{layer:22s} {'identical' if not diff else 'DIFFERS ' + json.dumps(diff)}")
    return ok


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--determinism", action="store_true")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.determinism:
        ok = determinism(a.workload, a.seed, spec["run_seconds"])
    else:
        ok = spreads(a.workload, a.runs, a.seed, spec["run_seconds"], spec)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
