#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one closed-loop run.

    python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source (graftbench/build.py), generates the
workload's inputs from the seed (graftbench/gen.py, cached per seed), runs
the harness in a fresh JVM for S seconds, checks its outputs against the
DuckDB oracle (graftbench/gate.py) and prints, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics (from a traced pass, see graftbench/METRICS.md). The line
before it carries the run's details: host stamp, input sizes, tail
percentiles and sample counts, gate results and deterministic counts.
Exits 1 when an operation failed or the output gate rejected an output.
Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gate  # noqa: E402
import gen  # noqa: E402

# Op classes behind each latency family; METRICS.md says what each is.
KINDS = {
    "trend": dict(batch=("batch",), write=("write",), serve=("serve",)),
    "corpus-store": dict(batch=("write", "serve"), write=("write",), serve=("serve",)),
}
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
DEADLINE_S = 170


def harness(work, extra, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData"] + JVM_OPENS +
           [f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", build.classpath(), "graft.bench.Harness",
            "--work", work, "--launched-ms", str(time.time() * 1000.0)] + extra)
    with open(os.path.join(work, "harness.log"), "ab") as log:
        r = subprocess.run(cmd, stdout=log, stderr=log, cwd=ROOT,
                           timeout=max(10.0, deadline - time.time()))
    if r.returncode != 0:
        sys.stderr.write(open(os.path.join(work, "harness.log")).read()[-4000:])
        raise SystemExit(f"graftbench: harness exited {r.returncode}")


def tail(samples):
    """Highest percentile with at least ten samples beyond it (the upper
    median when there are too few samples for one), with its percentile."""
    s = sorted(samples)
    n = len(s)
    i = n - 11 if n >= 22 else n // 2
    return s[i], round(100.0 * (i + 1) / n, 2)


def end_to_end(wl, res, meta, recall):
    info = res["info"]
    ops = res["ops"]

    def ms(kinds):
        return [o[2] for o in ops if o[0] in kinds]

    if wl == "trend":
        it, ch = info["iterations_ms"], info["chunks_ms"]
        rows = meta["batch"]["rows"] * len(it) + info["events_timed"]
        rows_per_s = rows / ((sum(it) + sum(ch)) / 1000.0)
        per_input = ((info["batch_stored_bytes"] + info["stream_stored_bytes"]) /
                     (meta["batch"]["bytes"] + info["stream_input_bytes"]))
        build_s = statistics.median(ms(("build",))) / 1000.0
        maintain_s = statistics.median(ms(("maintain",))) / 1000.0
    else:
        rows_per_s = info["records"] / (info["wall_ms"] / 1000.0)
        per_input = info["stored_bytes"] / info["input_bytes_consumed"]
        build_s = sum(ms(("build",))) / 1000.0
        maintain_s = sum(ms(("maintain",))) / 1000.0
        recall = info["ann_recall_at_10"]
    m = {"rows_per_s": rows_per_s, "build_s": build_s, "maintain_s": maintain_s,
         "bytes_stored_per_input_byte": per_input, "ann_recall_at_10": recall,
         "setup_s": statistics.median(info["setup_s"]),
         "peak_mem_mb": (info["peak_task_exec_bytes"] +
                         info.get("peak_state_bytes", 0)) / float(1 << 20)}
    tails = {}
    for fam, kinds in KINDS[wl].items():
        xs = ms(kinds)
        m[f"{fam}_p50_ms"] = statistics.median(xs)
        m[f"{fam}_tail_ms"], pct = tail(xs)
        tails[fam] = {"percentile": pct, "samples": len(xs)}
    return m, tails


def sizes(meta):
    """Input metadata without the per-item lists."""
    return {k: sizes(v) if isinstance(v, dict) else v
            for k, v in meta.items() if not isinstance(v, list)}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.GEN))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build.build()
    wl = a.workload
    inp = os.path.join(BUILD, "inputs", wl, str(a.seed))
    meta = gen.generate(wl, a.seed, inp)
    work = os.path.join(BUILD, "runs", wl)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before = os.getloadavg()[0]
    if load_before > os.cpu_count() / 2:
        print(f"[graftbench] WARNING: loadavg {load_before:.1f} exceeds half the "
              f"core count ({os.cpu_count()}): timings will overstate", file=sys.stderr)
    harness(work, ["--workload", wl, "--input", inp, "--seconds", str(a.seconds),
                   "--trace", str(a.trace)], deadline)
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)
    checks, recall, ties = gate.check(wl, inp, work, meta)
    attempted = res["attempted"] + len(checks)
    failed = res["failed"] + sum(1 for ok in checks.values() if not ok)
    correct = failed == 0
    info = res["info"]
    details = {
        "workload": wl, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "host": {"nproc": info["nproc"], "cpu_count": os.cpu_count(),
                 "load_before": load_before, "load_after": os.getloadavg()[0],
                 "jvm_load_before": info["load_before"],
                 "jvm_load_after": info["load_after"],
                 "heap_max_mb": info["heap_max_mb"],
                 "spark_version": info["spark_version"]},
        "inputs": sizes(meta),
        "gate": checks, "gate_ties": ties, "counts": res["counts"],
        "setup_samples_s": info["setup_s"],
        "run": {k: v for k, v in info.items() if not isinstance(v, list)},
        "wall_s": None,
    }
    if a.trace:
        layers = dict(res["layers"])
        layers["trend.rebin.bins_per_row"] = meta.get("batch", {}).get("bins_per_row", 0.0)
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        m, tails = end_to_end(wl, res, meta, recall)
        m["ok_ratio"] = (attempted - failed) / attempted
        details["tails"] = tails
        metrics = {e["name"]: {"value": float(m[e["name"]]), "unit": e["unit"]}
                   for e in spec["end_to_end"]}
    details["wall_s"] = time.time() - t_start
    print(json.dumps({"details": details}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
