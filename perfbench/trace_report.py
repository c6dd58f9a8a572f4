#!/usr/bin/env python3
"""Traced-run report: per-layer metrics plus the tracing overhead.

    python3 perfbench/trace_report.py --seconds <s> --seeds 1,2,3 --out perfbench/results/trace.json

For every workload and seed it runs run.py twice, untraced (--trace 0)
and traced (--trace 1), and writes one JSON report: the per-layer
metrics of each traced run, the end-to-end metrics of both runs, and
the overhead of tracing as the median over seeds of traced / untraced
- 1 for each end-to-end metric. The spans of the traced runs are kept
beside the report (<out stem>-spans/<workload>-<seed>.json).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(BENCH, "run.py")
WORKLOADS = ["etl_mutations", "query_mix"]


def run(workload, seed, seconds, trace, keep):
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace), "--keep", keep],
        cwd=os.path.dirname(BENCH), stdout=subprocess.PIPE, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    record = next(json.loads(l) for l in lines if l.startswith('{"workload"'))
    return record, json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    spans_dir = os.path.splitext(a.out)[0] + "-spans"
    os.makedirs(spans_dir, exist_ok=True)
    report = {"seconds": a.seconds, "seeds": seeds, "workloads": {}}
    for w in a.workloads.split(","):
        runs, ratios = [], {}
        for seed in seeds:
            os.makedirs(os.path.join(BENCH, ".runs"), exist_ok=True)
            with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, ".runs")) as keep:
                plain, _ = run(w, seed, a.seconds, 0, keep)
                traced, line = run(w, seed, a.seconds, 1, keep)
                spans = os.path.join(keep, f"{w}-spans.json")
                if os.path.exists(spans):
                    shutil.copy(spans, os.path.join(spans_dir, f"{w}-{seed}.json"))
            runs.append({"seed": seed, "correct": line["correct"] and not plain["failures"],
                         "untraced": plain["metrics"], "traced": traced["metrics"],
                         "traced_detail": traced["detail"],
                         "per_layer": {k: v["value"] for k, v in line["metrics"].items()}})
            for m, v in plain["metrics"].items():
                ratios.setdefault(m, []).append(traced["metrics"][m] / v - 1)
        report["workloads"][w] = {
            "tracing_overhead": {m: statistics.median(r) for m, r in ratios.items()},
            "runs": runs}
        print(f"{w}: overhead " + ", ".join(
            f"{m} {statistics.median(r):+.1%}" for m, r in ratios.items()), flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
