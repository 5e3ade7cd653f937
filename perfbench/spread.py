#!/usr/bin/env python3
"""Runs the benchmark untraced, as BENCHMARK.json says, on several seeds
and prints, per end-to-end metric, the median and the quartile spread
(third minus first quartile, as a share of the median) next to the
metric's bound.

    python3 perfbench/spread.py --workload ingest --seeds 1-10 [--save]

--save records the figures as the workload's entry in perfbench/baseline.json,
with one traced run on the first seed for the per-layer figures and the
tracing overhead (its trace.op_p50_ms minus the untraced op_p50_ms median).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BASELINE = os.path.join(BENCH, "baseline.json")


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def run(bench, workload, seed, trace):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True).stdout
    lines = out.strip().splitlines()
    result = json.loads(lines[-1])
    machine = [l for l in lines if l.startswith("timed phase")]
    print("seed %d%s: correct=%s failed=%d/%d %s (%s)" % (
        seed, " traced" if trace else "", result["correct"], result["failed"], result["attempted"],
        " ".join("%s=%.4g" % (k, v["value"]) for k, v in result["metrics"].items()),
        "; ".join(machine)), flush=True)
    return result


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--save", action="store_true", help="record the figures in perfbench/baseline.json")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = [(seed, run(bench, a.workload, seed, 0)) for seed in seeds(a.seeds)]
    summary = {}
    for m in bench["end_to_end"]:
        xs = [r["metrics"][m["name"]]["value"] for _, r in runs]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) >= 2 else (med, med, med)
        summary[m["name"]] = {"unit": m["unit"], "median": med, "q1": q1, "q3": q3,
                              "spread": (q3 - q1) / med, "bound": m["bound"], "values": xs}
        print("%-28s median %-14.6g spread %-8.4f bound %s" % (m["name"], med, (q3 - q1) / med, m["bound"]))
    if not a.save:
        return
    record = {"seeds": [s for s, _ in runs], "attempted": sum(r["attempted"] for _, r in runs),
              "failed": sum(r["failed"] for _, r in runs), "end_to_end": summary}
    traced = run(bench, a.workload, runs[0][0], 1)["metrics"]
    record["traced_seed"] = runs[0][0]
    record["per_layer"] = {k: v["value"] for k, v in traced.items()}
    record["tracing_overhead_ms"] = traced["trace.op_p50_ms"]["value"] - summary["op_p50_ms"]["median"]
    with open(BASELINE) as f:
        baseline = json.load(f)
    baseline["workloads"][a.workload] = record
    with open(BASELINE, "w") as f:
        json.dump(baseline, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    sys.exit(main())
