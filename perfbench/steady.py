#!/usr/bin/env python3
"""Steadiness evidence: run workloads repeatedly and summarise each metric.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 1-10] [--trace 0] [--out FILE]

Run from the repository root. Each run is `perfbench/run.py` with its own
seed and the `run_seconds` of BENCHMARK.json; a run that fails, answers
wrongly or reports other metrics than BENCHMARK.json lists stops the
script. For every workload and
metric the script records the values, their median and quartiles
(`statistics.quantiles(values, n=4)`), and the spread: the distance
between the quartiles as a share of the median. The summary is written as
JSON (default perfbench/steadiness.json) and printed as a table.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace, names):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if p.returncode != 0 or not result or not result["correct"]:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}, result {result}")
    if set(result["metrics"]) != names:
        raise SystemExit(f"{workload} seed {seed}: metrics {sorted(result['metrics'])} "
                         f"are not BENCHMARK.json's {sorted(names)}")
    return result


def summarise(values):
    if len(values) < 2:
        return {"values": values, "median": values[0], "q1": None, "q3": None, "spread": None}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out", default=os.path.join(HERE, "steadiness.json"))
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    names = {m["name"] for m in bench["end_to_end" if a.trace == "0" else "per_layer"]}
    out = {"run_seconds": bench["run_seconds"], "seeds": a.seeds, "trace": int(a.trace),
           "workloads": {}}
    for w in a.workloads.split(","):
        per_metric = {}
        for s in seeds(a.seeds):
            res = run(w, s, bench["run_seconds"], a.trace, names)
            for k, m in res["metrics"].items():
                per_metric.setdefault(k, []).append(m["value"])
            print(f"{w} seed {s}: " + ", ".join(f"{k}={m['value']:.4g}"
                                                 for k, m in sorted(res["metrics"].items())),
                  flush=True)
        out["workloads"][w] = {k: summarise(v) for k, v in sorted(per_metric.items())}
    with open(a.out, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"\n{'workload':10} {'metric':26} {'median':>14} {'spread':>8} {'bound':>6}")
    for w, ms in out["workloads"].items():
        for k, s in ms.items():
            b = bounds.get(k)
            spread = "" if s["spread"] is None else f"{s['spread']:.3f}"
            print(f"{w:10} {k:26} {s['median']:14.4f} {spread:>8} {'' if b is None else b:>6}")


if __name__ == "__main__":
    main()
