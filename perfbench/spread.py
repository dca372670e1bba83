#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py WORKLOAD SEED... [--seconds N] [--trace 0|1]

For each metric: the median of the runs and the interquartile distance
(statistics.quantiles, n=4) as a share of that median, which is how run-
to-run spread is judged against the bounds in BENCHMARK.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time

ap = argparse.ArgumentParser()
ap.add_argument("workload")
ap.add_argument("seeds", nargs="+", type=int)
ap.add_argument("--seconds", type=int)
ap.add_argument("--trace", type=int, default=0)
a = ap.parse_args()
with open("BENCHMARK.json") as fh:
    spec = json.load(fh)
seconds = a.seconds or spec["run_seconds"]
bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
values = {}
for seed in a.seeds:
    t0 = time.time()
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                          "--seed", str(seed), "--seconds", str(seconds),
                          "--trace", str(a.trace)], capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    shown = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                     if k in bounds)
    print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
          f"failed={res['failed']} wall={time.time() - t0:.0f}s {shown}", flush=True)
    for k, v in res["metrics"].items():
        values.setdefault(k, []).append(v["value"])
for k, vs in values.items():
    med = statistics.median(vs)
    q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
    spread = (q[2] - q[0]) / med if med else float("nan")
    b = bounds.get(k)
    flag = "" if b is None else f"  bound {b}  {'ok' if spread < b / 3 else 'WIDE'}"
    print(f"{k:36s} median {med:.6g}  spread {spread:.3f}{flag}")
