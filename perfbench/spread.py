#!/usr/bin/env python3
"""Run the benchmark on several seeds and print, per end-to-end metric, the
median and the quartile spread (Q3 - Q1) / median, the figure each
metric's bound in BENCHMARK.json is checked against.

    python3 perfbench/spread.py ingest_bulk 1 2 3 4 5
"""
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main(workload, seeds):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {k: [] for k in bounds}
    for seed in seeds:
        t0 = time.time()
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
            continue
        lines = r.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        probe = next((ln.split()[1] for ln in lines if ln.startswith("harness.probe_s")), "?")
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        for ln in lines:
            if ln.startswith("FAILED op "):
                print(f"seed {seed}: {ln}")
        print(f"seed {seed}: {time.time() - t0:.0f} s, probe {probe} s, failed {res['failed']}, "
              + ", ".join(f"{k}={res['metrics'][k]['value']:.4g}" for k in values),
              flush=True)
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        spread = (q3 - q1) / med if med else float("inf")
        print(f"{k:<12} median {med:10.4f}  spread {spread:6.3f}  bound {bounds[k]}"
              + ("" if spread <= bounds[k] / 3 else "  <- above a third of the bound"))


if __name__ == "__main__":
    main(sys.argv[1], [int(s) for s in sys.argv[2:]])
