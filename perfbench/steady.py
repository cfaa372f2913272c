#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics: runs one workload with
several seeds and prints, per metric, the median and the distance between
the first and third quartile as a share of the median, against the bound
in BENCHMARK.json.

    python3 perfbench/steady.py --workload rollup_build --seeds 1-10 [--out runs.jsonl]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", help="append each run's result line here")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {m: [] for m in bounds}
    for seed in seeds_of(a.seeds):
        t0 = time.monotonic()
        p = subprocess.run(["python3", "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                            "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        wall = time.monotonic() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        r = json.loads(p.stdout.splitlines()[-1])
        if a.out:
            with open(a.out, "a") as fh:
                fh.write(json.dumps({"workload": a.workload, "seed": seed, "wall_s": wall,
                                     **r}) + "\n")
        for m in values:
            values[m].append(r["metrics"][m]["value"])
        print(f"seed {seed}: {wall:.1f} s correct={r['correct']} failed={r['failed']} " +
              " ".join(f"{m}={r['metrics'][m]['value']:.4g}" for m in values), flush=True)
    for m, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{m}: median {med:.6g} spread {spread:.3f} bound {bounds[m]} "
              f"({'ok' if spread <= bounds[m] / 3 else 'WIDE'})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
