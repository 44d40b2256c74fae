#!/usr/bin/env python3
"""Run one workload over several seeds and print each metric's spread.

    python3 perfbench/spread.py --workload point_search --seeds 1-10 [--trace 0]

For every metric of the result line it prints the median, the quartiles
(statistics.quantiles(values, n=4)) and the spread: the distance between
the first and third quartile as a share of the median. For end-to-end
metrics it also prints the bound from BENCHMARK.json. Run it from the
root of a checkout; it calls perfbench/run.py once per seed, one at a time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        contract = json.load(fh)
    seconds = args.seconds or contract["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in contract["end_to_end"]}
    values = {}
    for s in seeds(args.seeds):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(s),
                            "--seconds", str(seconds), "--trace", str(args.trace)],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
            sys.exit(1)
        res = json.loads(lines[-1])
        print(f"seed {s}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}", file=sys.stderr)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        print(f"{k:28} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.4f} "
              f"{'' if b is None else b:>6}")


if __name__ == "__main__":
    main()
