#!/usr/bin/env python3
"""Run sets of benchmark runs and print each metric's median and quartiles.

    python3 perfbench/sets.py [--sets 2] [--runs 10] [--workloads fleet,monolith]
                              [--seconds 10] [--trace 0] [--first-seed 1]

Each set runs every workload `--runs` times, each time with another seed
(set k uses seeds first-seed + k*runs ...). For every workload and metric it
prints, per set, the median, the first and third quartile (Python's
statistics.quantiles, n=4), the spread (Q3 - Q1) / median, and the share of
failed operations. Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload, seed, seconds, trace, records=None):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed} failed with {p.returncode}")
    lines = p.stdout.strip().splitlines()
    if records:
        with open(records, "a") as fh:
            fh.write(lines[-2] + "\n")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--records", help="append every run's record line to this file")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    results = {}  # (set, workload) -> list of result objects
    for k in range(args.sets):
        for w in workloads:
            for i in range(args.runs):
                seed = args.first_seed + k * args.runs + i
                r = one_run(w, seed, seconds, args.trace, args.records)
                results.setdefault((k, w), []).append(r)
                print(f"set {k} {w} seed {seed}: attempted {r['attempted']} "
                      f"failed {r['failed']} correct {r['correct']}", file=sys.stderr)

    for w in workloads:
        print(f"== {w}")
        names = list(results[(0, w)][0]["metrics"])
        for name in names:
            cells = []
            for k in range(args.sets):
                vals = [r["metrics"][name]["value"] for r in results[(k, w)]]
                med = statistics.median(vals)
                if len(vals) >= 2:
                    q1, _, q3 = statistics.quantiles(vals, n=4)
                else:
                    q1 = q3 = vals[0]
                spread = (q3 - q1) / med if med else float("nan")
                cells.append(f"med {med:.6g} q1 {q1:.6g} q3 {q3:.6g} spread {spread:.3f}")
            bound = bounds.get(name)
            tail = f"  (bound {bound})" if bound is not None else ""
            print(f"  {name}: " + " | ".join(cells) + tail)
        for k in range(args.sets):
            rs = results[(k, w)]
            att = sum(r["attempted"] for r in rs)
            fail = sum(r["failed"] for r in rs)
            print(f"  set {k}: failed {fail}/{att} ops, "
                  f"all correct: {all(r['correct'] for r in rs)}")


if __name__ == "__main__":
    main()
