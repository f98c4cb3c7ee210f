#!/usr/bin/env python3
"""Run each workload k times and report every end-to-end metric's spread.

    python3 pipebench/repeat.py [--runs 10] [--workloads clean,dirty]
                                [--first-seed 1] [--seconds S] [--trace 0|1]

Run from the repository root. Each run gets its own seed (first-seed,
first-seed+1, ...). For each workload and metric it prints the median,
the quartiles (statistics.quantiles, n=4), the spread (Q3 - Q1) as a
share of the median, and that spread against the metric's bound in
BENCHMARK.json. Per-run results go to .bench_work/repeat.jsonl.

With --trace 1 it runs every workload once traced and once untraced per
seed and prints the tracing overhead on each end-to-end metric.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed} trace {trace}")
    # The traced run also prints its end-to-end readings on stderr.
    e2e = next((json.loads(line.split(" ", 1)[1]) for line in r.stderr.splitlines()
                if line.startswith("pipebench-e2e ")), None)
    return json.loads(r.stdout.strip().splitlines()[-1]), e2e


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(".bench_work", exist_ok=True)
    log = open(os.path.join(".bench_work", "repeat.jsonl"), "a")

    for w in workloads:
        values = {name: [] for name in bounds}
        overhead = {name: [] for name in bounds}
        shares = set()
        for i in range(args.runs):
            seed = args.first_seed + i
            res, _ = one_run(w, seed, seconds, 0)
            log.write(json.dumps({"workload": w, "seed": seed, "trace": 0, **res}) + "\n")
            log.flush()
            shares.add(res["failed"] / res["attempted"])
            if not res["correct"]:
                print(f"{w} seed {seed}: INCORRECT")
            for name in bounds:
                values[name].append(res["metrics"][name]["value"])
            if args.trace:
                tres, e2e = one_run(w, seed, seconds, 1)
                log.write(json.dumps({"workload": w, "seed": seed, "trace": 1, **tres}) + "\n")
                for name in bounds:
                    overhead[name].append(e2e[name] / res["metrics"][name]["value"] - 1)
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        print(f"\n{w}: {args.runs} runs, failed share {sorted(shares)}")
        print(f"  {'metric':24} {'median':>10} {'Q1':>10} {'Q3':>10} {'spread':>7} {'bound':>6}  ok")
        for name, xs in values.items():
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
            spread = (q3 - q1) / med if med else float("inf")
            ok = "setup" if name == "setup_s" else ("yes" if spread < bounds[name] / 3 else
                                                    "within" if spread <= bounds[name] else "NO")
            print(f"  {name:24} {med:10.4g} {q1:10.4g} {q3:10.4g} {spread:7.3f} {bounds[name]:6.2f}  {ok}")
        if args.trace:
            print("  tracing overhead (traced / untraced - 1, median over seeds):")
            for name, xs in overhead.items():
                print(f"    {name:24} {statistics.median(xs):+.3f}")
        print()


if __name__ == "__main__":
    main()
