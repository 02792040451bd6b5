#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py <workload> <seed> [<seed> ...] [--trace 1]

The spread is the distance between the first and third quartiles of the
values (statistics.quantiles(values, n=4)) as a share of their median,
the figure BENCHMARK.json's bounds are held to. Run from the checkout root.
"""
import json
import statistics
import subprocess
import sys

BENCH = json.load(open("BENCHMARK.json"))


def main():
    args = sys.argv[1:]
    trace = "0"
    if "--trace" in args:
        i = args.index("--trace")
        trace = args[i + 1]
        del args[i:i + 2]
    workload, seeds = args[0], args[1:]
    values = {}
    for seed in seeds:
        out = subprocess.run(BENCH["command"] + [
            "--workload", workload, "--seed", seed,
            "--seconds", str(BENCH["run_seconds"]), "--trace", trace],
            stdout=subprocess.PIPE, text=True, check=True).stdout
        res = json.loads(out.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in BENCH["end_to_end"]}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(k)
        flag = "" if bound is None else f"  bound {bound}" + ("  TOO WIDE" if spread > bound / 3 else "")
        print(f"{k:<34} median {med:12.6g}  spread {spread:7.3f}{flag}")


if __name__ == "__main__":
    main()
