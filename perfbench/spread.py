#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports each metric's spread.

    python3 perfbench/spread.py --workload sky_anti --seeds 1-10 [--trace 0|1]

For every metric of the result line it prints the values, the median and
the interquartile range as a share of the median (the quartiles as
statistics.quantiles(values, n=4) gives them), next to the metric's bound
in BENCHMARK.json. Runs go one after another; run from the checkout root.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    contract = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in contract["end_to_end"]}
    values = {}
    for s in seeds(a.seeds):
        proc = subprocess.run(
            [sys.executable, str(BENCH / "run.py"), "--workload", a.workload, "--seed", str(s),
             "--seconds", str(contract["run_seconds"]), "--trace", a.trace],
            stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            sys.exit(f"seed {s}: run failed with exit {proc.returncode}")
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {s}: correct={result['correct']} attempted={result['attempted']} failed={result['failed']}",
              flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = f"{(q3 - q1) / med:.4f}"
        else:
            spread = "-"
        bound = bounds.get(name)
        print(f"{name:34s} median {med:14.4f} iqr/median {spread:>7s}"
              + (f" bound {bound}" if bound is not None else "")
              + "  [" + ", ".join(f"{v:.4g}" for v in vs) + "]")


if __name__ == "__main__":
    main()
