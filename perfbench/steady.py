#!/usr/bin/env python3
"""Run one workload on several seeds and report, per end-to-end metric,
the median and the quartile spread (Q3 - Q1) / median:

    python3 perfbench/steady.py --workload neel_stream --seeds 1-10 [--seconds 10]

Spread is what a benchmark bound in BENCHMARK.json has to cover."""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=None)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or str(bench["run_seconds"])
    values = {}
    for s in seeds(a.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", seconds, "--trace", "0"],
            stdout=subprocess.PIPE, text=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        line = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {s}: correct={res['correct']} {line}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        sp = benchlib.spread(vs) if len(vs) >= 2 else float("nan")
        print(f"{a.workload:14s} {k:18s} median {statistics.median(vs):12.4f} "
              f"spread {sp:.3f} bound {bounds.get(k)}")


if __name__ == "__main__":
    main()
