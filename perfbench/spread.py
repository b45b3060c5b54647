#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds 10]

Runs the benchmark once per seed (tracing off) and prints, per metric, the
median and the distance between the first and third quartiles as a share
of the median, next to the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    secs = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for s in seeds(a.seeds):
        out = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload,
                              "--seed", str(s), "--seconds", str(secs), "--trace", "0"],
                             capture_output=True, text=True, cwd=HERE.parent)
        if out.returncode != 0:
            print(f"seed {s}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        r = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {s}: correct={r['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, v in values.items():
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{k:16s} median={med:.4g} spread={(q3 - q1) / med:.3f} bound={bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
