"""Run-to-run spread of the end-to-end metrics: runs one workload once per
seed and prints, per metric, the median and the distance between the first
and third quartile as a share of the median (`statistics.quantiles`, n=4),
next to the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload <name> --seeds 1 2 3 4 5 [--seconds <s>]

Run from the repository root. Runs are made one after another.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    seconds = a.seconds or spec["run_seconds"]
    values = {}
    for seed in a.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}")
            continue
        result = json.loads(out.stdout.splitlines()[-1])
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']} " +
              " ".join(f"{k}={v['value']:.6g}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in spec["end_to_end"]:
        xs = values.get(m["name"], [])
        if len(xs) < 2:
            continue
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']:20s} median {q2:.6g}  spread {(q3 - q1) / q2:.4f}  "
              f"bound {m['bound']}  (third of bound {m['bound'] / 3:.4f})")


if __name__ == "__main__":
    main()
