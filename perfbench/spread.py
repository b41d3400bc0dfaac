"""Run-to-run spread of the end-to-end metrics: runs the benchmark once per
seed, one run at a time, and prints each metric's median, its quartile spread
(q3 - q1 of statistics.quantiles(values, n=4)) as a share of the median, and
the bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload fitbit_trickle --seeds 1 10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs=2, required=True, metavar=("FIRST", "LAST"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values = {}
    for seed in range(a.seeds[0], a.seeds[1] + 1):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                              "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                              "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
        lines = out.stdout.strip().splitlines()
        res, machine = json.loads(lines[-1]), json.loads(lines[0])["machine"]
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} "
              f"load1={machine['load1_start']}->{machine['load1_end']} steal={machine['steal_share']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4)
        print(f"{k}: median {med:.6g} spread {(q[2] - q[0]) / med:.3f} bound {bounds.get(k)}")


if __name__ == "__main__":
    main()
