"""Run one workload over several seeds and print, per end-to-end metric, the
median and the spread (distance between the first and third quartile as a
share of the median) next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload bm25_lifecycle --seeds 1-10

A spread below a third of the bound leaves room for run-to-run noise; the
median is what a later change is compared against.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in parse_seeds(args.seeds):
        cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, check=False)
        out = res.stdout.decode().strip().splitlines()
        if res.returncode != 0 or not out:
            print(f"seed {seed}: run failed (exit {res.returncode})", flush=True)
            return 1
        metrics = json.loads(out[-1])["metrics"]
        calibration = json.loads(out[-2])["hw_calibration_s"]
        for name in values:
            values[name].append(metrics[name]["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in metrics.items())
              + f" hw_calibration_s={max(calibration):.3f}", flush=True)
    for m in spec["end_to_end"]:
        vs = values[m["name"]]
        print(f"{m['name']:32s} median {statistics.median(vs):10.4g} {m['unit']:6s} "
              f"spread {spread(vs):6.3f}  bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
