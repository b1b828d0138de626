"""Run-to-run spread of the end-to-end metrics, as the bounds are checked.

    python3 etlbench/spread.py --workload etl_daily --seeds 1 2 3 4 5 6 7 8 9 10

Runs ``run.py`` once per seed (one after another, never in parallel),
then prints, per metric, the median, the spread (distance between the
first and third quartile from ``statistics.quantiles(values, n=4)``,
as a share of the median) and the metric's bound from BENCHMARK.json.
Each run gets BENCHMARK.json's ``run_seconds``, as in an acceptance round.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def summarise(results: list[dict]) -> bool:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    ok = all(r["correct"] for r in results)
    print(f"{len(results)} runs, all correct: {ok}")
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in results if name in r["metrics"]]
        if len(vals) < 2:
            continue
        s = spread(vals)
        verdict = "ok" if s <= bound / 3 else ("within bound" if s <= bound else "TOO NOISY")
        print(f"{name:28s} median={statistics.median(vals):12.4f} spread={s:.4f} "
              f"bound={bound} ({verdict})")
    return ok


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    results = []
    for seed in a.seeds:
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True)
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {time.time() - t0:.1f} s wall, "
              f"{res['failed']}/{res['attempted']} ops failed, "
              + ", ".join(f"{k}={v['value']:.4f}" for k, v in res["metrics"].items()),
              flush=True)
        results.append(res)
    return 0 if summarise(results) else 1


if __name__ == "__main__":
    sys.exit(main())
