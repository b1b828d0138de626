"""Self-test of the benchmark itself (``run.py --selftest``).

1. The generator gives byte-identical inputs for one seed.
2. A deliberately wrong expected value registers as a failed op, both
   in a real ``etl_daily`` run and in the dashboard comparison.
3. The per-layer metric names the tracer computes match BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import os
import tempfile

import pandas as pd

from etlbench import gen, workloads
from etlbench.oracle import Either, as_rows
from etlbench.spans import Tracer


def _dashboard_compare() -> None:
    got = as_rows(pd.DataFrame({"track_title": ["a", "b"], "hours_played": [1.5, 0.2],
                                "estimated_streams": [3.0, 1.0]}))
    want = [("a", 1.5, Either(2.0, 3.0)), ("b", 0.2, 1.0)]
    if got != want:
        raise SystemExit(f"dashboard compare rejects a correct answer: {got} != {want}")
    wrong = [("a", 1.5, 3.0), ("b", 0.3, 1.0)]
    if got == wrong:
        raise SystemExit("dashboard compare accepts a wrong answer")
    print("dashboard compare self-check ok")


def _wrong_expected_fails(run) -> None:
    """Run etl_daily with the backfill's expected track rows off by one."""
    load, check = gen.Truth.load, workloads.Outcome.check
    calls, failed_ops = [], []

    def off_by_one(self, files):
        exp = load(self, files)
        if not calls:
            exp.n_fact_rows["tracks"] += 1
        calls.append(1)
        return exp

    def recording_check(self, op, problems):
        if problems:
            failed_ops.append(op)
        check(self, op, problems)

    workloads.Truth.load, workloads.Outcome.check = off_by_one, recording_check
    try:
        res = run(argparse.Namespace(workload="etl_daily", seed=1, trace=0))
    finally:
        workloads.Truth.load, workloads.Outcome.check = load, check
    if res["correct"] or "backfill" not in failed_ops or res["failed"] != len(failed_ops):
        raise SystemExit(f"a wrong expected value did not fail the backfill op: {res}")
    print(f"wrong-expected self-check ok: {res['failed']}/{res['attempted']} ops failed "
          f"({', '.join(failed_ops)})")


def _layer_names(per_layer_units) -> None:
    """The tracer's metric names are BENCHMARK.json's per-layer names."""
    base = os.path.join(os.getcwd(), ".etlbench")
    os.makedirs(base, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=base) as d:
        names = set(Tracer(d).report(d, {}, set(), 0.0, 0.0)[0])
    listed = set(per_layer_units())
    if names != listed:
        raise SystemExit(f"per-layer names differ: tracer only {sorted(names - listed)}, "
                         f"BENCHMARK.json only {sorted(listed - names)}")
    print(f"per-layer names self-check ok: {len(names)} metrics")


def main(run, per_layer_units) -> int:
    gen.self_check()
    _dashboard_compare()
    _layer_names(per_layer_units)
    _wrong_expected_fails(run)
    return 0
