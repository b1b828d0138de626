"""End-to-end benchmark of the listening-ETL engine.

    python3 etlbench/run.py --workload etl_daily --seed 1 --seconds 8 --trace 0
    python3 etlbench/run.py --selftest

Run it from the repository root.  It generates its inputs from
``--seed``, drives the engine's public API as one user would (closed
loop, one client), checks every output, prints one summary line per
metric group and, as the last line, one JSON object::

    {"correct": true, "attempted": 7, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (spans around the engine's layer
functions joined with Spark's event log; the span dump goes to
``.etlbench/traces/``).  Each run works in a fresh directory under
``.etlbench/`` in the current directory and removes it at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spotify_streaming_etl_pipeline_spark"
WORKLOADS = ("etl_daily", "dashboard")
END_TO_END = {"setup_s": "s", "backfill_s": "s", "op_p50_s": "s",
              "warehouse_bytes_per_play": "B/play"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    # Accepted for the benchmark command line; each workload measures a
    # fixed amount of work (see DESIGN.md), so it does not set the sample.
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true",
                   help="check the generator and that a wrong expected value fails an op")
    a = p.parse_args(argv)
    if not a.selftest and a.workload is None:
        p.error("--workload is required")
    return a


def _cpus() -> int:
    return min(2, len(os.sched_getaffinity(0)))


def _environment(run_dir: str, n: int, trace: bool) -> None:
    """Process environment the session and its Python workers inherit;
    must be set before the JVM starts."""
    for d in ("local", "tmp", "fetchlog", "eventlog"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(n),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        # Python workers import the engine and the offline fetchers
        # ("etlbench.fakeapi:...") from the repository root.
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    if trace:
        os.environ["ETLBENCH_FETCH_LOG"] = os.path.join(run_dir, "fetchlog")


def _start_session(run_dir: str, n: int, trace: bool):
    from spotify_streaming_etl_pipeline_spark.session import get_spark

    # C1 only: each run is one short-lived JVM that spends most of its
    # time cold.  Without C2 the cold loads ran ~10% faster and spread
    # less from run to run (DESIGN.md, Steadiness settings).
    java_opts = (f"-XX:ReservedCodeCacheSize=1g -XX:TieredStopAtLevel=1 "
                 f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({"spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("etlbench", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at end of stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _percentile_tail(xs: list[float]) -> tuple[int, float] | None:
    """Highest whole percentile with at least ten samples above it."""
    xs = sorted(xs)
    n = len(xs)
    for p in (99, 95, 90, 75, 50):
        if n - int(p / 100 * n) - 1 >= 10:
            return p, xs[min(n - 1, int(p / 100 * n))]
    return None


def _summary(workload: str, out, env: dict) -> None:
    """Human-readable lines: every end-to-end metric by name and unit."""
    print(f"# {workload}: nproc={env['nproc']} local[{env['N']}] java={env['java']} "
          f"pyspark={env['pyspark']}")
    print(f"# setup_s={out.setup_s:.3f} s")
    for name, xs in out.samples.items():
        line = f"# {name}: median={statistics.median(xs):.4f} s n={len(xs)}"
        tail = _percentile_tail(xs)
        if tail:
            line += f" p{tail[0]}={tail[1]:.4f} s"
        print(line)
    if "query_s" in out.samples:
        xs = out.samples["query_s"]
        q = statistics.quantiles(xs, n=10) if len(xs) > 1 else [xs[0]] * 9
        print(f"# query_p50_s={statistics.median(xs):.4f} s query_p90_s={q[8]:.4f} s "
              f"n={len(xs)} (p90 has {len(xs) - int(0.9 * len(xs))} samples beyond it)")
    for name, v in out.values.items():
        print(f"# {name}={v:.3f} {END_TO_END.get(name, '')}")
    rate = out.failed / out.attempted if out.attempted else 1.0
    print(f"# error_rate={rate:.4f} ratio ({out.failed}/{out.attempted} ops failed)")
    for f in out.failures[:20]:
        print(f"# FAILED {f}")


def _end_to_end(workload: str, out) -> dict:
    op = out.samples["increment_s" if workload == "etl_daily" else "query_s"]
    return {
        "setup_s": out.setup_s,
        "backfill_s": statistics.median(out.samples["backfill_s"]),
        "op_p50_s": statistics.median(op),
        "warehouse_bytes_per_play": out.values["warehouse_bytes_per_play"],
    }


def run(args) -> dict:
    t_start = time.perf_counter()
    n = _cpus()
    run_dir = os.path.join(os.getcwd(), ".etlbench", f"run-{os.getpid()}-{int(time.time())}")
    _environment(run_dir, n, bool(args.trace))
    from etlbench import workloads
    from etlbench.spans import Tracer

    tracer = Tracer(os.path.join(run_dir, "fetchlog")) if args.trace else None
    if tracer:
        tracer.install()
    spark = None
    try:
        spark = _start_session(run_dir, n, bool(args.trace))
        session_s = time.perf_counter() - t_start
        if tracer:
            tracer.sc = spark.sparkContext
        import pyspark

        env = {"nproc": os.cpu_count(), "N": n, "pyspark": pyspark.__version__,
               "java": spark.sparkContext._jvm.System.getProperty("java.version")}
        ctx = workloads.Ctx(spark, args.seed, run_dir, session_s, tracer)
        out = workloads.Outcome()
        workloads.WORKLOADS[args.workload](ctx, out)
        _summary(args.workload, out, env)
        if not tracer:
            metrics = _end_to_end(args.workload, out)
            units = END_TO_END
        else:
            _stop_session(spark)
            spark = None
            layer, dump = tracer.report(os.path.join(run_dir, "eventlog"), out.known_uris,
                                        out.measured_ops, session_s,
                                        _end_to_end(args.workload, out)["op_p50_s"])
            metrics = layer
            units = per_layer_units()
            trace_dir = os.path.join(os.getcwd(), ".etlbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"env": env, "metrics": layer, **dump}, f, indent=1, default=str)
            print(f"# span dump: {os.path.relpath(f.name)}")
        return {
            "correct": out.failed == 0,
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
    finally:
        if tracer:
            tracer.uninstall()
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"etlbench: the engine package {PACKAGE}/ is not next to etlbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    # Run as a script, sys.path[0] is etlbench/ itself; import the
    # benchmark as the package ``etlbench`` from the root instead.
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    if args.selftest:
        from etlbench import selftest

        return selftest.main(run, per_layer_units)
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
