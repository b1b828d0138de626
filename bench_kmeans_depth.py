"""Hierarchical-k-means DEPTH experiment: two-level vs three-level
wall-clock on the replicated embeddings substrates — the measurement
behind `kmeans_multilevel`'s depth guidance.

Candidate-row arithmetic (n vectors, kt = ceil(n/64) target cells):
flat compares n x kt, two-level n x (k1 + k2) ~ 2n*sqrt(kt),
three-level n x (sum of three ~kt^(1/3) terms).  At n = 200k
(kt = 3125): flat 625M candidate rows, two-level ~22.5M, three-level
~9.1M — but each extra level adds Lloyd rounds, checkpoints, and
shuffles, so the constant term grows with depth and the crossover is
an empirical question.  Expectation: three-level pays off only well
past the two-level crossover (~10⁷+ vectors); at the measured scales
it should trail or roughly match two-level, which is why two-level —
not three — is the registered default above the flat crossover.

Prints ONE JSON line per (substrate, depth) with the median of
``N_RUNS`` wall-clocks, then a summary line.

Usage: python bench_kmeans_depth.py   [env: SPARK_GRAFT_CPUS,
SPARK_GRAFT_DEPTH_DIRS — comma-separated substrate dirs, default
sf1 + sf10 replicas]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
DIRS = os.environ.get(
    "SPARK_GRAFT_DEPTH_DIRS",
    "/tmp/spark_graft_sf1,/tmp/spark_graft_sf10",
).split(",")
N_RUNS = 3


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pyspark.sql import SparkSession

    from spotify_streaming_etl_pipeline_spark.llm import similarity

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.driver.memory", "16g")
        .appName("bench-kmeans-depth")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    summary = {}
    for d in DIRS:
        emb = spark.read.parquet(f"{d}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        n = emb.count()

        def timed(fn) -> float:
            samples = []
            for _ in range(N_RUNS):
                t0 = time.monotonic()
                out = fn()
                n_rows = out.count()
                samples.append(time.monotonic() - t0)
                assert n_rows == n
                spark.sparkContext._jvm.System.gc()
            return round(statistics.median(samples), 2)

        two = timed(
            lambda: similarity.kmeans_multilevel(emb, n_iter=2, levels=2)
        )
        three = timed(
            lambda: similarity.kmeans_multilevel(emb, n_iter=2, levels=3)
        )
        row = {"substrate": d, "n_vectors": n, "twolevel_sec": two,
               "threelevel_sec": three,
               "ratio_3v2": round(three / two, 2)}
        print(json.dumps(row))
        summary[d.rsplit("/", 1)[-1]] = row
    print(json.dumps({"metric": "kmeans_depth_ab", "runs": N_RUNS,
                      "results": summary}))


if __name__ == "__main__":
    main()
