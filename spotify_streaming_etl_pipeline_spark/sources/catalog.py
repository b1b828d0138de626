"""Parquet catalog over the driver-generated synthetic tables.

At 100 TB these would be a metastore catalog over partitioned/bucketed
parquet (facts partitioned by date, dims unpartitioned); the loader
keeps that substitution behind one function. Scans stay lazy — Catalyst
pushes filters/column pruning into the parquet reader, so callers
should ``select``/``filter`` on the returned DataFrame rather than
materialize it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Tables whose consumers do heavy per-row compute (per-shingle md5,
# vector math): spread an under-split scan before those stages. For
# lineitem/events the per-row work is trivial column arithmetic, and
# measured A/B shows the extra shuffle costs more than the parallelism
# buys — so they are NOT rebalanced here.
REBALANCE_TABLES = frozenset({"documents", "embeddings"})

# Lazy-PLAN memo for the most recent session: constructing a parquet
# scan costs ~136 ms of driver-side metadata work per call (file
# listing + footer schema read + the rebalance partition probe,
# measured r12) and a many-query session re-reads the same immutable
# tables hundreds of times.  The memo stores the unresolved lazy plan
# only — every action still computes from the parquet files, so this
# is the file-listing cache of guide §6, not result caching.  Keyed
# to one session at a time (plans are session-bound; holding plans of
# dead sessions would leak them), so tests that rotate sessions just
# rebuild on first touch.
_PLAN_MEMO: dict[tuple[str, str], DataFrame] = {}
_MEMO_SESSION: list = [None]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if _MEMO_SESSION[0] is not spark:
        _PLAN_MEMO.clear()
        _MEMO_SESSION[0] = spark
    key = (sf_dir, name)
    df = _PLAN_MEMO.get(key)
    if df is None:
        df = _load_table_uncached(spark, sf_dir, name)
        _PLAN_MEMO[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark rejects by
        # default (PARQUET_TYPE_ILLEGAL). The conf is runtime-settable on
        # any session — set it here so plain (driver-built) sessions work
        # too, not just this package's get_spark().
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        for field in df.schema.fields:
            # With nanosAsLong the ts arrives as LongType nanos. Integer
            # `div` (not `/`) — ns-since-epoch overflows double mantissa.
            if field.name == "ts" and field.dataType.simpleString() == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if name in REBALANCE_TABLES:
        df = rebalance(df)
    return df


def rebalance(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread an under-split scan across the cluster before heavy
    per-row stages (shingle explode, md5, vector math).

    A small single-file parquet table arrives as ONE input split, so
    everything pipelined on top of the scan — explode, hash, dot
    product — runs serially on one core no matter how wide the cluster
    is. Repartitioning up to the session's default parallelism costs a
    shuffle of the raw rows (tiny for dim-sized inputs) and buys full
    fan-out for the expensive stage. At lake scale the scan already has
    more splits than cores and this is a no-op.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names or TABLES}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so plans can be written in spark.sql too."""
    for n in names or TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
