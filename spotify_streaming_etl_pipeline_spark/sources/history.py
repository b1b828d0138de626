"""Streaming-history JSON source with delta-load semantics.

S1: glob ``*.json`` export files (JSON arrays → multiLine=True), fixed
19-column declared schema (reference scripts/etl/extractor.py:31-66).
S2/P2/A6: keep only rows newer than the warehouse high-water mark —
``GREATEST`` of the three max timestamps (reference
scripts/connectors/db_manager.py:139-153), strict ``>`` comparison.

The filter is a plain Catalyst predicate, so on a date-partitioned
lake it prunes partitions; under Structured Streaming the file source
+ checkpoint replaces it entirely (streaming/ingest.py).
"""

from __future__ import annotations

import datetime as dt
import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import to_utc
from ..schemas import HISTORY_SCHEMA

def read_history(spark: SparkSession, path: str) -> DataFrame:
    """S1: parse export files; ts string → TimestampType UTC instant.

    Malformed files degrade, not fail: PERMISSIVE mode nulls the
    columns of unparseable documents, and the ts-not-null filter drops
    those rows — the dataflow equivalent of the reference's
    log-and-skip on json.JSONDecodeError / missing keys (reference
    scripts/etl/extractor.py:78-93, tested truth table in its
    tests/test_data_extraction/test_json_extractor.py:91-124)."""
    raw = (
        spark.read.schema(HISTORY_SCHEMA)
        .option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .json(path)
    )
    return parse_ts(raw)


def parse_ts(raw: DataFrame) -> DataFrame:
    """The export's ``ts`` string → TimestampType UTC instant; rows
    whose ts fails to parse are dropped here, not carried downstream
    as NULL-keyed fact rows.  Shared by the batch reader and the
    stream reader (streaming/ingest.py), so both parse alike."""
    return raw.withColumn(
        "ts", F.to_timestamp("ts", "yyyy-MM-dd'T'HH:mm:ssX")
    ).filter(F.col("ts").isNotNull())


def max_loaded_ts(
    fact_tracks: DataFrame | None, fact_podcasts: DataFrame | None
) -> dt.datetime:
    """A6/F7: GREATEST of the fact tables' maxes, 1900-01-01 floor.
    (The reference also folds in its staging table; the engine keeps
    none — see ``operators/staging.py``.)

    Fact tables store naive MSK wall-clock (``ts_msk``) — convert back
    to UTC before comparing, like the reference
    (db_manager.py:144-146).  The given tables' timestamps are unioned
    under one aggregate, so the cutoff is one action, not one per
    table."""
    floor = dt.datetime(1900, 1, 1)
    stamps = [
        df.select(to_utc(F.col("ts_msk")).alias("ts"))
        for df in (fact_tracks, fact_podcasts)
        if df is not None
    ]
    if not stamps:
        return floor
    top = functools.reduce(DataFrame.union, stamps).agg(F.max("ts")).collect()[0][0]
    return floor if top is None else max(floor, top)


def delta_filter(history: DataFrame, cutoff: dt.datetime) -> DataFrame:
    """S2: strict ``ts > cutoff`` (reference extractor.py:65 — tested
    truth table: cutoffs {2020,2022,2023}-01-01 over rows at 2021/2023
    pass {2, 1, 0} rows)."""
    return history.filter(F.col("ts") > F.lit(cutoff))
