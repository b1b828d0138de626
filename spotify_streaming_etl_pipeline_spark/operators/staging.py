"""Staging-table lifecycle (SURVEY §2.1 S8/S9, §2.2 P4).

The reference stages data in mutable Postgres tables and cleans up
in-place: ``TRUNCATE staging.streaming_history``, ``DELETE ... WHERE
is_processed = TRUE`` (reference scripts/etl/transformer.py:378-401),
with per-batch ``UPDATE ... SET is_processed = TRUE`` marks (reference
scripts/etl/transformer.py:238).

On an immutable lake the same semantics are dataflow:

- the pure-dataflow pipeline (pipeline.py) needs NONE of this — the
  delta cutoff / streaming checkpoint IS the consume-once guarantee,
  so staging state simply isn't kept;
- when a staging table *is* materialized (e.g. API envelopes kept for
  re-cleaning), the flag update and conditional delete become table
  rewrites behind the same names, implemented here. With a table
  format (Delta/Iceberg) these map 1:1 onto ``UPDATE``/``DELETE``
  transactions; plain parquet rewrites the survivors.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .maintenance import swap_write


def unprocessed(staged: DataFrame) -> DataFrame:
    """P4: ``WHERE is_processed = FALSE``
    (reference transformer.py:205). Null flag counts as unprocessed —
    rows landed before the flag column existed must not be skipped."""
    return staged.filter(
        F.col("is_processed").isNull() | ~F.col("is_processed")
    )


def mark_processed(staged: DataFrame, processed_keys: DataFrame, key: str) -> DataFrame:
    """S9: ``UPDATE ... SET is_processed = TRUE WHERE key IN (...)``
    (reference transformer.py:238) as a rewrite: left-semi membership
    via a join flag. ``processed_keys`` is dim-sized (the batch just
    cleaned), so Catalyst broadcasts it — no staging shuffle."""
    flags = processed_keys.select(F.col(key)).distinct().withColumn("_hit", F.lit(True))
    return (
        staged.join(flags, key, "left")
        .withColumn(
            "is_processed",
            F.when(F.col("_hit"), F.lit(True)).otherwise(
                F.coalesce(F.col("is_processed"), F.lit(False))
            ),
        )
        .drop("_hit")
    )


def delete_processed(staged: DataFrame) -> DataFrame:
    """S8 (conditional delete): keep only unprocessed rows — the
    survivors of ``DELETE WHERE is_processed = TRUE``."""
    return unprocessed(staged)


def truncate_table(path: str) -> None:
    """S8 (TRUNCATE): for a parquet staging dir, truncation is
    deleting the directory — the next write recreates it."""
    if os.path.isdir(path):
        shutil.rmtree(path)


def rewrite_staging(staged: DataFrame, path: str) -> None:
    """Persist a staging rewrite (flag update / conditional delete) via
    the temp-then-swap dance so the plan never reads deleted files."""
    swap_write(staged, path, "swap")
