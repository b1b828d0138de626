"""Idempotent write patterns (SURVEY §2.3 J10/J11).

Spark has no unique constraints; the reference's ``ON CONFLICT DO
NOTHING`` / ``DO UPDATE`` (reference scripts/connectors/db_manager.py:72,
scripts/parent_mapping/ts_version_mapping.py:32-47) become explicit
dataflow:

- conflict-ignore  = dropDuplicates(keys) + left_anti vs target + append
- conflict-update  = target left_anti incoming (keep unmatched) UNION
                     incoming (new + updated)  — a full-target rewrite;
                     at lake scale swap in Delta ``MERGE`` behind the
                     same signature.

Both sides shuffle only on the key columns; a left-anti join can only
broadcast its right side, so when the target is dim-sized Spark
broadcasts the target's keys — no shuffle at all.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_new(
    incoming: DataFrame, keys: list[str], target: DataFrame | None
) -> DataFrame:
    """Rows from ``incoming`` whose key is new: within-batch dedup then
    anti-join against the existing target (J10).

    Keys compare null-safe on both steps (``dropDuplicates`` already
    treats NULLs as equal; the anti-join uses ``eqNullSafe``), so a
    row with a NULL key part — e.g. a play whose track is missing from
    ``dim_track`` gets ``track_fk IS NULL`` — is recognised as already
    present instead of landing again on every replay.

    The target's keys go to the anti join as they are: a left-anti
    join emits each incoming row at most once however many target
    rows match, so de-duplicating the keys first would only add an
    aggregate and a shuffle. Catalyst picks the join strategy from the
    target's size estimate (``autoBroadcastJoinThreshold``): a
    dim-sized target is broadcast, a fact-sized one is not (a
    broadcast fact key set would OOM the driver at 100 TB).
    """
    out = incoming.dropDuplicates(keys)
    if target is not None:
        # Renamed target keys keep the condition unambiguous even when
        # incoming and target share lineage.
        target_keys = target.select(
            *(F.col(k).alias(f"_target_{i}") for i, k in enumerate(keys))
        )
        cond = functools.reduce(
            operator.and_,
            (out[k].eqNullSafe(target_keys[f"_target_{i}"]) for i, k in enumerate(keys)),
        )
        out = out.join(target_keys, cond, "left_anti")
    return out


def idempotent_append(
    incoming: DataFrame,
    keys: list[str],
    target_path: str,
    spark=None,
) -> None:
    """Conflict-ignore append to a parquet table at ``target_path``."""
    from pyspark.errors import AnalysisException

    spark = spark or incoming.sparkSession
    try:
        target = spark.read.parquet(target_path)
    except AnalysisException:
        # Path does not exist yet → first write, nothing to dedup against.
        # Any other error (corrupt file, permissions) must propagate:
        # treating it as "no target" would silently duplicate keys.
        target = None
    dedup_new(incoming, keys, target).write.mode("append").parquet(target_path)


def upsert(incoming: DataFrame, keys: list[str], target: DataFrame | None) -> DataFrame:
    """Conflict-update (J11): incoming wins on key collision; returns
    the merged relation (caller persists it)."""
    incoming = incoming.dropDuplicates(keys)
    if target is None:
        return incoming
    # incoming is already key-unique (dropDuplicates above); a further
    # .distinct() would plan a second full aggregate for nothing.
    kept = target.join(incoming.select(*keys), keys, "left_anti")
    return kept.unionByName(incoming, allowMissingColumns=False)
