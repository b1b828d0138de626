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

Both sides shuffle only on the key columns; when the incoming side is
small relative to the target (the normal incremental-load case) Spark
broadcasts it for the anti join — no target shuffle at all.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Targets at or below this estimated byte size get their key set
#: broadcast for the anti join; above it we leave strategy choice to
#: AQE (sort-merge or shuffled-hash, with runtime conversion to
#: broadcast if the distinct key set turns out small post-shuffle).
BROADCAST_TARGET_BYTES = 64 * 1024 * 1024


def dedup_new(
    incoming: DataFrame,
    keys: list[str],
    target: DataFrame | None,
    *,
    broadcast_target: bool | None = None,
) -> DataFrame:
    """Rows from ``incoming`` whose key is new: within-batch dedup then
    anti-join against the existing target (J10).

    Keys compare null-safe on both steps (``dropDuplicates`` already
    treats NULLs as equal; the anti-join uses ``eqNullSafe``), so a
    row with a NULL key part — e.g. a play whose track is missing from
    ``dim_track`` gets ``track_fk IS NULL`` — is recognised as already
    present instead of landing again on every replay.

    ``broadcast_target`` forces/forbids broadcasting the target's key
    set; default (None) uses Catalyst's size estimate of the target —
    a fact-sized target must NOT be broadcast (driver OOM at 100 TB),
    while a dim-sized one should be.
    """
    out = incoming.dropDuplicates(keys)
    if target is not None:
        # Renamed target keys keep the condition unambiguous even when
        # incoming and target share lineage.
        target_keys = target.select(
            *(F.col(k).alias(f"_target_{i}") for i, k in enumerate(keys))
        ).distinct()
        if broadcast_target is None:
            broadcast_target = _estimated_bytes(target) <= BROADCAST_TARGET_BYTES
        if broadcast_target:
            target_keys = F.broadcast(target_keys)
        cond = functools.reduce(
            operator.and_,
            (out[k].eqNullSafe(target_keys[f"_target_{i}"]) for i, k in enumerate(keys)),
        )
        out = out.join(target_keys, cond, "left_anti")
    return out


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's plan-level size estimate (file sizes for scans)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        return int(plan.stats().sizeInBytes())
    except Exception:
        # Unknown size: assume big — never broadcast blindly.
        return 1 << 62


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
