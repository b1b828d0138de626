"""Deterministic surrogate-key assignment (SURVEY §2.8 F23).

Postgres ``serial`` gives stable dense ids across incremental loads
(reference docs/sql/core_ddl.sql:5,25,34,68,80,90,111). Spark's
``monotonically_increasing_id`` is neither dense nor stable, so the
engine assigns ``row_number() OVER (ORDER BY natural_key) + max(existing)``
— deterministic given the natural key, dense, append-safe.

``with_surrogate_key_after`` computes ``max(existing)`` inside the plan
(a one-row aggregate of the existing table, broadcast onto the new
rows), so building a keyed frame starts no Spark job; the max is read
when the frame itself runs.

Scale note: ``with_surrogate_key``'s global row_number is a
single-partition sort of ONLY the new rows (dims grow by small
increments per load) — acceptable because dims are small. For
fact-sized inputs use ``with_surrogate_key_distributed``: identical
output, but the total order comes from range partitioning + a
per-partition row_number + a broadcast offset join, so no stage ever
holds more than one partition's rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schemas import local_frame


def with_surrogate_key(
    new_rows: DataFrame,
    key_name: str,
    order_by: list[str],
    existing_max: int | Column = 0,
) -> DataFrame:
    w = Window.orderBy(*[F.col(c).asc_nulls_last() for c in order_by])
    return new_rows.withColumn(
        key_name, (F.row_number().over(w) + F.lit(existing_max)).cast("long")
    )


def with_surrogate_key_after(
    new_rows: DataFrame,
    key_name: str,
    order_by: list[str],
    existing: DataFrame | None,
) -> DataFrame:
    """``with_surrogate_key`` continuing after ``max(existing[key_name])``
    (keys from 1 when ``existing`` is None or empty).  The max is a
    one-row aggregate of ``existing`` broadcast onto the new rows, so
    it is computed when the keyed frame runs: building it runs no job."""
    if existing is None:
        return with_surrogate_key(new_rows, key_name, order_by)
    top = existing.agg(F.coalesce(F.max(key_name), F.lit(0)).alias("_key_max"))
    return with_surrogate_key(
        new_rows.crossJoin(F.broadcast(top)), key_name, order_by, F.col("_key_max")
    ).drop("_key_max")


def with_surrogate_key_distributed(
    new_rows: DataFrame,
    key_name: str,
    order_by: list[str],
    existing_max: int = 0,
) -> DataFrame:
    """Same contract as ``with_surrogate_key`` (dense ids in
    ``order_by`` order, continuing from ``existing_max``) without the
    single-partition sort: range-partition on the key so partition i
    holds a contiguous key range, rank within each partition, then add
    per-partition offsets (cumulative counts — one tiny collect, one
    broadcast join). Every stage is fully parallel and no stage sorts
    more than one partition's rows. Honest shuffle accounting: TWO
    whole-dataset exchanges — the range shuffle any global ordering
    needs, plus a hash re-shuffle on the partition id for the windowed
    numbering (range partitioning does not satisfy the window's
    clustering requirement, and Spark cannot be told rows are already
    grouped by their own partition id) — trading 2x-rows shuffle
    volume for the removal of the one-reducer sort bottleneck.
    Deterministic whenever ``order_by`` is a unique key — the same
    precondition the global-sort form has.

    The ranged table is localCheckpoint-ed to pin partition identity:
    the counting pass and the numbering pass must see the same
    ``spark_partition_id`` for the offsets to line up.
    """
    cols = [F.col(c).asc_nulls_last() for c in order_by]
    ranged = new_rows.repartitionByRange(*cols).localCheckpoint()
    counts = (
        ranged.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    offsets, acc = [], existing_max
    for row in sorted(counts, key=lambda r: r["pid"]):
        offsets.append((row["pid"], acc))
        acc += row["cnt"]
    off = local_frame(
        new_rows.sparkSession,
        offsets or [(0, existing_max)],
        StructType.fromDDL("pid int, off long"),
    )
    w = Window.partitionBy("pid").orderBy(*cols)
    return (
        ranged.withColumn("pid", F.spark_partition_id())
        .withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(off), "pid")
        .withColumn(key_name, (F.col("_rn") + F.col("off")).cast("long"))
        .drop("pid", "_rn", "off")
    )

