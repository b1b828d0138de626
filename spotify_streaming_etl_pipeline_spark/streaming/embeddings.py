"""Streaming embedding ingestion with ONLINE k-means — maintaining a
live IVF index over a vector stream.  The batch clustering family
(`llm/similarity.py`: flat / two-level / N-level Lloyd) re-clusters a
corpus from scratch; a vector STREAM instead wants each microbatch
routed into the current cells and the centroids nudged by the new
members — the classic online/mini-batch k-means update (Bottou &
Bengio 1995; Sculley, WWW 2010), which is also exactly how a serving
IVF index absorbs writes (route to nearest centroid, refresh the
centroid as the running mean of its members).

Semantics per microbatch (deterministic, replay-safe, oracle-gated on
the shared ``_ingest_batch`` path):

1. batch 0 seeds k cells with the hash-seeded init shared with every
   clusterer in this repo (cell = vec_id % k; centroid = per-dim mean,
   4dp-rounded) — the seeding IS batch 0's assignment;
2. batch t >= 1 assigns every vector to its nearest CURRENT centroid
   through the batch clusterers' own kernel
   (``llm.similarity._nearest_cell``: 4dp-rounded distances, cell-id
   tie break), then updates each touched centroid to the
   count-weighted running mean round((c*n + sum_batch x)/(n + m), 4);
   untouched cells carry over verbatim.  Assignments are FROZEN at
   arrival time (online semantics — history does not re-cluster);
3. the state (cell, dim, c, n) publishes as a versioned snapshot with
   the same tmp-then-rename + _SUCCESS + committed-only-prune
   discipline as the other sinks (it is a REPLACED table — snapshot
   semantics are inherent), while the assignment log — APPEND-ONLY by
   construction — lands as one ``batch={id}`` partition per
   microbatch, overwritten in place on replay: a whole-log snapshot
   would rewrite O(total history) per batch, the exact
   corpus-proportional term this sink family exists to avoid.

Scale shape: the centroid state is k x dim rows — MODEL-sized (k is
fixed in the online regime), so assignment is one broadcast join per
batch, linear in batch x k; the update is one per-(cell, dim) partial
aggregate of the batch.  Nothing corpus-proportional happens per
batch — the streaming analogue of the admission sink's posting-index
property.  The state table feeds ``llm/similarity.py:
_ivf_from_centroid_table`` directly, so ANN search runs against the
live index between batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..llm.similarity import _exploded, _nearest_cell
from .aggregates import publish_snapshot, read_state

#: Subdirectory of the sink's state_dir holding the append-only
#: (vec_id, batch, cell) assignment log — one batch={id} partition per
#: microbatch (read it with ``read_assignment_log``).
ASSIGN_SUBDIR = "assignments"


def read_assignment_log(spark, state_dir: str) -> DataFrame | None:
    """The full frozen-at-arrival assignment log (vec_id, batch, cell)
    from a sink's state dir; None before the first batch commits."""
    path = os.path.join(state_dir, ASSIGN_SUBDIR)
    if not os.path.isdir(path):
        return None
    df = spark.read.option("basePath", path).parquet(path)
    return df.select("vec_id", F.col("batch").cast("int").alias("batch"), "cell")


def _ingest_batch(
    state: DataFrame | None,
    batch: DataFrame,
    k: int,
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """(assignments, new_state) for one microbatch against one
    centroid state — the single code path behind the streaming sink
    and the oracle-gated batch replay (``online_kmeans_decisions``),
    the ``admission._decide`` pattern.

    ``state`` is (cell, dim, c, n); None OR EMPTY seeds from the
    batch — an empty batch 0 publishes a zero-cell snapshot, and
    without the emptiness re-check every later batch would join
    against zero centroids and silently drop all vectors forever.
    Returns assignments (vec_id, cell) — LAZILY localCheckpoint-ed:
    both the caller's output AND the state update consume it, and the
    checkpoint pins the rows at first materialization so the distance
    join still executes exactly once (a plain lazy plan would run it
    per consumer; an EAGER checkpoint paid one extra job per batch) —
    and the lazy updated state, which callers materialize through
    their write (sink) or their next action (batch replay)."""
    dims = _exploded(batch.dropDuplicates(["vec_id"]), vec_col)
    if state is None or state.isEmpty():
        seeded = dims.withColumn("cell", (F.col("vec_id") % k).cast("int"))
        new_state = seeded.groupBy("cell", "dim").agg(
            F.round(F.avg("x"), 4).alias("c"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        assignments = (
            seeded.select("vec_id", "cell")
            .distinct()
            .localCheckpoint(eager=False)
        )
        return assignments, new_state
    assignments = _nearest_cell(
        dims, state.select("cell", "dim", "c")
    ).localCheckpoint(eager=False)
    adds = (
        dims.join(assignments, "vec_id")
        .groupBy("cell", "dim")
        .agg(
            F.sum("x").alias("s"),
            F.count(F.lit(1)).cast("long").alias("m"),
        )
    )
    new_state = (
        state.join(adds, ["cell", "dim"], "left")
        .select(
            "cell",
            "dim",
            F.when(
                F.col("m").isNotNull(),
                F.round(
                    (F.col("c") * F.col("n") + F.col("s"))
                    / (F.col("n") + F.col("m")),
                    4,
                ),
            )
            .otherwise(F.col("c"))
            .alias("c"),
            (F.col("n") + F.coalesce(F.col("m"), F.lit(0)))
            .cast("long")
            .alias("n"),
        )
    )
    return assignments, new_state


def online_kmeans_decisions(
    emb: DataFrame,
    k: int = 8,
    n_batches: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch replay of the online ingest over ``n_batches`` arrival
    waves (vec_id % n_batches — deterministic arrival order), on the
    exact code path the streaming sink executes.  Returns the frozen
    arrival-time decision table (vec_id, batch, cell) for every
    vector — what an index audit reads ("which cell did vector X land
    in, and when?").  Oracle-gated (plans/llm_ann_gates.py:
    online_kmeans_assignments)."""
    state: DataFrame | None = None
    outs: list[DataFrame] = []
    for b in range(n_batches):
        batch = emb.filter(F.col("vec_id") % n_batches == b)
        assignments, state = _ingest_batch(state, batch, k, vec_col)
        outs.append(
            assignments.select(
                "vec_id", F.lit(b).cast("int").alias("batch"), "cell"
            )
        )
        # Truncate lineage per wave: the state plan otherwise nests
        # every prior wave's assignment join (the kmeans_lloyd
        # localCheckpoint lesson).  LAZY: the next wave's isEmpty()
        # materializes it (one action per wave instead of three), and
        # the LAST wave's state — which nothing consumes here — never
        # computes at all.
        state = state.localCheckpoint(eager=False)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def online_kmeans_sink(state_dir: str, k: int = 8, vec_col: str = "embedding"):
    """foreachBatch sink maintaining the live centroid state and the
    append-only assignment log; use with
    ``stream.writeStream.foreachBatch(online_kmeans_sink(...))``.
    Read the live index with ``aggregates.read_state(spark,
    state_dir)`` (feeds ``_ivf_from_centroid_table`` as-is) and the
    log with ``read_assignment_log``.  Log partitions are overwritten
    whole on replay; a reader racing a crash-replay can observe the
    torn partition until the checkpoint redelivers the batch — the
    STATE keeps the committed-only snapshot guarantee, the log is
    eventually-exact (acceptable for an audit table; promote to the
    snapshot discipline if readers need torn-free)."""

    def sink(bdf: DataFrame, batch_id: int) -> None:
        spark = bdf.sparkSession
        state = read_state(spark, state_dir, below=batch_id)
        assignments, new_state = _ingest_batch(
            state, bdf.select("vec_id", vec_col), k, vec_col
        )
        # Log partition FIRST (it reads only this batch + the state
        # the snapshot prune has not touched yet), then the state
        # snapshot — each write is the materialization barrier for
        # its own lineage. A replayed batch overwrites its own
        # batch={id} partition with identical rows and republishes
        # the identical state version: exactly-once for both tables.
        assignments.select("vec_id", "cell").write.mode("overwrite").parquet(
            os.path.join(state_dir, ASSIGN_SUBDIR, f"batch={batch_id}")
        )
        publish_snapshot(new_state, state_dir, batch_id)

    return sink
