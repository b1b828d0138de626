"""Online k-means / live-IVF-index units (streaming/embeddings.py):
batch/stream parity, replay idempotence, frozen-at-arrival semantics,
and the composition with IVF search over the live centroid state."""

from __future__ import annotations

from pyspark.sql import functions as F

from spotify_streaming_etl_pipeline_spark.streaming.aggregates import read_state
from spotify_streaming_etl_pipeline_spark.streaming.embeddings import (
    online_kmeans_decisions,
    online_kmeans_sink,
    read_assignment_log,
)
from tests.fixtures import frame

SCHEMA = "vec_id long, embedding array<float>"


def _planted(spark, n_per=12):
    """3 planted clusters on distinct axes; ids laid out so vec_id % 3
    == planted cluster (the shared hash-seed CRT trick) AND the
    arrival waves (vec_id % 3 in the replay) slice across clusters."""
    rows = []
    for c in range(3):
        base = [0.0] * 64
        for i in range(n_per):
            v = list(base)
            v[c] = 30.0 + (i % 4) * 0.01
            rows.append((c + 3 * i, [float(x) for x in v]))
    return frame(spark, rows, SCHEMA)


def _canon(df):
    return sorted(map(tuple, df.collect()))


def test_sink_matches_batch_replay(spark, tmp_path):
    """Streaming the waves through the sink must produce exactly the
    decision table the batch replay computes on the same splits."""
    emb = _planted(spark)
    state_dir = str(tmp_path / "state")
    sink = online_kmeans_sink(state_dir, k=3)
    for b in range(3):
        sink(emb.filter(F.col("vec_id") % 3 == b), b)
    log = read_assignment_log(spark, state_dir)
    replay = online_kmeans_decisions(emb, k=3, n_batches=3)
    assert _canon(log) == _canon(replay)


def test_sink_replay_is_idempotent(spark, tmp_path):
    emb = _planted(spark)
    state_dir = str(tmp_path / "state")
    sink = online_kmeans_sink(state_dir, k=3)
    for b in range(3):
        sink(emb.filter(F.col("vec_id") % 3 == b), b)
    state_once = _canon(read_state(spark, state_dir))
    log_once = _canon(read_assignment_log(spark, state_dir))
    sink(emb.filter(F.col("vec_id") % 3 == 2), 2)  # crash-replay wave 2
    assert _canon(read_state(spark, state_dir)) == state_once
    assert _canon(read_assignment_log(spark, state_dir)) == log_once


def test_assignments_frozen_and_clusters_recovered(spark, tmp_path):
    """With the seed aligned to the planted clusters, every vector
    lands in its planted cell at arrival and the log never rewrites
    history; the final state's counts sum to the corpus size."""
    emb = _planted(spark)
    state_dir = str(tmp_path / "state")
    sink = online_kmeans_sink(state_dir, k=3)
    seen = {}
    for b in range(3):
        sink(emb.filter(F.col("vec_id") % 3 == b), b)
        log = read_assignment_log(spark, state_dir)
        now = {(r["vec_id"], r["batch"]): r["cell"] for r in log.collect()}
        for key, cell in seen.items():
            assert now[key] == cell  # history frozen
        seen = now
    cells = {r["vec_id"]: r["cell"] for r in log.collect()}
    for c in range(3):
        labels = {cells[c + 3 * i] for i in range(12)}
        assert len(labels) == 1, (c, labels)
    state = read_state(spark, state_dir)
    n_per_cell = {
        r["cell"]: r["n"]
        for r in state.filter(F.col("dim") == 0).collect()
    }
    assert sum(n_per_cell.values()) == 36


def test_empty_first_batch_does_not_brick_the_sink(spark, tmp_path):
    """An empty batch 0 publishes a zero-cell state; the next batch
    must RESEED from its own vectors rather than join against zero
    centroids and silently drop everything forever."""
    emb = _planted(spark)
    state_dir = str(tmp_path / "state")
    sink = online_kmeans_sink(state_dir, k=3)
    sink(emb.filter(F.lit(False)), 0)  # empty first trigger
    assert read_state(spark, state_dir).count() == 0
    sink(emb, 1)  # full corpus arrives next
    log = read_assignment_log(spark, state_dir)
    assert log.filter(F.col("batch") == 1).count() == 36
    state = read_state(spark, state_dir)
    assert state.filter(F.col("dim") == 0).count() == 3  # 3 live cells


def test_live_state_feeds_ivf_search(spark, tmp_path):
    """The maintained centroid state IS an IVF index: searching it
    with _ivf_from_centroid_table returns the planted cluster-mates
    of a query vector."""
    from spotify_streaming_etl_pipeline_spark.llm.similarity import (
        _ivf_from_centroid_table,
    )

    emb = _planted(spark)
    state_dir = str(tmp_path / "state")
    sink = online_kmeans_sink(state_dir, k=3)
    for b in range(3):
        sink(emb.filter(F.col("vec_id") % 3 == b), b)
    cents = read_state(spark, state_dir).select("cell", "dim", "c")
    hits = _ivf_from_centroid_table(
        emb, cents, query_ids=[0], k=5, n_probe=1, vec_col="embedding"
    )
    got = {r["vec_id"] for r in hits.collect()}
    assert got and got <= {3 * i for i in range(12)}  # cluster-0 mates only
