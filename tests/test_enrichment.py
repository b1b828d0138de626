"""API enrichment source + dead-letter semantics (S3/S4/S7), mirroring
the reference's own truth tables
(reference tests/test_data_extraction/test_spotify_extractor.py:53-175)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark import TaskContext

from spotify_streaming_etl_pipeline_spark.sources.enrichment import (
    ApiError,
    enrich_uris,
    fetch_in_batches,
)
from spotify_streaming_etl_pipeline_spark.sources.restsource import enrich_partitions
from tests.fixtures import frame


def _ok_envelope(batch):
    return {"tracks": [{"uri": uri, "data": "valid_data"} for uri in batch]}


def test_success_path_stages_all_items():
    batch = ["uri1", "uri2", "uri3", "uri4"]
    result = fetch_in_batches(batch, _ok_envelope, "track")
    assert [uri for uri, _ in result.records] == batch
    assert result.failures == []


def test_null_items_go_to_dead_letter():
    def fetch(batch):
        return {"tracks": [{"uri": u, "d": 1} if u != "uri2" else None for u in batch]}

    result = fetch_in_batches(["uri1", "uri2", "uri3"], fetch, "track")
    assert [uri for uri, _ in result.records] == ["uri1", "uri3"]
    assert result.failures == [("uri2", "track", "API returned null")]


def test_rate_limit_sleeps_retry_after_then_succeeds():
    calls, sleeps = [], []

    def fetch(batch):
        calls.append(list(batch))
        if len(calls) == 1:
            raise ApiError(429, retry_after=60)
        return _ok_envelope(batch)

    batch = ["uri1", "uri2", "uri3", "uri4"]
    result = fetch_in_batches(batch, fetch, "track", sleeper=sleeps.append)
    assert sleeps == [60]
    assert len(calls) == 2
    assert [uri for uri, _ in result.records] == batch
    assert result.failures == []


def test_rate_limit_default_wait_is_60():
    sleeps = []

    def fetch(batch):
        if not sleeps:
            raise ApiError(429, retry_after=None)
        return _ok_envelope(batch)

    fetch_in_batches(["u1"], fetch, "track", sleeper=sleeps.append)
    assert sleeps == [60]


def test_exhausted_retries_quarantine_whole_batch():
    sleeps = []

    def fetch(batch):
        raise ApiError(429, retry_after=5)

    batch = ["uri1", "uri2", "uri3", "uri4"]
    result = fetch_in_batches(batch, fetch, "track", sleeper=sleeps.append)
    assert result.records == []
    assert result.failures == [(u, "track", "Failed batch") for u in batch]
    assert sleeps == [5, 5]  # retry_limit = 2 attempts


@pytest.mark.parametrize(
    "batch, expected_valid, expected_invalid",
    [
        (["valid_uri_a", "valid_uri_b"], 2, 0),
        (["valid_uri_a", "invalid_uri"], 1, 1),
        (["invalid_uri", "invalid_uri2"], 0, 2),
    ],
)
def test_http_400_splits_batch_per_item(batch, expected_valid, expected_invalid):
    def fetch(uris):
        if len(uris) > 1:
            raise ApiError(400)
        if uris[0].startswith("invalid"):
            raise ApiError(400)
        return {"tracks": [{"uri": uris[0], "d": 1}]}

    result = fetch_in_batches(batch, fetch, "fake_item_type")
    assert len(result.records) == expected_valid
    assert len(result.failures) == expected_invalid
    assert all(reason == "Invalid URI" for _, _, reason in result.failures)
    assert all(etype == "fake_item_type" for _, etype, _ in result.failures)


def test_other_errors_propagate():
    def fetch(batch):
        raise ApiError(401, msg="bad credentials")

    with pytest.raises(ApiError):
        fetch_in_batches(["u1"], fetch, "track")


def test_batching_respects_batch_size():
    sizes = []

    def fetch(batch):
        sizes.append(len(batch))
        return _ok_envelope(batch)

    uris = [f"u{i}" for i in range(120)]
    fetch_in_batches(uris, fetch, "track", batch_size=50)
    assert sizes == [50, 50, 20]


def test_enrich_uris_spark_roundtrip(spark):
    new = frame(spark, [("uri2",), ("uri1",), ("uri1",), (None,)], "uri string")
    staged, failed = enrich_uris(spark, new, _ok_envelope, "track", sleeper=lambda s: None)
    rows = {r["uri"] for r in staged.collect()}
    assert rows == {"uri1", "uri2"}  # distinct, null dropped
    assert staged.columns == ["uri", "raw_data", "fetched_at"]
    assert '"uri": "uri1"' in staged.filter("uri = 'uri1'").first()["raw_data"]
    assert failed.count() == 0


def fetch_flagging_bad(batch):
    # module-level: executors import it as "tests.test_enrichment:..."
    return {
        "tracks": [None if u.endswith("bad") else {"uri": u, "d": 1} for u in batch]
    }


def fetch_logging_flagging_bad(batch):
    # Logs each call, with the task that makes it, under the dir the
    # calling job names in its "test.fetch_log" local property.
    ctx = TaskContext.get()
    log = os.path.join(ctx.getLocalProperty("test.fetch_log"), f"{os.getpid()}.jsonl")
    with open(log, "a") as f:
        f.write(json.dumps({"task": ctx.partitionId(), "uris": batch}) + "\n")
    return fetch_flagging_bad(batch)


def test_enrich_partitions_distributed_split(spark, tmp_path):
    """The executor-side path: a URI set held in one partition is
    fetched by ``defaultParallelism`` tasks, each URI exactly once, and
    one pass yields both the envelopes and the dead letters."""
    uris = [f"u{i}" for i in range(450)] + ["u3bad"]
    new = frame(spark, [(u,) for u in uris], "uri string").coalesce(1)
    out = enrich_partitions(
        new, "tests.test_enrichment:fetch_logging_flagging_bad", "track"
    )
    assert out.columns == ["uri", "raw_data", "error_reason"]
    sc = spark.sparkContext
    sc.setLocalProperty("test.fetch_log", str(tmp_path))
    try:
        rows = out.collect()
    finally:
        sc.setLocalProperty("test.fetch_log", None)
    calls = [
        json.loads(line) for log in tmp_path.glob("*.jsonl") for line in log.open()
    ]
    assert {c["task"] for c in calls} == set(range(sc.defaultParallelism))
    assert sorted(u for c in calls for u in c["uris"]) == sorted(uris)
    ok = [r["uri"] for r in rows if r["error_reason"] is None]
    bad = [(r["uri"], r["error_reason"]) for r in rows if r["error_reason"] is not None]
    assert sorted(ok) == sorted(uris[:-1])
    assert bad == [("u3bad", "API returned null")]


def test_per_item_retry_honors_rate_limit(spark):
    """Review finding r6: a 429 during per-item (post-400-split)
    fetches must sleep and retry like the batch path — and quarantine
    on a spent budget — not abort the whole enrichment run."""
    from spotify_streaming_etl_pipeline_spark.sources.enrichment import (
        ApiError,
        fetch_in_batches,
    )

    calls = {"n": 0}
    sleeps = []

    def fetch(batch):
        calls["n"] += 1
        if len(batch) > 1:
            raise ApiError(400)  # force the per-item split
        uri = batch[0]
        if uri == "u1" and calls["n"] < 4:
            raise ApiError(429, retry_after=7)
        if uri == "u2":
            raise ApiError(429, retry_after=1)  # never recovers
        return {"items": [{"uri": uri, "name": uri.upper()}]}

    out = fetch_in_batches(
        ["u1", "u2"], fetch, "artists", batch_size=2,
        sleeper=sleeps.append,
    )
    assert [u for u, _ in out.records] == ["u1"]
    assert 7 in sleeps  # Retry-After honored
    assert ("u2", "artists", "Rate limited") in out.failures
