"""The REST enrichment on executors (sources/restsource.py):
``enrich_partitions`` spreads a URI frame over the default parallelism
and returns successes and dead letters in one frame, fetch callables
resolve through factories, and the stream reader drains its inline
feed."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from spotify_streaming_etl_pipeline_spark.sources.restsource import (
    RestEnrichmentDataSource,
    enrich_partitions,
)
from tests.fixtures import frame

# importable on executors (local mode shares the interpreter; on a
# real cluster this module ships with the package)
TRUTH = {
    f"uri:{i}": {"uri": f"uri:{i}", "name": f"artist {i}"} for i in range(7)
}


def fake_fetch(batch):
    # uri:3 is unknown -> the API returns null for it (quarantine path)
    return {"artists": [TRUTH.get(u) for u in batch]}


def make_fetch():
    return fake_fetch


make_fetch.__rest_factory__ = True


def _enrich(spark, uris, fetch_path):
    return enrich_partitions(
        frame(spark, [(u,) for u in uris], "uri string"), fetch_path, "artists"
    )


def test_rest_source_reads_successes_and_dead_letters(spark):
    uris = [f"uri:{i}" for i in range(5)] + ["uri:99"]  # 99 -> null
    df = _enrich(spark, uris, "tests.test_restsource:fake_fetch")
    assert df.columns == ["uri", "raw_data", "error_reason"]
    rows = {r.uri: r for r in df.collect()}
    assert set(rows) == set(uris)
    ok = [r for r in rows.values() if r.error_reason is None]
    dead = [r for r in rows.values() if r.error_reason is not None]
    assert len(ok) == 5 and len(dead) == 1
    assert dead[0].uri == "uri:99"
    assert dead[0].error_reason == "API returned null"
    assert dead[0].raw_data is None
    payload = json.loads(rows["uri:2"].raw_data)
    assert payload["name"] == "artist 2"


def test_rest_source_partitions_the_uri_list(spark):
    uris = [f"uri:{i}" for i in range(6)]
    df = _enrich(spark, uris, "tests.test_restsource:fake_fetch")
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert df.count() == 6


def test_rest_source_resolves_fetch_factories(spark):
    df = _enrich(spark, ["uri:0", "uri:1"], "tests.test_restsource:make_fetch")
    assert df.filter(F.col("error_reason").isNull()).count() == 2


def test_rest_source_empty_uri_set_reads_no_rows(spark):
    for uris in ([], [None]):  # a null URI is never fetched
        assert _enrich(spark, uris, "tests.test_restsource:fake_fetch").count() == 0


def test_rest_source_streams_the_feed_incrementally(spark, tmp_path):
    """readStream on the REST source drains the URI feed across
    microbatches (offset = feed index) and lands both successes and
    dead letters; a second availableNow run from the same checkpoint
    re-reads nothing."""
    uris = [f"uri:{i}" for i in range(5)] + ["uri:99"]
    spark.dataSource.register(RestEnrichmentDataSource)

    import time

    def drain(expect):
        stream = (
            spark.readStream.format("rest_enrichment")
            .option("uris", json.dumps(uris))
            .option("entity", "artists")
            .option("fetch", "tests.test_restsource:fake_fetch")
            .option("uris_per_batch", "2")
            .load()
        )
        rows: list = []

        def sink(bdf, _bid):
            rows.extend(bdf.collect())

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                if len(rows) >= expect:
                    time.sleep(2)  # settle pass so an over-read would show
                    break
                time.sleep(0.5)
        finally:
            q.stop()
        return rows

    got = drain(len(uris))
    assert sorted(r.uri for r in got) == sorted(uris)
    assert [r.uri for r in got if r.error_reason is not None] == ["uri:99"]
    # restart from the same checkpoint: feed exhausted, nothing re-read
    got2 = drain(0)
    assert len(got2) == 0


FETCHER_REBINDING_ON_IMPORT = '''
from spotify_streaming_etl_pipeline_spark.sources import restsource

CALLS = []
_inner = restsource.fetch_in_batches


def _recording(uris, fetch, entity_type, **kw):
    CALLS.append(list(uris))
    return _inner(uris, fetch, entity_type, **kw)


restsource.fetch_in_batches = _recording


def fetch(batch):
    return {"artists": [{"uri": u} for u in batch]}
'''


def test_fetch_is_looked_up_after_the_fetcher_resolves(tmp_path, monkeypatch):
    """A fetcher whose import rebinds ``restsource.fetch_in_batches``
    (as a worker-side fetch log does) must see the very call that
    imported it: ``_fetched_rows`` resolves the fetcher first and looks
    the name up after."""
    import importlib
    import sys

    from spotify_streaming_etl_pipeline_spark.sources import restsource
    from spotify_streaming_etl_pipeline_spark.sources.restsource import _fetched_rows

    name = "rebinding_fetcher"
    (tmp_path / f"{name}.py").write_text(FETCHER_REBINDING_ON_IMPORT)
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.delitem(sys.modules, name, raising=False)
    # restored at teardown: the module rebinds it
    monkeypatch.setattr(restsource, "fetch_in_batches", restsource.fetch_in_batches)

    rows = list(_fetched_rows(["uri:1", "uri:2"], {"fetch": f"{name}:fetch"}))
    assert [r[0] for r in rows] == ["uri:1", "uri:2"]
    assert importlib.import_module(name).CALLS == [["uri:1", "uri:2"]]
