"""The REST enrichment exposed as a Spark 4 Python Data Source
(sources/restsource.py): a parquet-staged URI feed fetched one
partition per row group, success + dead-letter rows in one frame,
factory-resolved fetch callables, and the stream reader's inline
feed."""

from __future__ import annotations

import json

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spotify_streaming_etl_pipeline_spark.sources.restsource import (
    RestEnrichmentDataSource,
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


def _stage(tmp_path, uris, per_row_group=2):
    """``uris`` as one parquet file, ``per_row_group`` URIs per row
    group (the reader plans one partition per row group)."""
    path = str(tmp_path / "uris.parquet")
    pq.write_table(
        pa.table({"uri": pa.array(uris, pa.string())}), path, row_group_size=per_row_group
    )
    return path


def _read(spark, uris_path, fetch_path):
    spark.dataSource.register(RestEnrichmentDataSource)
    return (
        spark.read.format("rest_enrichment")
        .option("uris_path", uris_path)
        .option("entity", "artists")
        .option("fetch", fetch_path)
        .option("batch_size", "2")
        .load()
    )


def test_rest_source_reads_successes_and_dead_letters(spark, tmp_path):
    uris = [f"uri:{i}" for i in range(5)] + ["uri:99"]  # 99 -> null
    df = _read(spark, _stage(tmp_path, uris), "tests.test_restsource:fake_fetch")
    rows = {r.uri: r for r in df.collect()}
    assert set(rows) == set(uris)
    ok = [r for r in rows.values() if r.error_reason is None]
    dead = [r for r in rows.values() if r.error_reason is not None]
    assert len(ok) == 5 and len(dead) == 1
    assert dead[0].uri == "uri:99"
    assert dead[0].error_reason == "API returned null"
    payload = json.loads(rows["uri:2"].raw_data)
    assert payload["name"] == "artist 2"


def test_rest_source_partitions_the_uri_list(spark, tmp_path):
    uris = [f"uri:{i}" for i in range(6)]
    df = _read(spark, _stage(tmp_path, uris), "tests.test_restsource:fake_fetch")
    assert df.rdd.getNumPartitions() == 3  # one per row group of the one file
    assert df.count() == 6


def test_rest_source_resolves_fetch_factories(spark, tmp_path):
    uris = ["uri:0", "uri:1"]
    df = _read(spark, _stage(tmp_path, uris), "tests.test_restsource:make_fetch")
    assert df.filter(F.col("error_reason").isNull()).count() == 2


def test_rest_source_reads_uris_from_parquet_path(spark, tmp_path):
    """uris_path as a directory of Spark-written files: partitions are
    planned from footer metadata (one per row group — the staging layout
    sets fetch parallelism, and no row group is ever read twice), the
    scan output matches the single-file feed exactly, and an empty feed
    (a file with no row group) reads as no rows."""
    uris = [f"uri:{i}" for i in range(6)] + ["uri:99"]
    staged = str(tmp_path / "uris")
    frame(spark, [(u,) for u in uris], "uri string").repartition(3).write.parquet(
        staged
    )
    df = _read(spark, staged, "tests.test_restsource:fake_fetch")
    assert df.rdd.getNumPartitions() == 3  # one per staged row group
    rows = {r.uri: r for r in df.collect()}
    single = {
        r.uri: r
        for r in _read(
            spark, _stage(tmp_path, uris), "tests.test_restsource:fake_fetch"
        ).collect()
    }
    assert set(rows) == set(single) == set(uris)
    for u in uris:
        assert (rows[u].raw_data, rows[u].error_reason) == (
            single[u].raw_data,
            single[u].error_reason,
        )
    empty = str(tmp_path / "no_uris")
    frame(spark, [], "uri string").write.parquet(empty)
    assert _read(spark, empty, "tests.test_restsource:fake_fetch").count() == 0


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
