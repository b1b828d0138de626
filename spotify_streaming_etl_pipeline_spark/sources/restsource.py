"""The REST enrichment as a first-class Spark data source (Spark 4
Python Data Source API): ``spark.read.format("rest_enrichment")``,
and the engine's one executor-side enrichment path on top of it,
``enrich_partitions``.

Where ``sources/enrichment.py`` offers the driver-side loop, this
registers the SAME batch/retry/dead-letter fetch loop
(`fetch_in_batches`) as a planned SOURCE:

- the URI feed is a parquet file/dir with a URI column, planned one
  input partition per row group from parquet FOOTER metadata alone;
  each executor reads its own row group once with pyarrow, so an
  arbitrarily large URI set never exists as a driver-side Python
  object.  Fetch parallelism follows the staging file layout
  (``enrich_partitions`` caps each staged file at 200 URIs);
  it is cluster-scheduled like any scan, shows up in the UI as a
  scan, and composes with every downstream operator;
- successes and dead letters come back in ONE frame
  (``error_reason IS NULL`` splits them), so the caller lands both
  sides with ordinary filters instead of wiring two code paths.

Batch reader options: ``uris_path`` (required), ``fetch`` (required),
``entity``, ``uri_col`` (default ``uri``), ``batch_size``,
``retry_limit``.  The stream reader takes its feed inline instead:
``uris`` (a JSON list), ``fetch``, ``entity``, ``uris_per_batch``,
``batch_size``, ``retry_limit``.

The ``fetch`` callable must be importable on executors, so it is
passed as a ``"module:attr"`` string option (options are strings by
API contract).  If the resolved attribute is marked with
``__rest_factory__ = True`` it is called once per partition to
produce the real fetch callable — that lets tests and credentialed
clients close over state that cannot be pickled into an option.

At 100 TB scale mind the API's global rate limit: cap the staged row
groups × concurrent tasks, or wrap ``fetch`` in a token bucket.
"""

from __future__ import annotations

import importlib
import json
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from .enrichment import BATCH_SIZE, fetch_in_batches


def enrich_partitions(
    uris: DataFrame, fetch: str, entity: str, staging_dir: str
) -> DataFrame:
    """Executor-side enrichment of a URI set of any size (``uris``: a
    frame of distinct values in its ``uri`` column): stage the column
    as parquet under ``staging_dir``, at most 200 URIs per file (one
    row group, so one fetch partition, each), then scan it back
    through ``rest_enrichment`` with the ``"module:attr"`` fetcher
    ``fetch``.  Staging is the write alone: the file cap sizes the
    fetch partitions without counting or reshuffling the set.  The URI
    set rides executor-to-executor — no driver-side list at any size.
    Returns ``(uri, raw_data, error_reason)``: ``error_reason IS
    NULL`` rows are envelopes, the rest dead letters.  The session must
    have ``RestEnrichmentDataSource`` registered (``pipeline.run``
    registers it once per run).  The frame reads ``staging_dir``; the
    caller removes it once the frame is no longer needed."""
    spark = uris.sparkSession
    uris.select("uri").write.mode("overwrite").option(
        "maxRecordsPerFile", 200
    ).parquet(staging_dir)
    return (
        spark.read.format("rest_enrichment")
        .option("uris_path", staging_dir)
        .option("entity", entity)
        .option("fetch", fetch)
        .load()
    )


class UriFileChunk(InputPartition):
    """One parquet ROW GROUP: (path, row_group).  Planned from footer
    metadata only; the rows are read executor-side, each row group
    read exactly once.  (A row-RANGE chunking was rejected: parquet
    cannot seek to a row inside a row group, so k sub-chunks of one
    group would each decode the whole group — k-fold read
    amplification on exactly the large feeds the path exists for.
    Fetch parallelism therefore follows the STAGING LAYOUT — writers
    control it by capping the URIs per staged file, as
    ``enrich_partitions`` does.)"""

    def __init__(self, path: str, row_group: int):
        self.path, self.row_group = path, row_group


def _resolve_fetch(path: str):
    mod_name, attr = path.split(":")
    obj = getattr(importlib.import_module(mod_name), attr)
    if getattr(obj, "__rest_factory__", False):
        obj = obj()
    return obj


def _fetched_rows(uris: list[str], options) -> Iterator[tuple]:
    """``(uri, raw_data, error_reason)`` rows of one fetch over ``uris``
    with the source's ``fetch``/``entity``/``batch_size``/``retry_limit``
    options."""
    # Resolve first: importing the fetcher's module may rebind this
    # module's ``fetch_in_batches`` (a wrapper that logs fetches), and
    # the call below must look the name up after that.
    fetch = _resolve_fetch(options["fetch"])
    result = fetch_in_batches(
        uris,
        fetch,
        options.get("entity", "artists"),
        batch_size=int(options.get("batch_size", str(BATCH_SIZE))),
        retry_limit=int(options.get("retry_limit", "2")),
    )
    for uri, payload in result.records:
        yield (uri, json.dumps(payload, sort_keys=True), None)
    for uri, _etype, reason in result.failures:
        yield (uri, None, reason)


class RestEnrichmentReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options
        self.uris_path = options["uris_path"]
        self.uri_col = options.get("uri_col", "uri")

    def partitions(self) -> list[InputPartition]:
        """One chunk per parquet row group, planned from footers alone
        — the driver never holds the URI values and each executor
        reads its own row group exactly once."""
        import glob
        import os

        import pyarrow.parquet as pq

        if os.path.isdir(self.uris_path):
            files = sorted(glob.glob(os.path.join(self.uris_path, "*.parquet")))
        else:
            files = [self.uris_path]
        return [
            UriFileChunk(f, g)
            for f in files
            for g in range(pq.ParquetFile(f).metadata.num_row_groups)
        ]

    def read(self, partition: UriFileChunk | None) -> Iterator[tuple]:
        import pyarrow.parquet as pq

        if partition is None:
            # A feed with no row group plans no chunk, and Spark then
            # reads one partition of None.
            return iter(())
        tbl = pq.ParquetFile(partition.path).read_row_group(
            partition.row_group, columns=[self.uri_col]
        )
        uris = sorted({u for u in tbl.column(0).to_pylist() if u is not None})
        return _fetched_rows(uris, self.options)


class RestEnrichmentDataSource(DataSource):
    """``spark.dataSource.register(RestEnrichmentDataSource)`` then
    ``spark.read.format("rest_enrichment").options(...).load()``."""

    def __init__(self, options: dict):
        if "fetch" not in options:
            raise ValueError("rest_enrichment needs a 'fetch' option (\"module:attr\")")
        super().__init__(options)

    @classmethod
    def name(cls) -> str:
        return "rest_enrichment"

    def schema(self) -> str:
        return "uri string, raw_data string, error_reason string"

    def reader(self, schema) -> RestEnrichmentReader:
        return RestEnrichmentReader(self.options)

    def simpleStreamReader(self, schema) -> "RestEnrichmentStreamReader":
        return RestEnrichmentStreamReader(self.options)


# ---------------------------------------------------------------------------
# Streaming form: poll the URI feed incrementally with replayable
# offsets (Spark 4 SimpleDataSourceStreamReader)
# ---------------------------------------------------------------------------


class RestEnrichmentStreamReader(SimpleDataSourceStreamReader):
    """Offsets are indexes into the (ordered) URI feed: each trigger
    fetches the next ``uris_per_batch`` URIs; ``readBetweenOffsets``
    re-fetches a committed range verbatim on recovery, which is what
    makes the source replayable — the fetch MUST be deterministic for
    a given URI (same contract the oracle gates elsewhere).  This is
    the incremental-enrichment half of the reference's extractor (new
    URIs stream in, enrichment keeps up) with checkpointed progress
    instead of a processed-flag table."""

    def __init__(self, options: dict):
        self.options = options
        self.uris = json.loads(options["uris"])
        self.per_batch = int(options.get("uris_per_batch", "100"))

    def initialOffset(self) -> dict:
        return {"index": 0}

    def _rows(self, lo: int, hi: int) -> list[tuple]:
        # a list, not a generator: the simple-reader prefetch cache
        # pickles the rows alongside the offset (generators don't
        # pickle; list iterators do)
        return list(_fetched_rows(self.uris[lo:hi], self.options))

    def read(self, start: dict):
        lo = start["index"]
        hi = min(lo + self.per_batch, len(self.uris))
        return iter(self._rows(lo, hi)), {"index": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(start["index"], end["index"]))
