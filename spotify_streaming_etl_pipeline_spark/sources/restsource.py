"""The REST enrichment on executors: ``enrich_partitions``, the
engine's one executor-side enrichment path, and a Spark 4 Python
streaming data source over the same fetch,
``spark.readStream.format("rest_enrichment")``.

Where ``sources/enrichment.py`` offers the driver-side loop, this runs
the SAME batch/retry/dead-letter fetch loop (`fetch_in_batches`)
inside Spark tasks:

- ``enrich_partitions`` spreads the URI set over the session's default
  parallelism and fetches each Arrow batch of it in one ``mapInArrow``
  call, so an arbitrarily large URI set never exists as a driver-side
  Python object; the fetch is a planned, partition-scheduled stage
  like any other, with no data-source registration or staging file;
- successes and dead letters come back in ONE frame
  (``error_reason IS NULL`` splits them), so the caller lands both
  sides with ordinary filters instead of wiring two code paths.

The stream reader takes its feed inline, as options: ``uris`` (a JSON
list), ``fetch``, ``entity``, ``uris_per_batch``, ``batch_size``,
``retry_limit``.

The ``fetch`` callable must be importable on executors, so it is named
by a ``"module:attr"`` string (data-source options are strings by API
contract).  If the resolved attribute is marked with
``__rest_factory__ = True`` it is called once per fetch (one Arrow
batch, or one stream read) to produce the real fetch callable — that
lets tests and credentialed clients close over state that cannot be
pickled.

At 100 TB scale mind the API's global rate limit: every running task
fetches at once, so cap the concurrent tasks, or wrap ``fetch`` in a
token bucket.
"""

from __future__ import annotations

import importlib
import json
from collections.abc import Iterator
from functools import partial

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from .enrichment import BATCH_SIZE, fetch_in_batches

_ROW_FIELDS = ("uri", "raw_data", "error_reason")
_ROW_SCHEMA = ", ".join(f"{name} string" for name in _ROW_FIELDS)


def enrich_partitions(uris: DataFrame, fetch: str, entity: str) -> DataFrame:
    """Executor-side enrichment of a URI set of any size (``uris``: a
    frame of distinct values in its ``uri`` column) with the
    ``"module:attr"`` fetcher ``fetch``: the set is spread round-robin
    over ``defaultParallelism`` tasks, and each Arrow batch of a task
    (at most ``spark.sql.execution.arrow.maxRecordsPerBatch`` URIs) is
    one fetch.  The URI set rides executor to executor — no
    driver-side list at any size.  Returns ``(uri, raw_data,
    error_reason)``: ``error_reason IS NULL`` rows are envelopes, the
    rest dead letters."""
    n_tasks = uris.sparkSession.sparkContext.defaultParallelism
    return (
        uris.select("uri")
        .repartition(n_tasks)
        .mapInArrow(
            partial(_fetch_batches, {"fetch": fetch, "entity": entity}), _ROW_SCHEMA
        )
    )


def _fetch_batches(
    options: dict, batches: Iterator[pa.RecordBatch]
) -> Iterator[pa.RecordBatch]:
    """One fetch per Arrow batch of URIs, as ``_ROW_FIELDS`` rows."""
    for batch in batches:
        uris = sorted({u for u in batch.column(0).to_pylist() if u is not None})
        rows = list(_fetched_rows(uris, options))
        cols = [[r[i] for r in rows] for i in range(len(_ROW_FIELDS))]
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, pa.string()) for c in cols], names=list(_ROW_FIELDS)
        )


def _resolve_fetch(path: str):
    mod_name, attr = path.split(":")
    obj = getattr(importlib.import_module(mod_name), attr)
    if getattr(obj, "__rest_factory__", False):
        obj = obj()
    return obj


def _fetched_rows(uris: list[str], options) -> Iterator[tuple]:
    """``(uri, raw_data, error_reason)`` rows of one fetch over ``uris``
    with the ``fetch``/``entity``/``batch_size``/``retry_limit``
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


class RestEnrichmentDataSource(DataSource):
    """``spark.dataSource.register(RestEnrichmentDataSource)`` then
    ``spark.readStream.format("rest_enrichment").options(...).load()``."""

    def __init__(self, options: dict):
        if "fetch" not in options:
            raise ValueError("rest_enrichment needs a 'fetch' option (\"module:attr\")")
        super().__init__(options)

    @classmethod
    def name(cls) -> str:
        return "rest_enrichment"

    def schema(self) -> str:
        return _ROW_SCHEMA

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
