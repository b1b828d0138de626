"""REST enrichment source with batching, retry, and dead-letter
quarantine (SURVEY §2.1 S3/S4/S7).

Reproduces the reference's API-fetch semantics (reference
scripts/connectors/spotify_client.py:22-91 and
scripts/etl/extractor.py:96-225,254-301) as an engine-agnostic,
fully mockable fetch loop plus a thin Spark integration:

- batches of ``batch_size`` (reference: 50, the Spotify API cap);
- HTTP 429: sleep ``Retry-After`` (default 60 s) and retry the batch,
  up to ``retry_limit`` attempts; exhaustion quarantines the whole
  batch to the dead-letter set with reason "Failed batch";
- HTTP 400 on a batch: retry items individually — per-item 400 goes to
  the dead-letter set with reason "Invalid URI", other errors raise;
- items the API returns as null are quarantined with reason
  "API returned null";
- any other error propagates (credentials/network problems must not be
  silently swallowed).

The dead-letter set maps to a ``failed_uris`` table with a primary key
on uri (reference docs/sql/etl_internal_ddl.sql:3-11); use
``operators.writer.idempotent_append`` with ``keys=["uri"]`` to land it.

Scale split: ``enrich_uris`` is the reference-shaped driver-side path —
correct when the *new-entity* set is dim-sized (the normal incremental
case; the reference also materializes it as a Python list).  Larger
sets go through ``sources.restsource.enrich_partitions``, the one
executor-side path: the same loop runs once per Arrow batch inside a
``mapInArrow`` stage, so the URI set never lands on the driver and
fetch parallelism scales with executors (mind the API's global rate
limit — cap the concurrent tasks or wrap ``fetch`` in a token
bucket).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..schemas import local_frame

BATCH_SIZE = 50
RETRY_LIMIT = 2

FAILED_URI_SCHEMA = StructType(
    [
        StructField("uri", StringType(), False),
        StructField("entity_type", StringType(), False),
        StructField("error_reason", StringType(), False),
    ]
)

ENVELOPE_SCHEMA = StructType(
    [
        StructField("uri", StringType(), False),
        StructField("raw_data", StringType(), True),  # JSON envelope (S6)
    ]
)


class ApiError(Exception):
    """Transport-agnostic stand-in for spotipy.SpotifyException: carries
    the HTTP status and the 429 Retry-After header."""

    def __init__(self, http_status: int, retry_after: int | None = None, msg: str = ""):
        super().__init__(msg or f"HTTP {http_status}")
        self.http_status = http_status
        self.retry_after = retry_after


@dataclass
class FetchResult:
    """Outcome of a batched fetch: staged (uri, payload) records plus
    dead-letter rows (uri, entity_type, error_reason)."""

    records: list[tuple[str, dict]] = field(default_factory=list)
    failures: list[tuple[str, str, str]] = field(default_factory=list)


def fetch_in_batches(
    uris: list[str],
    fetch: Callable[[list[str]], dict],
    entity_type: str,
    *,
    batch_size: int = BATCH_SIZE,
    retry_limit: int = RETRY_LIMIT,
    sleeper: Callable[[float], None] = time.sleep,
) -> FetchResult:
    """The reference's batch loop (extractor.py:114-225), pure Python.

    ``fetch`` takes <= batch_size URIs and returns the API envelope
    ``{anything: [item dicts with 'uri' keys, possibly None]}``; for the
    per-item retry path it is called with a single-element list.
    """
    out = FetchResult()
    for start in range(0, len(uris), batch_size):
        batch = uris[start : start + batch_size]
        _process_batch(batch, fetch, entity_type, retry_limit, sleeper, out)
    return out


def _process_batch(
    batch: list[str],
    fetch: Callable[[list[str]], dict],
    entity_type: str,
    retry_limit: int,
    sleeper: Callable[[float], None],
    out: FetchResult,
) -> None:
    retries = 0
    while retries < retry_limit:
        try:
            envelope = fetch(batch)
        except ApiError as e:
            if e.http_status == 429:
                # Rate limited: honor Retry-After (default 60 s) and
                # retry the whole batch (extractor.py:196-203).
                sleeper(e.retry_after if e.retry_after is not None else 60)
                retries += 1
                continue
            if e.http_status == 400:
                # Bad batch: split into per-item retries
                # (extractor.py:205-211, 267-301).
                _retry_individually(
                    batch, fetch, entity_type, out,
                    retry_limit=retry_limit, sleeper=sleeper,
                )
                return
            raise  # auth/server errors must surface (extractor.py:213-215)
        data_key = next(iter(envelope))
        fetched = {
            item.get("uri"): item for item in envelope[data_key] if item is not None
        }
        # Null API items -> dead-letter (extractor.py:169-177).
        out.failures.extend(
            (uri, entity_type, "API returned null")
            for uri in batch
            if fetched.get(uri) is None
        )
        out.records.extend(
            (uri, item) for uri, item in fetched.items() if uri is not None
        )
        return
    # Retry budget exhausted: quarantine the whole batch
    # (extractor.py:217-225, _log_error_batch:254-265).
    out.failures.extend((uri, entity_type, "Failed batch") for uri in batch)


def _retry_individually(
    batch: list[str],
    fetch: Callable[[list[str]], dict],
    entity_type: str,
    out: FetchResult,
    retry_limit: int = 2,
    sleeper: Callable[[float], None] = time.sleep,
) -> None:
    for uri in batch:
        retries = 0
        envelope = None
        while True:
            try:
                envelope = fetch([uri])
                break
            except ApiError as e:
                if e.http_status == 429:
                    # Per-item fetching multiplies the request count, so
                    # mid-loop rate limits are LIKELY — honor Retry-After
                    # like the batch path instead of aborting the run and
                    # discarding everything accumulated so far; a spent
                    # budget quarantines the item, mirroring the batch
                    # path's exhaustion behavior.
                    if retries >= retry_limit:
                        out.failures.append(
                            (uri, entity_type, "Rate limited")
                        )
                        break
                    sleeper(e.retry_after if e.retry_after is not None else 60)
                    retries += 1
                    continue
                if e.http_status == 400:
                    out.failures.append((uri, entity_type, "Invalid URI"))
                    break
                raise
        if envelope is None:
            continue
        data_key = next(iter(envelope))
        items = [i for i in envelope[data_key] if i is not None]
        if items:
            out.records.append((uri, items[0]))
        else:
            out.failures.append((uri, entity_type, "API returned null"))


# --- Spark integration -------------------------------------------------------


def envelope_frame(spark: SparkSession, records: list[tuple[str, dict]]) -> DataFrame:
    """Staged ``(uri, payload)`` records as a ``(uri, raw_data)`` frame:
    each payload a sorted-key JSON string (S6), the rows a local
    relation (``schemas.local_frame``)."""
    return local_frame(
        spark,
        [(uri, json.dumps(payload, sort_keys=True)) for uri, payload in records],
        ENVELOPE_SCHEMA,
    )


def enrich_uris(
    spark: SparkSession,
    new_uris: DataFrame,
    fetch: Callable[[list[str]], dict],
    entity_type: str,
    *,
    uri_col: str = "uri",
    batch_size: int = BATCH_SIZE,
    retry_limit: int = RETRY_LIMIT,
    sleeper: Callable[[float], None] = time.sleep,
) -> tuple[DataFrame, DataFrame]:
    """Driver-side enrichment of a dim-sized new-URI set: returns
    (staged envelope DataFrame, dead-letter DataFrame). The envelope
    stores raw JSON strings (S6) with a fetched_at timestamp (F18)."""
    uris = [
        r[uri_col]
        for r in new_uris.select(uri_col).filter(F.col(uri_col).isNotNull())
        .distinct()
        .collect()
    ]
    result = fetch_in_batches(
        sorted(uris),
        fetch,
        entity_type,
        batch_size=batch_size,
        retry_limit=retry_limit,
        sleeper=sleeper,
    )
    staged = envelope_frame(spark, result.records).withColumn(
        "fetched_at", F.current_timestamp()
    )
    failed = local_frame(spark, result.failures, FAILED_URI_SCHEMA).withColumn(
        "failed_at", F.current_timestamp()
    )
    return staged, failed

