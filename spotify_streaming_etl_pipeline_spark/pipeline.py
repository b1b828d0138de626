"""End-to-end batch pipeline runner (reference scripts/etl/etl.py:14-26
and scripts/main.py:5-10): raw export JSON -> enrichment -> dims ->
facts, in one call.

Stage ordering preserves the reference's data dependency (reference
scripts/etl/extractor.py:317): **tracks before artists, episodes
before podcasts**, because artist/podcast URIs are mined FROM the
track/episode envelopes (plans/dims.py A5), not from history.

Every stage is the same builder the query layer uses — the runner only
sequences them and handles warehouse I/O (idempotent appends, delta
cutoff). ``fetchers`` names the API client per entity type as a
``"module:attr"`` string (resolved by ``sources.restsource._resolve_fetch``;
an attribute marked ``__rest_factory__`` builds a client that cannot be
pickled), so runs are fully testable offline; None skips enrichment
(dims load only from already-staged envelopes, if any).

Enrichment takes one of two paths, chosen by the size of the new-URI
set alone.  Up to ``enrich_collect_max`` URIs the runner resolves the
fetcher and runs the reference-shaped driver loop over the collected
list.  Above it, ``sources.restsource.enrich_partitions`` stages the
URI set as parquet and reads it back through the ``rest_enrichment``
DataSource, so the fetch is a real scan — planned, UI-visible,
partition-scheduled — and the URI set never materializes on the
driver.

Every intermediate that more than one step reads is computed once per
run (lazy frames otherwise recompute a shared plan for each consumer):

- the delta-filtered history is persisted, and its row count is the
  action that fills the cache — URI discovery, ``dim_reason`` and both
  star joins read the cache, so the multi-line JSON export is scanned
  once per run;
- each final dim (after the sentinel rows and ``dim_reason``) is
  persisted, so the fact broadcasts and the snapshot swap share one
  computed snapshot;
- the executor-path enrichment envelopes are persisted, so the
  dead-letter collect and the dims share one fetch;
- fact row counts come from the write's own ``Observation``, not from
  a second run of each star join.

The fixed part of a run (what it costs whatever the increment's size)
runs on the JVM and its plans are built lazily:

- rows the driver holds (the driver-loop envelopes, the sentinel dim
  rows) are local relations (``schemas.local_frame``): no job starts a
  Python worker to re-read them;
- every warehouse read, before the load and after it, uses the table's
  declared schema (``schemas.WAREHOUSE_SCHEMAS``): no job infers a
  schema, and a fact table holding no rows yet still reads back;
- building the dims runs no job: new surrogate keys continue after the
  existing dim's max inside the plan, not after an eagerly collected
  one;
- the delta cutoff is one action over both facts.

``run`` always writes, and it owns every one of these caches and the
URI staging parquet: its ``finally`` releases the caches and removes
the staging once the returned frames are re-read from the warehouse,
or when the run fails.  Small-file maintenance of the fact tables is
a separate step (``operators.maintenance.compact_partitioned``).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .operators.maintenance import recover_swap_residue
from .plans import dims as dims_mod
from .plans.facts import build_fact_podcasts, build_fact_tracks, write_fact
from .schemas import WAREHOUSE_SCHEMAS
from .sources.enrichment import envelope_frame, fetch_in_batches
from .sources.history import delta_filter, max_loaded_ts, read_history
from .sources.restsource import _resolve_fetch, enrich_partitions

# Executor-path enrichment stages its URI sets under the warehouse,
# which executors can reach.
_URI_STAGING = "_staging/enrich_uris"


@dataclass
class RunResult:
    """Outcome of one incremental load: ``dims`` and ``facts`` are
    re-read from the warehouse (full tables, fresh file listings);
    ``n_fact_rows`` counts the rows THIS run appended."""

    dims: dict[str, DataFrame] = field(default_factory=dict)
    facts: dict[str, DataFrame] = field(default_factory=dict)
    dead_letters: list[tuple[str, str, str]] = field(default_factory=list)
    n_history_rows: int = 0
    n_fact_rows: dict[str, int] = field(default_factory=dict)


def _read_if_exists(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame | None:
    """The warehouse table at ``path`` read with its declared
    ``schema``, or None when there is none.
    Swap crash residue recovers first: a dim whose snapshot swap died
    between its renames lives under ``.swap_old_*``, and reading it as
    absent would rebuild the dim from this increment alone (keys from
    1), which the swap would then promote over every older row."""
    recover_swap_residue(path, "swap")
    if os.path.isdir(path):
        return spark.read.schema(schema).parquet(path)
    return None


def _overwrite_parquet_safe(df: DataFrame, path: str) -> None:
    """Overwrite a parquet dir that ``df``'s plan may itself be reading
    (incremental dim loads union the existing table): write the new
    snapshot to a sibling temp dir first, then swap. A plain
    mode('overwrite') deletes the input files before the plan has read
    them -> FAILED_READ_FILE. With a table format (Delta/Iceberg) the
    transaction log makes this dance unnecessary.

    The swap renames the current dir ASIDE before promoting the new one
    (the compact_parquet shape) — rmtree-then-rename would leave NO
    table at all on a crash between the two, and the next run would
    silently treat the table as empty. Crash residue recovers on the
    next read (``_read_if_exists``) or swap: a missing live dir
    restores from the retired copy."""
    tmp, old = recover_swap_residue(path, "swap")
    df.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.isdir(old):
        shutil.rmtree(old)
    # Spark's shared FileStatusCache still holds the old listing for
    # this path; invalidate it or later reads hit deleted part files.
    df.sparkSession.catalog.refreshByPath(path)


def run(
    spark: SparkSession,
    raw_dir: str,
    warehouse_dir: str,
    fetchers: dict[str, str] | None = None,
    enrich_collect_max: int = 10_000,
) -> RunResult:
    """Execute one incremental load into ``warehouse_dir`` and return
    the written dims/facts re-read from it.  ``fetchers`` maps an
    entity type to its ``"module:attr"`` fetcher; above
    ``enrich_collect_max`` new URIs an entity is enriched on executors.
    Caches and URI staging: see the module docstring."""
    cached: list[DataFrame] = []
    try:
        return _run(
            spark, raw_dir, warehouse_dir, fetchers or {}, enrich_collect_max, cached
        )
    finally:
        for df in cached:
            df.unpersist()
        shutil.rmtree(f"{warehouse_dir}/{_URI_STAGING}", ignore_errors=True)


def _run(
    spark: SparkSession,
    raw_dir: str,
    warehouse_dir: str,
    fetchers: dict[str, str],
    enrich_collect_max: int,
    cached: list[DataFrame],
) -> RunResult:
    """The body of ``run``; every frame it persists goes on ``cached``."""
    out = RunResult()

    def persist(df: DataFrame) -> DataFrame:
        df = df.persist()
        cached.append(df)
        return df

    def read(table: str) -> DataFrame | None:
        return _read_if_exists(
            spark, f"{warehouse_dir}/{table}", WAREHOUSE_SCHEMAS[table]
        )

    # -- 1. ingest history with the delta cutoff (S1/S2/A6) ----------------
    cutoff = max_loaded_ts(read("fact_tracks"), read("fact_podcasts"))
    # The count fills the cache: URI discovery, dim_reason and both
    # star joins below read it instead of re-parsing the export.
    history = persist(delta_filter(read_history(spark, raw_dir), cutoff))
    out.n_history_rows = history.count()

    # -- 2. entity discovery + enrichment (A4/A5/J7, S3/S4/S7) --------------
    # ORDER MATTERS: artist URIs come from track envelopes, podcast URIs
    # from episode envelopes (reference extractor.py:317).
    envelopes: dict[str, DataFrame] = {}

    def enrich(entity: str, uris: DataFrame) -> DataFrame | None:
        fetch = fetchers.get(entity)
        if fetch is None:
            return None
        # Size-switch: the typical NEW-entity set (history minus
        # warehouse) is dim-sized and a driver-side collect is correct
        # (the reference materializes the same list, extractor.py:250).
        # Past ``enrich_collect_max`` the fetch moves onto executors as
        # a planned rest_enrichment scan, and only the (rare) dead
        # letters ever reach the driver.  One bounded collect decides
        # the switch and, below it, is the driver list itself; uris
        # reads the cached history (or the envelopes), so the executor
        # path re-evaluating it is cheap.
        head = uris.limit(enrich_collect_max + 1).collect()
        if len(head) > enrich_collect_max:
            enriched = persist(
                enrich_partitions(
                    uris, fetch, entity, f"{warehouse_dir}/{_URI_STAGING}/{entity}"
                )
            )
            # The dead-letter collect materializes (and caches) every
            # partition of enriched — after it, the ok-split below
            # reads the cache, never re-fetching.
            out.dead_letters.extend(
                (r["uri"], entity, r["error_reason"])
                for r in enriched.filter(F.col("error_reason").isNotNull()).collect()
            )
            return enriched.filter(F.col("error_reason").isNull()).select(
                "uri", "raw_data"
            )
        result = fetch_in_batches(
            sorted(r["uri"] for r in head), _resolve_fetch(fetch), entity
        )
        out.dead_letters.extend(result.failures)
        return envelope_frame(spark, result.records)

    envelopes["track"] = enrich(
        "track", dims_mod.distinct_uris(history, "spotify_track_uri")
    )
    envelopes["artist"] = enrich(
        "artist",
        dims_mod.artist_uris_from_track_envelopes(envelopes["track"])
        if envelopes["track"] is not None
        else envelope_frame(spark, []).select("uri"),
    )
    envelopes["episode"] = enrich(
        "episode", dims_mod.distinct_uris(history, "spotify_episode_uri")
    )
    envelopes["podcast"] = enrich(
        "podcast",
        dims_mod.podcast_uris_from_episode_envelopes(envelopes["episode"])
        if envelopes["episode"] is not None
        else envelope_frame(spark, []).select("uri"),
    )

    # -- 3. clean envelopes -> idempotent dim loads (§2.10, J10, F23) -------
    cleaners = {
        "track": (dims_mod.clean_tracks, "spotify_track_uri", "track_id"),
        "artist": (dims_mod.clean_artists, "spotify_artist_uri", "artist_id"),
        "episode": (dims_mod.clean_episodes, "spotify_episode_uri", "episode_id"),
        "podcast": (dims_mod.clean_podcasts, "spotify_podcast_uri", "podcast_id"),
    }
    for entity, (clean, natural_key, key_name) in cleaners.items():
        existing = read(f"dim_{entity}")
        if envelopes[entity] is None:
            if existing is not None:
                out.dims[entity] = existing
            continue
        cleaned = clean(envelopes[entity])
        out.dims[entity] = dims_mod.load_dim(cleaned, natural_key, key_name, existing)

    # Sentinel rows for fact lookups that miss (dummy_values.sql).
    if "episode" in out.dims:
        out.dims["episode"] = dims_mod.sentinel_episode(spark).unionByName(
            out.dims["episode"].filter(F.col("episode_id") != 0)
        )
    if "podcast" in out.dims:
        out.dims["podcast"] = dims_mod.sentinel_podcast(spark).unionByName(
            out.dims["podcast"].filter(F.col("podcast_id") != 0)
        )

    out.dims["reason"] = dims_mod.build_dim_reason(history, read("dim_reason"))

    # Each final dim is computed once: the first fact broadcast that
    # reads it fills the cache, and its snapshot swap reads the cache.
    for entity in out.dims:
        out.dims[entity] = persist(out.dims[entity])

    # -- 4. facts: the two star joins (J1/J2) -------------------------------
    if {"track", "artist"} <= out.dims.keys():
        out.facts["tracks"] = build_fact_tracks(
            history, out.dims["track"], out.dims["artist"], out.dims["reason"]
        )
    if {"episode", "podcast"} <= out.dims.keys():
        out.facts["podcasts"] = build_fact_podcasts(
            history, out.dims["episode"], out.dims["podcast"], out.dims["reason"]
        )

    # -- 5. write ------------------------------------------------------------
    # Facts first: the dim caches may be evicted, and an evicted dim
    # recomputes from the CURRENT dim parquet, which the swap below
    # deletes. Fact writes are appends, so ordering them first is both
    # safe and required. Each star join runs once: its row count is
    # observed by the write itself.
    for name, df in out.facts.items():
        obs = write_fact(df, f"{warehouse_dir}/fact_{name}")
        out.n_fact_rows[name] = obs["n_rows"]
    for entity, df in out.dims.items():
        _overwrite_parquet_safe(df, f"{warehouse_dir}/dim_{entity}")
    # Re-read everything written: the pre-swap lazy plans pin file
    # listings that no longer exist; callers get fresh frames, and
    # ``run`` releases this run's caches once this returns.
    for entity in out.dims:
        out.dims[entity] = read(f"dim_{entity}")
    for name in out.facts:
        out.facts[name] = read(f"fact_{name}")
    return out
