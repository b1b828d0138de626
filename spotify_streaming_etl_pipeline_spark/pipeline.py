"""End-to-end batch pipeline runner (reference scripts/etl/etl.py:14-26
and scripts/main.py:5-10): raw export JSON -> enrichment -> dims ->
facts, in one call.

Stage ordering preserves the reference's data dependency (reference
scripts/etl/extractor.py:317): **tracks before artists, episodes
before podcasts**, because artist/podcast URIs are mined FROM the
track/episode envelopes (plans/dims.py A5), not from history.

Every stage is the same builder the query layer uses — the runner only
sequences them and handles warehouse I/O (idempotent appends, delta
cutoff). ``fetchers`` injects the API clients per entity type, so runs
are fully testable offline; None skips enrichment (dims load only from
already-staged envelopes, if any).

A fetcher may be a plain callable or a ``"module:attr"`` string.  The
string form unlocks the planned-source scale path: above
``enrich_collect_max`` new URIs the runner stages the URI set as
parquet and reads it back through the ``rest_enrichment`` DataSource
(``uris_path`` option), so the fetch is a real scan — planned,
UI-visible, partition-scheduled — and the URI set never materializes
on the driver (the DataSource plans row-range partitions from parquet
footers alone).  A plain callable above the threshold falls back to
the ``mapInPandas`` wrapper (same distributed loop, opaque stage);
below the threshold both forms use the reference-shaped driver loop.

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

``run`` owns every one of these caches.  Under ``write=True`` it
releases them in a ``finally`` once the returned frames are re-read
from the warehouse (and on any failure); under ``write=False`` the
returned dims/facts are lazy plans over them, so they stay cached —
a recompute would re-scan the export and re-hit the REST source — and
they live until the caller clears them
(``spark.catalog.clearCache()``) or the session stops.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .operators.maintenance import recover_swap_residue
from .plans import dims as dims_mod
from .plans.facts import build_fact_podcasts, build_fact_tracks, write_fact
from .schemas import WAREHOUSE_SCHEMAS
from .sources.enrichment import enrich_partitions, envelope_frame, fetch_in_batches
from .sources.history import delta_filter, max_loaded_ts, read_history


@dataclass
class RunResult:
    """Outcome of one incremental load. After a persisted run, ``dims``
    and ``facts`` are re-read from the warehouse (full tables, fresh
    file listings); ``n_fact_rows`` counts the rows THIS run appended."""

    dims: dict[str, DataFrame] = field(default_factory=dict)
    facts: dict[str, DataFrame] = field(default_factory=dict)
    dead_letters: list[tuple[str, str, str]] = field(default_factory=list)
    n_history_rows: int = 0
    n_fact_rows: dict[str, int] = field(default_factory=dict)
    compacted: dict[str, dict[str, int]] = field(default_factory=dict)


def _read_if_exists(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame | None:
    """The warehouse table at ``path``, or None when there is none; read
    with ``schema`` when given, else with an inferred one.
    Swap crash residue recovers first: a dim whose snapshot swap died
    between its renames lives under ``.swap_old_*``, and reading it as
    absent would rebuild the dim from this increment alone (keys from
    1), which the swap would then promote over every older row."""
    recover_swap_residue(path, "swap")
    if os.path.isdir(path):
        return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
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
    import shutil

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
    fetchers: dict[str, Callable[[list[str]], dict] | str] | None = None,
    write: bool = True,
    enrich_collect_max: int = 10_000,
    compact_facts: bool = False,
) -> RunResult:
    """Execute one incremental load. Returns the resulting dim/fact
    frames (also written under ``warehouse_dir`` when ``write``).

    ``compact_facts`` folds small-file maintenance into the load: after
    this run's appends land, each fact table's year partitions are
    compacted to ~target-size files (operators/maintenance.py). Safe
    here by construction — the runner is the table's only writer and
    its appends have finished before compaction starts.

    Caches: see the module docstring — released before returning when
    ``write`` (or when the run fails), kept for the returned lazy
    frames otherwise."""
    cached: list[DataFrame] = []
    keep_cached = False
    try:
        out = _run(
            spark, raw_dir, warehouse_dir, fetchers or {}, write,
            enrich_collect_max, compact_facts, cached,
        )
        keep_cached = not write
        return out
    finally:
        if not keep_cached:
            for df in cached:
                df.unpersist()


def _run(
    spark: SparkSession,
    raw_dir: str,
    warehouse_dir: str,
    fetchers: dict[str, Callable[[list[str]], dict] | str],
    write: bool,
    enrich_collect_max: int,
    compact_facts: bool,
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
    cutoff = max_loaded_ts(read("fact_tracks"), read("fact_podcasts"), None)
    # The count fills the cache: URI discovery, dim_reason and both
    # star joins below read it instead of re-parsing the export.
    history = persist(delta_filter(read_history(spark, raw_dir), cutoff))
    out.n_history_rows = history.count()

    # -- 2. entity discovery + enrichment (A4/A5/J7, S3/S4/S7) --------------
    # ORDER MATTERS: artist URIs come from track envelopes, podcast URIs
    # from episode envelopes (reference extractor.py:317).
    envelopes: dict[str, DataFrame] = {}

    def enrich_datasource(entity: str, uris: DataFrame, fetch_path: str) -> DataFrame:
        """The planned-source scale path: stage the URI set as parquet
        (repartitioned so each staging file ≈ one fetch partition —
        the DataSource plans one partition per row group), scan it
        back through the rest_enrichment DataSource.  The URI set
        rides executor-to-executor — no driver-side list at any size.
        Staging lives under the warehouse (executors must reach it);
        ``write=True`` runs clean it up after the envelopes
        re-materialize from the warehouse, ``write=False`` keeps it
        (the returned frames' lineage still reads it)."""
        from .sources.restsource import RestEnrichmentDataSource

        spark.dataSource.register(RestEnrichmentDataSource)
        staging = f"{warehouse_dir}/_staging/enrich_uris/{entity}"
        n = uris.count()
        n_parts = max(1, -(-n // 200))
        uris.select("uri").repartition(n_parts).write.mode(
            "overwrite"
        ).parquet(staging)
        return (
            spark.read.format("rest_enrichment")
            .option("uris_path", staging)
            .option("entity", entity)
            .option("fetch", fetch_path)
            .load()
            .select(
                "uri",
                F.coalesce(F.col("error_reason"), F.lit("ok")).alias("status"),
                "raw_data",
            )
        )

    def enrich(entity: str, uris: DataFrame) -> DataFrame | None:
        fetch = fetchers.get(entity)
        if fetch is None:
            return None
        # Size-switch: the typical NEW-entity set (history minus
        # warehouse) is dim-sized and a driver-side collect is correct
        # (the reference materializes the same list, extractor.py:250).
        # Past ``enrich_collect_max`` the fetch moves onto executors:
        # the planned DataSource scan when the fetcher is importable
        # ("module:attr"), else the mapInPandas wrapper — either way
        # only the (rare) dead letters ever reach the driver.  One
        # bounded collect decides the switch and, below it, is the
        # driver list itself; uris reads the cached history (or the
        # envelopes), so the executor path re-evaluating it is cheap.
        head = uris.limit(enrich_collect_max + 1).collect()
        if len(head) > enrich_collect_max:
            if isinstance(fetch, str):
                enriched = persist(enrich_datasource(entity, uris, fetch))
            else:
                enriched = persist(enrich_partitions(uris, fetch, entity))
            # The dead-letter collect materializes (and caches) every
            # partition of enriched — after it, the ok-split below
            # reads the cache, never re-fetching.
            out.dead_letters.extend(
                (r["uri"], entity, r["status"])
                for r in enriched.filter(F.col("status") != "ok").collect()
            )
            return enriched.filter(F.col("status") == "ok").select("uri", "raw_data")
        uri_list = sorted(r["uri"] for r in head)
        if isinstance(fetch, str):
            from .sources.restsource import _resolve_fetch

            fetch = _resolve_fetch(fetch)
        result = fetch_in_batches(uri_list, fetch, entity)
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

    # -- 5. persist ---------------------------------------------------------
    # Computed once and cached: the history (filled by its count), the
    # executor-path envelopes (filled by the dead-letter collect) and
    # each dim (filled by the first fact broadcast, or by its swap).
    # ``run`` releases them all after the re-read below; under
    # write=False nothing here runs and they stay cached for the
    # returned lazy frames.
    if write:
        # Facts first: the dim caches may be evicted, and an evicted
        # dim recomputes from the CURRENT dim parquet, which the swap
        # below deletes. Fact writes are appends, so ordering them
        # first is both safe and required. Each star join runs once:
        # its row count is observed by the write itself.
        for name, df in out.facts.items():
            obs = write_fact(df, f"{warehouse_dir}/fact_{name}")
            out.n_fact_rows[name] = obs["n_rows"]
        if compact_facts:
            from .operators.maintenance import compact_partitioned

            for name in out.facts:
                out.compacted[name] = compact_partitioned(
                    spark, f"{warehouse_dir}/fact_{name}"
                )
        for entity, df in out.dims.items():
            _overwrite_parquet_safe(df, f"{warehouse_dir}/dim_{entity}")
        # Re-read everything written: the pre-swap lazy plans pin file
        # listings that no longer exist; callers get fresh frames, and
        # ``run`` releases this run's caches once this returns.
        for entity in out.dims:
            out.dims[entity] = read(f"dim_{entity}")
        for name in out.facts:
            out.facts[name] = read(f"fact_{name}")
        # The URI staging parquet is unreachable now too — drop it so
        # repeated runs don't accumulate stale snapshots beside the
        # real tables. (write=False keeps it: returned frames' lineage
        # may still read it on cache eviction.)
        import shutil

        shutil.rmtree(
            f"{warehouse_dir}/_staging/enrich_uris", ignore_errors=True
        )
    return out
