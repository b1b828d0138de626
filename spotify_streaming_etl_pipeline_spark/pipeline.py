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
list.  Above it, ``sources.restsource.enrich_partitions`` spreads the
URI set over the session's default parallelism and fetches it in one
Arrow map (``mapInArrow``), so the fetch is a planned,
partition-scheduled stage and the URI set never materializes on the
driver.  Neither path registers a data source or stages a file.

Every intermediate that more than one step reads is computed once per
run (lazy frames otherwise recompute a shared plan for each consumer):

- the delta-filtered history is persisted, and its row count is the
  action that fills the cache — URI discovery, ``dim_reason`` and both
  star joins read the cache, so the multi-line JSON export is scanned
  once per run;
- each final dim (after the sentinel rows, and ``dim_reason``, which
  both star joins read) is written once, to its swap sibling, as soon
  as it is built; the fact star joins broadcast those written
  snapshots, and the swap after the facts only renames them in;
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

The two star branches run at the same time.  After the shared prefix
(the delta cutoff, the persisted and counted history) the run splits
into three driver threads:

- **reason**: ``dim_reason`` written to its swap sibling;
- **tracks**: track enrichment -> artist enrichment -> ``dim_track``
  and ``dim_artist``, written at once -> ``fact_tracks`` star join and
  append;
- **podcasts**: episode enrichment -> podcast enrichment ->
  ``dim_episode`` and ``dim_podcast`` with their sentinel rows,
  written at once -> ``fact_podcasts`` star join and append.

Both star joins wait for the written ``dim_reason``.  Spark runs jobs
submitted from separate threads concurrently, so one branch's driver
round trips and small jobs overlap the other's.  On the driver-loop
path the two branches' fetches reach the API at the same time; each
loop still batches, splits and sleeps out a 429's Retry-After on its
own.  **Facts, then swaps**: the five written dims are promoted over
the live ones (renames, no Spark job) only once both fact writes have
ended, so a failed run promotes nothing.  Every thread carries the
caller's job group, description and tags, and the dims, surrogate
keys and files written are those of one serial run.

A run over nothing new writes nothing: when the delta-filtered
history is empty and every table of ``schemas.WAREHOUSE_SCHEMAS``
exists, ``run`` returns those tables right after the count.  Otherwise
it owns the history and envelope caches: its ``finally`` releases
them once every thread has stopped and the returned frames are
re-read from the warehouse, or when the run fails.  A run that fails
leaves both fact tables as it found them and removes the dims it
wrote aside: each branch lists its fact dir before the append, and
``run`` removes whatever either append added (the next run's delta
cutoff is the max over both facts, so a fact row that outlived its
failed run would hide the other fact's plays for good).
Small-file maintenance of the fact tables is a separate step
(``operators.maintenance.compact_partitioned``).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterator
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from .operators.maintenance import promote, recover_swap_residue, write_aside
from .plans import dims as dims_mod
from .plans.facts import build_fact_podcasts, build_fact_tracks, write_fact
from .schemas import WAREHOUSE_SCHEMAS
from .sources.enrichment import envelope_frame, fetch_in_batches
from .sources.history import delta_filter, max_loaded_ts, read_history
from .sources.restsource import _resolve_fetch, enrich_partitions


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


def _overwrite_parquet_safe(staged: DataFrame, path: str) -> None:
    """Swap the new snapshot ``staged`` of the parquet dir ``path`` in:
    ``staged`` reads what ``operators.maintenance.write_aside`` wrote
    to ``path``'s swap sibling, and this is the promote half
    (rename aside, promote, retire; renames only).  The snapshot's
    plan may itself read ``path`` (incremental dim loads union the
    existing table), so its files stay in place until now; a plain
    mode('overwrite') deletes the input files before the plan has read
    them -> FAILED_READ_FILE.  With a table format (Delta/Iceberg) the
    transaction log makes this dance unnecessary.  ``.swap_*`` residue
    recovers on the next read (``_read_if_exists``) or write aside: a
    missing live dir restores from the retired copy."""
    promote(staged.sparkSession, path, "swap")


def _tree(path: str) -> set[str] | None:
    """Every file and dir under ``path``, relative to it, or None when
    there is no dir at ``path``."""
    if not os.path.isdir(path):
        return None
    return {
        os.path.relpath(os.path.join(top, name), path)
        for top, dirs, files in os.walk(path)
        for name in dirs + files
    }


def _undo_append(spark: SparkSession, path: str, before: set[str] | None) -> None:
    """Put the table dir ``path`` back to ``before`` (its ``_tree``
    ahead of an append): remove every file and dir added since."""
    if before is None:
        shutil.rmtree(path, ignore_errors=True)
    else:
        for rel in sorted(_tree(path) - before):
            target = os.path.join(path, rel)
            if os.path.isdir(target):
                shutil.rmtree(target)
            elif os.path.exists(target):  # gone with an added parent dir
                os.remove(target)
    spark.catalog.refreshByPath(path)


@contextmanager
def _threads(spark: SparkSession) -> Iterator[Callable[..., Future]]:
    """Yield ``submit(fn, *args)``, which starts ``fn(*args)`` on a
    driver thread of its own and returns its ``Future``; leave the
    block only once every thread has stopped.  Every thread carries
    the calling thread's job group, description and tags, so the jobs
    it starts are the caller's."""
    with ThreadPoolExecutor() as pool:
        yield lambda fn, *args: pool.submit(
            inheritable_thread_target(spark)(fn), *args
        )


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
    Caches, and what a failed run removes: see the module docstring."""
    cached: list[DataFrame] = []
    appends: dict[str, set[str] | None] = {}
    try:
        return _run(
            spark, raw_dir, warehouse_dir, fetchers or {}, enrich_collect_max,
            cached, appends,
        )
    except BaseException:
        for path, before in appends.items():
            _undo_append(spark, path, before)
        for table in WAREHOUSE_SCHEMAS:
            if table.startswith("dim_"):
                recover_swap_residue(f"{warehouse_dir}/{table}", "swap")
        raise
    finally:
        for df in cached:
            df.unpersist()


def _run(
    spark: SparkSession,
    raw_dir: str,
    warehouse_dir: str,
    fetchers: dict[str, str],
    enrich_collect_max: int,
    cached: list[DataFrame],
    appends: dict[str, set[str] | None],
) -> RunResult:
    """The body of ``run``; every frame it persists goes on ``cached``,
    and each fact dir's ``_tree`` before its append on ``appends``."""
    out = RunResult()

    def persist(df: DataFrame) -> DataFrame:
        df = df.persist()
        cached.append(df)
        return df

    def read(table: str) -> DataFrame | None:
        return _read_if_exists(
            spark, f"{warehouse_dir}/{table}", WAREHOUSE_SCHEMAS[table]
        )

    def write_aside_and_read(table: str, df: DataFrame) -> DataFrame:
        tmp = write_aside(df, f"{warehouse_dir}/{table}", "swap")
        return spark.read.schema(WAREHOUSE_SCHEMAS[table]).parquet(tmp)

    # -- 1. ingest history with the delta cutoff (S1/S2/A6) ----------------
    tables = {table: read(table) for table in WAREHOUSE_SCHEMAS}
    cutoff = max_loaded_ts(tables["fact_tracks"], tables["fact_podcasts"])
    # The count fills the cache: URI discovery, dim_reason and both
    # star joins below read it instead of re-parsing the export.
    history = persist(delta_filter(read_history(spark, raw_dir), cutoff))
    out.n_history_rows = history.count()
    if out.n_history_rows == 0 and None not in tables.values():
        # Nothing past the cutoff and every table written: the load
        # would rewrite the same dims and append no fact row.
        for table, df in tables.items():
            kind, name = table.split("_", 1)
            (out.dims if kind == "dim" else out.facts)[name] = df
        out.n_fact_rows = dict.fromkeys(out.facts, 0)
        return out

    # -- 2. entity discovery + enrichment (A4/A5/J7, S3/S4/S7) --------------
    def enrich(entity: str, uris: DataFrame, dead: list) -> DataFrame | None:
        fetch = fetchers.get(entity)
        if fetch is None:
            return None
        # Size-switch: the typical NEW-entity set (history minus
        # warehouse) is dim-sized and a driver-side collect is correct
        # (the reference materializes the same list, extractor.py:250).
        # Past ``enrich_collect_max`` the fetch moves onto executors as
        # a planned Arrow map, and only the (rare) dead letters ever
        # reach the driver.  One bounded collect decides
        # the switch and, below it, is the driver list itself; uris
        # reads the cached history (or the envelopes), so the executor
        # path re-evaluating it is cheap.
        head = uris.limit(enrich_collect_max + 1).collect()
        if len(head) > enrich_collect_max:
            enriched = persist(enrich_partitions(uris, fetch, entity))
            # The dead-letter collect materializes (and caches) every
            # partition of enriched — after it, the ok-split below
            # reads the cache, never re-fetching.
            dead.extend(
                (r["uri"], entity, r["error_reason"])
                for r in enriched.filter(F.col("error_reason").isNotNull()).collect()
            )
            return enriched.filter(F.col("error_reason").isNull()).select(
                "uri", "raw_data"
            )
        result = fetch_in_batches(
            sorted(r["uri"] for r in head), _resolve_fetch(fetch), entity
        )
        dead.extend(result.failures)
        return envelope_frame(spark, result.records)

    # -- 3. clean envelopes -> idempotent dim loads (§2.10, J10, F23) -------
    cleaners = {
        "track": (dims_mod.clean_tracks, "spotify_track_uri", "track_id"),
        "artist": (dims_mod.clean_artists, "spotify_artist_uri", "artist_id"),
        "episode": (dims_mod.clean_episodes, "spotify_episode_uri", "episode_id"),
        "podcast": (dims_mod.clean_podcasts, "spotify_podcast_uri", "podcast_id"),
    }
    # Sentinel rows for fact lookups that miss (dummy_values.sql).
    sentinels = {
        "episode": dims_mod.sentinel_episode,
        "podcast": dims_mod.sentinel_podcast,
    }

    def write_dim(e: str, env: DataFrame | None) -> DataFrame | None:
        """The final ``dim_<e>`` over the envelopes ``env``, written
        aside and read back; None when there is no such dim yet."""
        clean, natural_key, key_name = cleaners[e]
        dim = tables[f"dim_{e}"]
        if env is not None:
            dim = dims_mod.load_dim(clean(env), natural_key, key_name, dim)
        if dim is None:
            return None
        if e in sentinels:
            dim = sentinels[e](spark).unionByName(dim.filter(F.col(key_name) != 0))
        return write_aside_and_read(f"dim_{e}", dim)

    def star(fact: str, entity: str, parent: str, parent_uris, build_fact):
        """One star branch: enrich ``entity``, then ``parent`` (whose
        URIs ``parent_uris`` mines from ``entity``'s envelopes — ORDER
        MATTERS, reference extractor.py:317), write both dims aside at
        once, then build and append ``fact_<fact>`` (J1/J2) over the
        written dims and the written ``dim_reason`` (``reason``).
        Returns the branch's dead letters, its written dims and
        ``{fact: rows appended}`` (empty when a dim is missing and no
        fact is built)."""
        dead: list[tuple[str, str, str]] = []
        uris = dims_mod.distinct_uris(history, cleaners[entity][1])
        env = enrich(entity, uris, dead)
        parent_env = enrich(
            parent,
            parent_uris(env) if env is not None
            else envelope_frame(spark, []).select("uri"),
            dead,
        )
        with _threads(spark) as submit:
            written = {entity: submit(write_dim, entity, env),
                       parent: submit(write_dim, parent, parent_env)}
        dims = {e: w.result() for e, w in written.items() if w.result() is not None}
        if len(dims) < 2:
            return dead, dims, {}
        fact_df = build_fact(history, dims[entity], dims[parent], reason.result())
        path = f"{warehouse_dir}/fact_{fact}"
        appends[path] = _tree(path)
        # The star join runs once: the write observes its row count.
        obs = write_fact(fact_df, path)
        return dead, dims, {fact: obs["n_rows"]}

    with _threads(spark) as submit:
        reason = submit(write_aside_and_read, "dim_reason",
                        dims_mod.build_dim_reason(history, tables["dim_reason"]))
        branches = [
            submit(star, "tracks", "track", "artist",
                   dims_mod.artist_uris_from_track_envelopes, build_fact_tracks),
            submit(star, "podcasts", "episode", "podcast",
                   dims_mod.podcast_uris_from_episode_envelopes, build_fact_podcasts),
        ]
    for branch in branches:
        dead, dims, n_fact_rows = branch.result()
        out.dead_letters.extend(dead)
        out.dims.update(dims)
        out.n_fact_rows.update(n_fact_rows)
    out.dims["reason"] = reason.result()

    # -- 4. swap the written dims in ------------------------------------------
    # Facts, then swaps: both fact writes have ended here, and a failed
    # one promotes nothing.  Each dim's snapshot is written aside
    # already, so the swap is renames only.
    for entity, staged in out.dims.items():
        _overwrite_parquet_safe(staged, f"{warehouse_dir}/dim_{entity}")
    # Re-read everything written: the staged frames pin file listings
    # that the promote renamed away; callers get fresh frames, and
    # ``run`` releases this run's caches once this returns.
    for entity in out.dims:
        out.dims[entity] = read(f"dim_{entity}")
    out.facts = {name: read(f"fact_{name}") for name in out.n_fact_rows}
    return out
