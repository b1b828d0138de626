"""Streaming ingest smoke (one micro-batch through to a fact write)
and the end-to-end pipeline runner (fixture JSON -> queryable marts)."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from spotify_streaming_etl_pipeline_spark import pipeline
from spotify_streaming_etl_pipeline_spark.schemas import WAREHOUSE_SCHEMAS
from spotify_streaming_etl_pipeline_spark.streaming.ingest import (
    hourly_platform_counts,
    read_history_stream,
    start_fact_tracks_ingest,
)
from tests.fixtures import episode_envelope, frame, history_row, track_envelope


def _write_export(path, rows):
    path.write_text(json.dumps(rows))


@pytest.fixture()
def raw_dir(tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    _write_export(
        d / "export_1.json",
        [
            history_row(),
            history_row(ts="2021-01-01T00:30:00Z", ms_played=60000),
            history_row(
                ts="2021-01-01T02:00:00Z",
                spotify_track_uri=None,
                master_metadata_track_name=None,
                episode_name="Ep 1",
                episode_show_name="Test Show",
                spotify_episode_uri="spotify:episode:7",
            ),
        ],
    )
    _write_export(
        d / "export_2.json",
        [history_row(ts="2021-06-01T10:00:00Z", spotify_track_uri="spotify:track:456")],
    )
    return d


# Offline fetchers, importable on executors as "module:attr" strings.
def fake_tracks(batch):
    return {
        "tracks": [
            json.loads(track_envelope(uri)[1]) | {"uri": uri} for uri in batch
        ]
    }


def fake_artists(batch):
    return {
        "artists": [
            {"uri": u, "name": f"Artist {u[-1]}", "images": [{"url": "http://a"}]}
            for u in batch
        ]
    }


def fake_episodes(batch):
    return {
        "episodes": [
            json.loads(episode_envelope(uri)[1]) | {"uri": uri} for uri in batch
        ]
    }


def fake_podcasts(batch):
    return {
        "shows": [
            {"uri": u, "name": "Test Show", "description": "d", "images": []}
            for u in batch
        ]
    }


def _fake_fetchers():
    return {
        e: f"tests.test_streaming_pipeline:fake_{e}s"
        for e in ("track", "artist", "episode", "podcast")
    }


def test_pipeline_end_to_end_then_incremental_noop(spark, raw_dir, tmp_path):
    wh = str(tmp_path / "warehouse")
    res = pipeline.run(spark, str(raw_dir), wh, fetchers=_fake_fetchers())

    assert res.n_history_rows == 4
    assert res.dead_letters == []
    # dims: 2 tracks, their 2 lead artists (+1 feat from envelope mining), 1 episode, 1 podcast
    assert res.dims["track"].count() == 2
    assert res.dims["artist"].count() >= 2
    assert res.dims["episode"].filter("episode_id = 0").count() == 1  # sentinel
    assert res.dims["podcast"].filter("podcast_id = 0").count() == 1
    # facts: 3 track plays, 1 podcast play appended this run
    assert res.n_fact_rows == {"tracks": 3, "podcasts": 1}
    # returned frames are the full (re-read) warehouse tables
    assert res.facts["tracks"].count() == 3
    resolved = res.facts["tracks"].filter(F.col("track_fk").isNotNull()).count()
    assert resolved == 3

    # warehouse written and queryable
    fact = spark.read.parquet(f"{wh}/fact_tracks")
    assert fact.count() == 3

    # second run: delta cutoff excludes everything already loaded
    res2 = pipeline.run(spark, str(raw_dir), wh, fetchers=_fake_fetchers())
    assert res2.n_history_rows == 0
    assert res2.n_fact_rows["tracks"] == 0  # nothing re-appended
    assert res2.facts["tracks"].count() == 3  # table unchanged
    assert res2.dims["track"].count() == 2  # dims stable across reruns


def _persisted_ids(spark) -> set[int]:
    """Ids of the session's persisted RDDs.  Compared as sets, not
    counts: RDDs that earlier tests persisted and dropped are unpersisted
    by Spark's ContextCleaner whenever the JVM collects them, which can
    happen during a run and lower the count."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _dim_files(wh) -> dict[str, list[str]]:
    """Each dim's file names: a snapshot swap writes new part files."""
    return {
        t: sorted(os.listdir(f"{wh}/{t}"))
        for t in WAREHOUSE_SCHEMAS
        if t.startswith("dim_")
    }


def _files(path) -> list[str]:
    """Every file under the table dir ``path``, relative to it."""
    return sorted(
        os.path.relpath(os.path.join(top, name), path)
        for top, _dirs, names in os.walk(path)
        for name in names
    )


def test_pipeline_first_load_increment_noop_smoke(spark, raw_dir, tmp_path):
    """Default-tier pass over the runner: first load, one daily
    increment, no-op rerun.  Each run's ``n_fact_rows`` (observed by the
    fact write itself, not by a second count) must equal the rows that
    landed in the fact parquet, the no-op run's empty writes must still
    report 0 for both facts, and every run must release the caches it
    made (no RDD it persisted is still persisted).  The no-op run
    writes nothing: every dim keeps its files."""
    wh = str(tmp_path / "warehouse")
    before = _persisted_ids(spark)

    def landed():
        return {
            name: spark.read.parquet(f"{wh}/fact_{name}").count()
            for name in ("tracks", "podcasts")
        }

    def load():
        res = pipeline.run(spark, str(raw_dir), wh, fetchers=_fake_fetchers())
        assert _persisted_ids(spark) <= before
        return res

    res = load()
    first = landed()
    assert res.n_fact_rows == first == {"tracks": 3, "podcasts": 1}

    _write_export(
        raw_dir / "export_3.json",
        [
            history_row(ts="2022-01-01T08:00:00Z", spotify_track_uri="spotify:track:789"),
            history_row(ts="2022-01-01T08:05:00Z"),
            history_row(
                ts="2022-01-01T09:00:00Z",
                spotify_track_uri=None,
                master_metadata_track_name=None,
                episode_name="Ep 1",
                episode_show_name="Test Show",
                spotify_episode_uri="spotify:episode:7",
            ),
        ],
    )
    res = load()
    second = landed()
    assert res.n_history_rows == 3
    assert res.n_fact_rows == {k: second[k] - first[k] for k in first}
    assert res.n_fact_rows == {"tracks": 2, "podcasts": 1}
    assert res.dims["track"].count() == 3  # the new track enriched once

    dims = _dim_files(wh)
    res = load()
    assert res.n_history_rows == 0
    assert res.n_fact_rows == {"tracks": 0, "podcasts": 0}
    assert res.dead_letters == []
    assert landed() == second
    assert _dim_files(wh) == dims
    assert res.dims["track"].count() == 3

    # The declared warehouse schemas are what the run wrote.
    for table, schema in WAREHOUSE_SCHEMAS.items():
        assert spark.read.parquet(f"{wh}/{table}").schema == schema, table


def test_pipeline_first_load_without_podcast_plays(spark, tmp_path):
    """A first load with no podcast play writes an empty fact_podcasts
    (only ``_SUCCESS``, no parquet file to infer a schema from); the
    run's re-read, the same read every later run starts with, must see
    it as an empty table of its declared schema."""
    raw = tmp_path / "raw"
    raw.mkdir()
    _write_export(
        raw / "export_1.json",
        [history_row(), history_row(ts="2021-01-01T00:30:00Z")],
    )
    res = pipeline.run(spark, str(raw), str(tmp_path / "wh"), fetchers=_fake_fetchers())
    assert res.n_fact_rows == {"tracks": 2, "podcasts": 0}
    assert res.facts["podcasts"].count() == 0
    assert res.facts["podcasts"].schema == WAREHOUSE_SCHEMAS["fact_podcasts"]


def test_pipeline_run_releases_its_caches_on_failure(
    spark, raw_dir, tmp_path, monkeypatch
):
    """A run whose fact write fails after the history and dim caches
    are filled still releases them (the ``finally`` in ``run``)."""

    def failing_write_fact(fact, path, *args, **kwargs):
        fact.count()  # fills the history and dim caches first
        raise RuntimeError("fact write failed")

    before = _persisted_ids(spark)
    monkeypatch.setattr(pipeline, "write_fact", failing_write_fact)
    with pytest.raises(RuntimeError, match="fact write failed"):
        pipeline.run(spark, str(raw_dir), str(tmp_path / "wh"), fetchers=_fake_fetchers())
    assert _persisted_ids(spark) <= before


def test_pipeline_jobs_belong_to_the_callers_job_group(spark, raw_dir, tmp_path):
    """Every job a run starts, on its branch and swap threads too,
    belongs to the job group the caller set: the run's jobs are those
    between a marker job before it and one after it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker(group: str) -> list[int]:
        sc.setJobGroup(group, group)
        spark.range(1).count()
        deadline = time.time() + 30  # the status store updates asynchronously
        while not tracker.getJobIdsForGroup(group) and time.time() < deadline:
            time.sleep(0.05)
        return tracker.getJobIdsForGroup(group)

    try:
        lo = max(marker("before-run"))
        sc.setJobGroup("g", "pipeline.run under a caller's job group")
        pipeline.run(spark, str(raw_dir), str(tmp_path / "wh"), fetchers=_fake_fetchers())
        hi = min(marker("after-run"))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert hi - lo > 1
    assert sorted(tracker.getJobIdsForGroup("g")) == list(range(lo + 1, hi))


def test_pipeline_branch_failure_swaps_nothing(spark, raw_dir, tmp_path, monkeypatch):
    """Only the podcasts branch's fact write fails, while the tracks
    branch is still at work: ``run`` re-raises once both branches have
    stopped, releases every cache it made, swaps no dim and removes the
    tracks append, so a rerun still loads the new play."""
    wh = str(tmp_path / "wh")
    pipeline.run(spark, str(raw_dir), wh, fetchers=_fake_fetchers())
    _write_export(raw_dir / "export_3.json", [history_row(ts="2022-01-01T08:00:00Z")])
    dims = _dim_files(wh)
    fact_tracks = _files(f"{wh}/fact_tracks")
    before = _persisted_ids(spark)
    write_fact = pipeline.write_fact
    podcasts_failed = threading.Event()

    def podcasts_fail(fact, path):
        if path.endswith("fact_podcasts"):
            fact.count()  # fills the history and dim caches first
            podcasts_failed.set()
            raise RuntimeError("podcasts write failed")
        # The tracks branch works on until the podcasts write has failed.
        assert podcasts_failed.wait(60), "the branches did not overlap"
        return write_fact(fact, path)

    monkeypatch.setattr(pipeline, "write_fact", podcasts_fail)
    with pytest.raises(RuntimeError, match="podcasts write failed"):
        pipeline.run(spark, str(raw_dir), wh, fetchers=_fake_fetchers())
    assert _persisted_ids(spark) <= before
    assert _dim_files(wh) == dims
    assert _files(f"{wh}/fact_tracks") == fact_tracks
    monkeypatch.setattr(pipeline, "write_fact", write_fact)
    res = pipeline.run(spark, str(raw_dir), wh, fetchers=_fake_fetchers())
    assert res.n_fact_rows["tracks"] == 1


def _swap_siblings(wh) -> list[str]:
    """The ``.swap_tmp_*`` / ``.swap_old_*`` dirs beside the tables."""
    return sorted(n for n in os.listdir(wh) if n.startswith(".swap_"))


def _table_rows(spark, wh) -> dict[str, list[tuple]]:
    """Every warehouse table's rows, sorted."""
    return {
        t: sorted(
            map(tuple, spark.read.schema(s).parquet(f"{wh}/{t}").collect()), key=repr
        )
        for t, s in WAREHOUSE_SCHEMAS.items()
    }


def test_pipeline_persists_only_the_history(spark, raw_dir, tmp_path, monkeypatch):
    """On the driver-loop path the run's one cache is the delta-filtered
    history: each dim is computed once, by its write aside, and the
    fact star joins read the written snapshots.  Counted as each dim
    is swapped in, after both fact writes."""
    before = _persisted_ids(spark)
    new_caches = []
    swap_in = pipeline._overwrite_parquet_safe

    def counting_swap_in(staged, path):
        new_caches.append(len(_persisted_ids(spark) - before))
        swap_in(staged, path)

    monkeypatch.setattr(pipeline, "_overwrite_parquet_safe", counting_swap_in)
    pipeline.run(spark, str(raw_dir), str(tmp_path / "wh"), fetchers=_fake_fetchers())
    assert new_caches == [1] * 5


def test_pipeline_leaves_no_swap_siblings_and_reruns_clean(
    spark, raw_dir, tmp_path, monkeypatch
):
    """A successful run, a no-op run and a failed run (its fact write
    raising after every dim is written aside) leave no swap sibling in
    the warehouse, and a rerun after the failure leaves the dims (keys
    included) and facts of a run that never failed."""
    wh, clean = str(tmp_path / "wh"), str(tmp_path / "clean")

    def load(warehouse):
        return pipeline.run(spark, str(raw_dir), warehouse, fetchers=_fake_fetchers())

    def failing_write_fact(fact, path):
        raise RuntimeError("fact write failed")

    load(wh)
    assert _swap_siblings(wh) == []
    load(clean)
    assert load(wh).n_history_rows == 0
    assert _swap_siblings(wh) == []
    _write_export(
        raw_dir / "export_3.json",
        [
            history_row(ts="2022-01-01T08:00:00Z", spotify_track_uri="spotify:track:789"),
            history_row(
                ts="2022-01-01T09:00:00Z",
                spotify_track_uri=None,
                master_metadata_track_name=None,
                episode_name="Ep 2",
                episode_show_name="Test Show",
                spotify_episode_uri="spotify:episode:8",
            ),
        ],
    )
    with monkeypatch.context() as m:
        m.setattr(pipeline, "write_fact", failing_write_fact)
        with pytest.raises(RuntimeError, match="fact write failed"):
            load(wh)
    assert _swap_siblings(wh) == []
    assert load(wh).n_fact_rows == load(clean).n_fact_rows == {"tracks": 1, "podcasts": 1}
    assert _table_rows(spark, wh) == _table_rows(spark, clean)


def test_pipeline_executor_enrichment_path(spark, raw_dir, tmp_path):
    """enrich_collect_max=0 sends every URI set through the executor
    path (``enrich_partitions``, one Arrow map); the warehouse must
    come out identical to the driver-loop path, and the run must leave
    no URI staging behind."""
    wh_driver = str(tmp_path / "wh_driver")
    wh_exec = str(tmp_path / "wh_exec")
    res_driver = pipeline.run(
        spark, str(raw_dir), wh_driver, fetchers=_fake_fetchers()
    )
    res_exec = pipeline.run(
        spark, str(raw_dir), wh_exec, fetchers=_fake_fetchers(),
        enrich_collect_max=0,
    )
    assert res_exec.dead_letters == []
    assert res_exec.n_fact_rows == res_driver.n_fact_rows
    for entity in ("track", "artist", "episode", "podcast", "reason"):
        d_rows = sorted(map(tuple, res_driver.dims[entity].collect()))
        x_rows = sorted(map(tuple, res_exec.dims[entity].collect()))
        assert x_rows == d_rows, f"dim_{entity} differs on the executor path"
    assert not os.path.exists(f"{wh_exec}/_staging")


def test_streaming_ingest_one_microbatch(spark, raw_dir, tmp_path):
    wh = tmp_path / "stream_wh"
    dims = pipeline.run(
        spark, str(raw_dir), str(tmp_path / "seed_wh"), fetchers=_fake_fetchers()
    ).dims

    q = start_fact_tracks_ingest(
        spark,
        str(raw_dir),
        str(wh / "fact_tracks"),
        dims["track"],
        dims["artist"],
        dims["reason"],
        checkpoint_dir=str(wh / "_checkpoint"),
        available_now=True,
    )
    q.awaitTermination(120)
    fact = spark.read.parquet(str(wh / "fact_tracks"))
    assert fact.count() == 3
    assert fact.filter(F.col("track_fk").isNotNull()).count() == 3

    # restart with no new files: checkpoint prevents reprocessing
    q2 = start_fact_tracks_ingest(
        spark,
        str(raw_dir),
        str(wh / "fact_tracks"),
        dims["track"],
        dims["artist"],
        dims["reason"],
        checkpoint_dir=str(wh / "_checkpoint"),
        available_now=True,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(wh / "fact_tracks")).count() == 3


def test_streaming_windowed_agg_plan_is_streaming(spark, raw_dir):
    stream = read_history_stream(spark, str(raw_dir))
    assert stream.isStreaming
    agg = hourly_platform_counts(stream)
    assert agg.isStreaming
    assert set(agg.columns) == {"start", "end", "platform", "n_plays", "ms_played"}


def test_hourly_windows_batch_parity(spark, raw_dir):
    """The windowed agg logic applied to the same data in batch mode
    gives the windows the stream would emit."""
    from spotify_streaming_etl_pipeline_spark.sources.history import read_history

    batch = read_history(spark, str(raw_dir))
    out = hourly_platform_counts(batch).collect()
    by_window = {(r["start"].isoformat(), r["platform"]): r["n_plays"] for r in out}
    assert sum(by_window.values()) == 4
    assert len(by_window) == 3  # 00:00 (2 rows), 02:00, 10:00


def test_cli_main_runs_pipeline(spark, raw_dir, tmp_path, capsys):
    """The module CLI (reference scripts/main.py analogue) runs the
    no-enrichment pipeline end to end."""
    from spotify_streaming_etl_pipeline_spark.main import main

    rc = main(
        ["--raw-dir", str(raw_dir), "--warehouse-dir", str(tmp_path / "wh_cli")]
    )
    assert rc == 0
    # dim_reason is derivable without enrichment and must be written
    reasons = spark.read.parquet(str(tmp_path / "wh_cli" / "dim_reason"))
    assert reasons.count() >= 2


def test_watermark_drops_late_events_across_restarts(spark, tmp_path):
    """The bounded-state claim of §2.9, exercised: after batch 1 the
    watermark (max event time - 2h) persists in the checkpoint; a
    restart feeding an event OLDER than the watermark must drop it,
    while an in-window event still updates its aggregate."""
    from spotify_streaming_etl_pipeline_spark.streaming.ingest import (
        hourly_platform_counts,
        read_history_stream,
    )

    raw = tmp_path / "wm_raw"
    raw.mkdir()
    ckpt = str(tmp_path / "wm_ckpt")
    batches = []

    def run_once():
        stream = read_history_stream(spark, str(raw))
        q = (
            hourly_platform_counts(stream, watermark="2 hours")
            .writeStream.foreachBatch(
                lambda df, bid: batches.append(
                    [(r["start"].isoformat(), r["n_plays"]) for r in df.collect()]
                )
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write_export(raw / "a.json", [history_row(ts="2021-01-01T10:00:00Z")])
    run_once()
    _write_export(
        raw / "b.json",
        [
            history_row(ts="2021-01-01T05:00:00Z"),  # < watermark (08:00): drop
            history_row(ts="2021-01-01T10:30:00Z"),  # same 10:00 window: update
        ],
    )
    run_once()
    flat = [w for b in batches for w in b]
    assert not any(s.startswith("2021-01-01T05") for s, _ in flat), flat
    assert ("2021-01-01T10:00:00", 2) in flat, flat


def test_session_windows_batch_stream_parity(spark, tmp_path):
    """The registered `user_sessions` operator must produce IDENTICAL
    rows whether its events arrive as a batch frame or as a stream
    drained through foreachBatch (the backfill mode every streaming
    deployment starts from) — one logical operator, two front ends,
    zero semantic drift. Runs on the driver's correctness corpus
    (sf0.01 events when present, else the conftest default)."""
    from spotify_streaming_etl_pipeline_spark.sources.catalog import load_table
    from spotify_streaming_etl_pipeline_spark.streaming.ingest import session_windows

    from tests.conftest import SF_DIR

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):  # pragma: no cover - driver env always has it
        sf = SF_DIR
    ev = load_table(spark, sf, "events").select("user_id", "ts", "value")

    batch_rows = sorted(
        map(tuple, session_windows(ev, key_col="user_id").collect())
    )

    src = str(tmp_path / "events_src")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    assert stream.isStreaming
    got: list = []

    def sink(bdf, _bid):
        got.extend(
            map(tuple, session_windows(bdf, key_col="user_id").collect())
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sorted(got) == batch_rows
    assert len(batch_rows) > 0


def test_pipeline_compacts_fact_partitions_end_to_end(spark, raw_dir, tmp_path):
    """Compaction after the runner's appends: once incremental runs
    fragment a year partition, ``compact_partitioned`` leaves each
    `_year=` leaf at the size-derived file count with every row and the
    partition column intact, and the next run reads the compacted
    table back."""
    from spotify_streaming_etl_pipeline_spark.operators.maintenance import (
        compact_partitioned,
        parquet_file_stats,
    )

    wh = str(tmp_path / "warehouse")
    pipeline.run(spark, str(raw_dir), wh, fetchers=_fake_fetchers())
    # new export -> second incremental append fragments _year=2021
    _write_export(
        raw_dir / "export_3.json",
        [history_row(ts="2021-07-01T00:00:00Z", spotify_track_uri="spotify:track:456")],
    )
    fact_dir = f"{wh}/fact_tracks"
    res = pipeline.run(spark, str(raw_dir), wh, fetchers=_fake_fetchers())
    assert res.n_fact_rows["tracks"] == 1  # the new play appended
    n_before, _ = parquet_file_stats(fact_dir)
    assert n_before >= 2  # appends really did fragment before compaction
    compacted = compact_partitioned(spark, fact_dir)
    assert compacted.get("_year=2021") == 1
    # no work-dir residue is visible to (or breaks) the partitioned read
    fact = spark.read.parquet(fact_dir)
    assert fact.count() == 4
    assert fact.filter(F.col("_year") == 2021).count() == 4
    # the next run's cutoff and re-read see the compacted table
    res = pipeline.run(spark, str(raw_dir), wh, fetchers=_fake_fetchers())
    assert res.n_fact_rows["tracks"] == 0
    assert res.facts["tracks"].count() == 4


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream attribution join == the same join run
    as one batch: every (click, purchase-within-30min) pair, no
    duplicates, no losses, under an availableNow drain."""
    from spotify_streaming_etl_pipeline_spark.sources.catalog import load_table
    from spotify_streaming_etl_pipeline_spark.streaming.joins import attribution_join

    from tests.conftest import SF_DIR

    sf = "/root/testdata/sf0.01" if os.path.isdir("/root/testdata/sf0.01") else SF_DIR
    # Watermarks require TIMESTAMP (event time); the catalog's events
    # ts is NTZ, so pin the zone interpretation explicitly up front.
    ev = (
        load_table(spark, sf, "events")
        .select("event_id", "user_id", "ts", "event_type")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    clicks_b = ev.filter(F.col("event_type") == "click").drop("event_type")
    purch_b = ev.filter(F.col("event_type") == "purchase").drop("event_type")

    batch_rows = sorted(map(tuple, attribution_join(clicks_b, purch_b).collect()))
    assert len(batch_rows) > 0

    csrc, psrc = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    clicks_b.write.parquet(csrc)
    purch_b.write.parquet(psrc)
    cs = spark.readStream.schema(clicks_b.schema).parquet(csrc)
    ps = spark.readStream.schema(purch_b.schema).parquet(psrc)
    joined = attribution_join(cs, ps)
    assert joined.isStreaming
    # Both sides carry a watermark -> join state is evictable.
    lp = joined._jdf.queryExecution().analyzed().toString()
    assert lp.count("EventTimeWatermark") == 2, lp

    got: list = []
    q = (
        joined.writeStream.foreachBatch(
            lambda bdf, _bid: got.extend(map(tuple, bdf.collect()))
        )
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sorted(got) == batch_rows


def test_dedup_within_watermark_drops_redeliveries(spark, tmp_path):
    """Native event-time dedup: re-delivered keys inside the watermark
    window emit once; the streaming drain equals batch dropDuplicates
    on the same keys."""
    import datetime as dt

    from spotify_streaming_etl_pipeline_spark.streaming.stateful import (
        dedup_within_watermark,
    )

    base = dt.datetime(2022, 3, 1, 12, 0, 0)
    rows = [
        (1, base, "a"),
        (1, base + dt.timedelta(minutes=5), "a-dup"),   # same key, in window
        (2, base + dt.timedelta(minutes=1), "b"),
        (3, base + dt.timedelta(minutes=2), "c"),
        (3, base + dt.timedelta(minutes=2), "c-dup"),
    ]
    df = frame(spark, rows, "k long, ts timestamp, payload string")
    src = str(tmp_path / "dedup_src")
    df.write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    got: list = []
    q = (
        dedup_within_watermark(stream, ["k"], watermark="1 hour")
        .writeStream.foreachBatch(
            lambda bdf, _bid: got.extend((r["k"],) for r in bdf.collect())
        )
        .option("checkpointLocation", str(tmp_path / "dw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sorted(got) == [(1,), (2,), (3,)]


def test_fact_ingest_batch_replay_is_idempotent(spark, raw_dir, tmp_path):
    """Review finding r6: foreachBatch is at-least-once — a crash
    between the parquet append and the checkpoint commit replays the
    batch, so the append must be the conflict-ignore writer (replay
    lands zero new rows), not a blind append (which doubled them).
    Simulated by deleting the checkpoint after a drain: the restarted
    query reprocesses every file as a fresh batch."""
    import shutil

    wh = tmp_path / "replay_wh"
    dims = pipeline.run(
        spark, str(raw_dir), str(tmp_path / "seed_wh2"), fetchers=_fake_fetchers()
    ).dims

    def drain(ckpt):
        q = start_fact_tracks_ingest(
            spark,
            str(raw_dir),
            str(wh / "fact_tracks"),
            dims["track"],
            dims["artist"],
            dims["reason"],
            checkpoint_dir=str(wh / ckpt),
            available_now=True,
        )
        q.awaitTermination(120)

    drain("_ckpt_a")
    n_once = spark.read.parquet(str(wh / "fact_tracks")).count()
    assert n_once == 3
    # crash-replay simulation: fresh checkpoint -> every batch re-runs
    drain("_ckpt_b")
    assert spark.read.parquet(str(wh / "fact_tracks")).count() == n_once


def test_fact_ingest_redrop_with_unknown_track_adds_no_rows(spark, raw_dir, tmp_path):
    """Exactly-once for plays whose track is missing from ``dim_track``:
    they land with ``track_fk IS NULL``, and when the same content is
    dropped again under a new file name the conflict-ignore append must
    still recognise them (the NULL key part compares null-safe), so the
    re-drop adds 0 rows."""
    dims = pipeline.run(
        spark, str(raw_dir), str(tmp_path / "seed_wh"), fetchers=_fake_fetchers()
    ).dims
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = tmp_path / "stream_wh"
    rows = [
        history_row(ts="2022-02-01T00:00:00Z"),
        history_row(ts="2022-02-01T00:05:00Z", spotify_track_uri="spotify:track:999"),
    ]

    def drain():
        q = start_fact_tracks_ingest(
            spark,
            str(inbox),
            str(wh / "fact_tracks"),
            dims["track"],
            dims["artist"],
            dims["reason"],
            checkpoint_dir=str(wh / "_checkpoint"),
            available_now=True,
        )
        q.awaitTermination(120)
        return spark.read.parquet(str(wh / "fact_tracks"))

    _write_export(inbox / "day_1.json", rows)
    fact = drain()
    assert fact.count() == 2
    assert fact.filter(F.col("track_fk").isNull()).count() == 1

    _write_export(inbox / "day_1_redropped.json", rows)
    assert drain().count() == 2
