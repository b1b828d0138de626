"""Unit tests for the Spotify-domain pipeline, reproducing the
reference's own test truth tables (FIXTURES.md §4) plus the semantics
drift edges pinned in SURVEY §7."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from spotify_streaming_etl_pipeline_spark.functions.scalar import (
    ms_to_sec_round,
    ms_to_sec_trunc,
    normalize_release_date,
    safe_percent,
)
from spotify_streaming_etl_pipeline_spark.plans import dims, facts, mapping, marts
from spotify_streaming_etl_pipeline_spark.operators.writer import dedup_new, upsert
from spotify_streaming_etl_pipeline_spark.sources.history import (
    delta_filter,
    max_loaded_ts,
    read_history,
)
from tests.fixtures import episode_envelope, frame, history_row, track_envelope


def _history_df(spark, rows):
    from spotify_streaming_etl_pipeline_spark.schemas import HISTORY_SCHEMA, local_frame

    df = local_frame(
        spark,
        [tuple(r[f.name] for f in HISTORY_SCHEMA.fields) for r in rows],
        HISTORY_SCHEMA,
    )
    return df.withColumn("ts", F.to_timestamp("ts", "yyyy-MM-dd'T'HH:mm:ssX"))


# --- delta filter truth table (test_json_extractor.py:64-68) ---------------


@pytest.mark.parametrize(
    "cutoff,expected",
    [
        (dt.datetime(2020, 1, 1), 2),
        (dt.datetime(2022, 1, 1), 1),
        (dt.datetime(2023, 1, 1), 0),
    ],
)
def test_delta_filter_truth_table(spark, cutoff, expected):
    rows = [
        history_row(ts="2021-01-01T00:00:00Z"),
        history_row(ts="2023-01-01T00:00:00Z", spotify_track_uri="spotify:track:456"),
    ]
    df = _history_df(spark, rows)
    assert delta_filter(df, cutoff).count() == expected


def test_read_history_json(spark, tmp_path):
    f = tmp_path / "export.json"
    f.write_text(json.dumps([history_row(), history_row(ts="2022-05-05T10:30:00Z")]))
    df = read_history(spark, str(f))
    rows = df.orderBy("ts").collect()
    assert len(rows) == 2
    assert rows[0]["ts"] == dt.datetime(2021, 1, 1)
    assert rows[0]["ms_played"] == 3000 and rows[0]["shuffle"] is False


# --- new-entity dedup truth table (test_spotify_extractor.py:23-31) --------


@pytest.mark.parametrize(
    "hist,core,staged,expected",
    [
        (["u1", "u2", "u3"], ["u1"], ["u2"], {"u3"}),
        (["u1", "u2", "u3"], [], [], {"u1", "u2", "u3"}),
        (["u1", "u2", "u3"], ["u1", "u2"], ["u3"], set()),
        (["u1", "u2", "u3"], ["u1", "u2", "u3"], [], set()),
    ],
)
def test_new_entity_dedup(spark, hist, core, staged, expected):
    mk = lambda xs: frame(spark, [(x,) for x in xs], "uri string") if xs else None
    out = dims.new_entities(mk(hist), mk(core), mk(staged))
    assert {r["uri"] for r in out.collect()} == expected


# --- envelope cleaning (transformer.py:13-159) ------------------------------


def test_clean_tracks_nested_extraction(spark):
    uri, raw = track_envelope()
    env = frame(spark, [(uri, raw)], "spotify_track_uri string, raw_data string")
    row = dims.clean_tracks(env).collect()[0]
    assert row["spotify_track_uri"] == uri
    assert row["cover_art_url"] == "http://img/1"
    assert row["artist_name"] == "Test Artist"  # first artist only
    assert row["spotify_artist_uri"] == "spotify:artist:9"
    assert row["release_date"] == dt.date(2020, 7, 15)
    assert row["duration_sec"] == 200


def test_clean_tracks_skips_broken_rows(spark):
    env = frame(
        spark,
        [("u1", json.dumps({"name": "no uri"})), track_envelope("u2")],
        "spotify_track_uri string, raw_data string",
    )
    out = dims.clean_tracks(env)
    assert [r["spotify_track_uri"] for r in out.collect()] == ["u2"]


def test_clean_episodes_show_fields(spark):
    uri, raw = episode_envelope()
    env = frame(spark, [(uri, raw)], "spotify_episode_uri string, raw_data string")
    row = dims.clean_episodes(env).collect()[0]
    assert row["podcast_name"] == "Test Show"
    assert row["spotify_podcast_uri"] == "spotify:show:42"
    assert row["release_date"] == dt.date(2021, 3, 1)  # month precision padded
    # Spark round is HALF_UP: 1800.5 -> 1801 (Python round would give
    # 1800 — the half-even drift pinned in functions/scalar.py F5)
    assert row["duration_sec"] == 1801


def test_release_date_normalization(spark):
    cases = [
        ("0000", "year", dt.date(1900, 1, 1)),
        ("1989", "year", dt.date(1989, 1, 1)),
        ("2020-07", "month", dt.date(2020, 7, 1)),
        ("2020-07-15", "day", dt.date(2020, 7, 15)),
        (None, "day", None),
    ]
    df = frame(spark, cases, "rd string, prec string, expected date")
    out = df.select(
        normalize_release_date(F.col("rd"), F.col("prec")).alias("got"), "expected"
    ).collect()
    for r in out:
        assert r["got"] == r["expected"]


# --- derived measures (FIXTURES §4 spot checks) -----------------------------


def test_derived_measure_semantics(spark):
    df = frame(
        spark,
        [(1999, 180000), (2500, 0), (999, 200000)], "ms int, dur int"
    )
    rows = df.select(
        ms_to_sec_trunc("ms").alias("sec"),
        ms_to_sec_round("ms").alias("sec_r"),
        safe_percent(F.col("ms"), F.col("dur")).alias("pct"),
    ).collect()
    assert [r["sec"] for r in rows] == [1, 2, 0]  # truncating div
    assert [r["sec_r"] for r in rows] == [2, 3, 1]  # half-up round
    assert rows[1]["pct"] is None  # NULLIF(0) guard
    assert rows[0]["pct"] == pytest.approx(1.1)


# --- dim_reason + surrogate keys + idempotency ------------------------------


def test_dim_reason_build_and_increment(spark):
    h1 = _history_df(spark, [history_row(), history_row(reason_start="clickrow")])
    d1 = dims.build_dim_reason(h1)
    got = {(r["reason_type"], r["reason_group"]) for r in d1.collect()}
    assert got == {("trackdone", "start"), ("clickrow", "start"), ("endplay", "end")}
    ids = sorted(r["reason_id"] for r in d1.collect())
    assert ids == [1, 2, 3]  # dense, deterministic

    h2 = _history_df(spark, [history_row(reason_end="fwdbtn")])
    d2 = dims.build_dim_reason(h2, existing=d1)
    assert d2.count() == 4
    new = d2.filter(F.col("reason_type") == "fwdbtn").collect()[0]
    assert new["reason_id"] == 4  # continues after existing max


def test_load_dim_conflict_ignore(spark):
    uri, raw = track_envelope("spotify:track:A")
    env = frame(
        spark,
        [(uri, raw), track_envelope("spotify:track:B")],
        "spotify_track_uri string, raw_data string",
    )
    d1 = dims.load_dim(dims.clean_tracks(env), "spotify_track_uri", "track_id")
    assert d1.count() == 2
    # re-load same plus one new: existing keys stable, one appended
    env2 = frame(
        spark,
        [track_envelope("spotify:track:A"), track_envelope("spotify:track:C")],
        "spotify_track_uri string, raw_data string",
    )
    d2 = dims.load_dim(dims.clean_tracks(env2), "spotify_track_uri", "track_id", existing=d1)
    assert d2.count() == 3
    a1 = d1.filter(F.col("spotify_track_uri") == "spotify:track:A").collect()[0]["track_id"]
    a2 = d2.filter(F.col("spotify_track_uri") == "spotify:track:A").collect()[0]["track_id"]
    assert a1 == a2  # conflict-ignored, key stable


def test_upsert_conflict_update(spark):
    target = frame(spark, [(1, "old"), (2, "keep")], "child_id long, v string")
    incoming = frame(spark, [(1, "new"), (3, "ins")], "child_id long, v string")
    out = {r["child_id"]: r["v"] for r in upsert(incoming, ["child_id"], target).collect()}
    assert out == {1: "new", 2: "keep", 3: "ins"}


# --- fact builds (J1/J2) -----------------------------------------------------


def _mini_warehouse(spark):
    h = _history_df(
        spark,
        [
            history_row(ts="2021-06-01T21:30:00Z", ms_played=90000),
            history_row(
                ts="2021-06-02T05:00:00Z",
                spotify_track_uri=None,
                spotify_episode_uri="spotify:episode:7",
                episode_name="Ep",
                reason_start="playbtn",
            ),
        ],
    )
    env_t = frame(spark, [track_envelope("spotify:track:123")],
                  "spotify_track_uri string, raw_data string")
    env_e = frame(spark, [episode_envelope("spotify:episode:7")],
                  "spotify_episode_uri string, raw_data string")
    dim_track = dims.load_dim(dims.clean_tracks(env_t), "spotify_track_uri", "track_id")
    dim_episode = dims.load_dim(dims.clean_episodes(env_e), "spotify_episode_uri", "episode_id")
    dim_artist = frame(
        spark,
        [(1, "spotify:artist:9", None, "Test Artist")],
        "artist_id long, spotify_artist_uri string, cover_art_url string, artist_name string",
    )
    dim_podcast = frame(
        spark,
        [(5, "spotify:show:42", "Test Show", None, None)],
        "podcast_id long, spotify_podcast_uri string, podcast_name string, "
        "description string, podcast_cover_art_url string",
    )
    dim_reason = dims.build_dim_reason(h)
    return h, dim_track, dim_artist, dim_episode, dim_podcast, dim_reason


def test_fact_tracks_star_join(spark):
    h, dtr, da, de, dp, dr = _mini_warehouse(spark)
    fact = facts.build_fact_tracks(h, dtr, da, dr)
    rows = fact.collect()
    assert len(rows) == 1  # episode row partitioned out (P3)
    r = rows[0]
    # 2021-06-01 21:30 UTC -> 2021-06-02 00:30 MSK
    assert r["ts_msk"] == dt.datetime(2021, 6, 2, 0, 30)
    assert r["date_fk"] == 20210602 and r["time_fk"] == 30
    assert r["sec_played"] == 90
    assert r["percent_played"] == pytest.approx(45.0)  # 90000/200000
    assert r["track_fk"] == 1 and r["artist_fk"] == 1
    assert r["reason_start_fk"] is not None and r["reason_end_fk"] is not None


def test_fact_podcasts_sentinel_coalesce(spark):
    h, dtr, da, de, dp, dr = _mini_warehouse(spark)
    # episode dim missing this uri → sentinel 0 (transformer.py:315-316)
    empty_ep = de.filter(F.lit(False))
    fact = facts.build_fact_podcasts(h, empty_ep, dp, dr)
    r = fact.collect()[0]
    assert r["episode_fk"] == 0 and r["podcast_fk"] == 0
    fact2 = facts.build_fact_podcasts(h, de, dp, dr)
    r2 = fact2.collect()[0]
    assert r2["episode_fk"] == 1 and r2["podcast_fk"] == 5


def test_fact_delta_cutoff_roundtrip(spark):
    h, dtr, da, de, dp, dr = _mini_warehouse(spark)
    fact = facts.build_fact_tracks(h, dtr, da, dr)
    cutoff = max_loaded_ts(fact, None)
    # cutoff is the UTC instant of the newest loaded row; the pipeline's
    # strict-> delta filter drops it before the rebuild
    fact_again = facts.build_fact_tracks(delta_filter(h, cutoff), dtr, da, dr)
    assert fact_again.count() == 0


# --- marts over a fact built end-to-end -------------------------------------


def test_marts_end_to_end(spark):
    h, dtr, da, de, dp, dr = _mini_warehouse(spark)
    fact = facts.build_fact_tracks(h, dtr, da, dr)
    y = marts.yearly_agg(fact).collect()
    assert len(y) == 1 and y[0]["year"] == 2021 and y[0]["streams"] == 1
    tt = marts.top_tracks(fact, dtr, limit=5).collect()
    assert tt[0]["track_title"] == "Test Track"
    assert tt[0]["estimated_streams"] == 0.0  # round(45/100)
    pd_df = marts.get_chart_data("track", fact, dim_track=dtr, limit=5)
    assert len(pd_df) == 1
    with pytest.raises(ValueError):
        marts.get_chart_data("bogus", fact)


# --- parent mapping ----------------------------------------------------------


def test_parent_mapping_queries(spark):
    dim_track = frame(
        spark,
        [
            (1, "spotify:track:a", "Style", "1989", "Taylor Swift"),
            (2, "spotify:track:b", "Style (Taylor's Version)", "1989 (Taylor's Version)", "Taylor Swift"),
            (3, "spotify:track:c", "Other", "X", "Someone"),
        ],
        "track_id long, spotify_track_uri string, track_title string, "
        "album_name string, artist_name string",
    )
    unmapped = mapping.unmapped_ts_versions(dim_track, None)
    assert [r["track_id"] for r in unmapped.collect()] == [2]
    sug = mapping.suggest_parents(dim_track, unmapped).collect()
    assert sug[0]["parent_track_title"] == "Style"
    merged = mapping.upsert_parent_mappings(
        frame(
            spark,
            [("spotify:track:b", 2, "Taylor Swift", "Style (Taylor's Version)",
              "1989 (Taylor's Version)", "Style", "1989")],
            "child_track_uri string, child_id long, artist string, "
            "child_track_title string, child_album_name string, "
            "parent_track_title string, parent_album_name string",
        ),
        None,
    )
    assert merged.count() == 1
    assert mapping.unmapped_ts_versions(dim_track, merged).count() == 0


def test_dedup_new_size_gate_paths_agree(spark):
    """Within-batch dedup plus the anti join keep exactly the new keys,
    whatever join strategy Catalyst picks for the target."""
    from spotify_streaming_etl_pipeline_spark.operators import writer

    incoming = frame(
        spark,
        [("a", 1), ("b", 2), ("b", 3), ("c", 4)], "k: string, v: int"
    )
    # a key repeated in the target still removes its incoming row once
    target = frame(
        spark,
        [("b", 0), ("b", 1), ("d", 0)], "k: string, v: int"
    )
    got = [r["k"] for r in writer.dedup_new(incoming, ["k"], target).collect()]
    assert sorted(got) == ["a", "c"]


def test_dedup_new_never_broadcasts_fact_sized_target(spark):
    """Plan-level proof of the size gate: a target whose Catalyst
    estimate exceeds the session's 64 MiB broadcast threshold must NOT
    plan a broadcast anti-join (driver OOM at 100 TB); a dim-sized
    target must. Uses spark.range's exact 8-byte/row stats so no data
    materializes."""
    from spotify_streaming_etl_pipeline_spark.operators import writer

    incoming = spark.range(100).select(F.col("id").alias("k"))
    # ~80 MB estimate > the 64 MB threshold
    big = spark.range(10_000_000).select(F.col("id").alias("k"))
    small = spark.range(10).select(F.col("id").alias("k"))

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    big_plan = plan(writer.dedup_new(incoming, ["k"], big))
    assert "BroadcastHashJoin" not in big_plan
    small_plan = plan(writer.dedup_new(incoming, ["k"], small))
    assert "BroadcastHashJoin" in small_plan


def test_read_history_skips_malformed_files(spark, tmp_path):
    """Reference truth table (its test_json_extractor.py:91-124): a
    malformed export file is skipped with a log, good files still
    load; rows without a parseable ts are dropped."""
    import json

    from spotify_streaming_etl_pipeline_spark.sources.history import read_history
    from tests.fixtures import history_row

    d = tmp_path / "raw"
    d.mkdir()
    (d / "good.json").write_text(
        json.dumps([history_row(), history_row(ts="2021-02-01T00:00:00Z")])
    )
    (d / "broken.json").write_text("{not valid json at all")
    (d / "empty.json").write_text("[]")
    (d / "missing_ts.json").write_text(json.dumps([{"platform": "web"}]))

    out = read_history(spark, str(d))
    rows = out.collect()
    assert len(rows) == 2
    assert all(r["ts"] is not None for r in rows)


def test_get_chart_data_validates_item_type(spark):
    """Dashboard wrapper input validation (reference
    dashboard/dashboard_queries.py:19-20)."""
    import pytest as _pytest

    fact = frame(spark, [], "date_fk long, sec_played long, percent_played double, track_fk long, artist_fk long")
    with _pytest.raises(ValueError, match="item_type"):
        marts.get_chart_data("playlist", fact)


def test_write_fact_returns_observed_metrics(spark, tmp_path):
    from pyspark.sql import functions as F

    from spotify_streaming_etl_pipeline_spark.plans.facts import write_fact

    df = frame(
        spark,
        [(20200101, 1.0), (20200102, 2.0), (20210301, 3.0)],
        "date_fk long, v double",
    )
    metrics = write_fact(df, str(tmp_path / "fact"))
    assert metrics["n_rows"] == 3
    assert metrics["n_null_date_fk"] == 0
    assert (metrics["min_year"], metrics["max_year"]) == (2020, 2021)
    # the write itself succeeded with the observed plan attached
    assert spark.read.parquet(str(tmp_path / "fact")).count() == 3


def test_dim_read_restores_swap_crash_residue(spark, tmp_path):
    """A crash between the dim snapshot swap's two renames leaves the
    live dim absent and its rows under ``.swap_old_<name>``.  The run's
    dim read must restore them: reading the dim as absent would
    rebuild it from the increment alone, keys from 1, and the swap
    would then promote that over every older row."""
    import os

    from spotify_streaming_etl_pipeline_spark.pipeline import _read_if_exists

    path = str(tmp_path / "dim_track")
    old = str(tmp_path / ".swap_old_dim_track")
    rows = frame(spark, [(1, "a"), (2, "b")], "track_id long, name string")
    rows.write.parquet(path)
    os.rename(path, old)
    df = _read_if_exists(spark, path, rows.schema)
    assert df is not None
    assert sorted(map(tuple, df.collect())) == [(1, "a"), (2, "b")]
    assert not os.path.isdir(old)


# --- per-run fixed cost: local relations, lazy dim builds -------------------


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_driver_rows_are_local_relations(spark):
    """Rows the driver already holds must plan as a ``LocalTableScan``:
    a ``Scan ExistingRDD`` re-reads them through a Python worker in a
    job of its own every time the frame runs."""
    from spotify_streaming_etl_pipeline_spark.sources.enrichment import (
        envelope_frame,
        enrich_uris,
    )

    records = [("spotify:track:B", {"uri": "spotify:track:B", "a": 1}),
               ("spotify:track:A", {"a": 2, "uri": "spotify:track:A"})]
    empty, two = envelope_frame(spark, []), envelope_frame(spark, records)

    def fetch(batch):
        return {"tracks": [None if u == "bad" else {"uri": u} for u in batch]}

    new = frame(spark, [("ok",), ("bad",)], "uri string")
    staged, failed = enrich_uris(spark, new, fetch, "track", sleeper=lambda s: None)
    frames = {
        "envelope_frame(0)": empty,
        "envelope_frame(2)": two,
        "enrich_uris staged": staged,
        "enrich_uris failed": failed,
        "sentinel_episode": dims.sentinel_episode(spark),
        "sentinel_podcast": dims.sentinel_podcast(spark),
    }
    for name, df in frames.items():
        plan = _executed_plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (name, plan)

    assert empty.count() == 0 and empty.columns == ["uri", "raw_data"]
    assert [tuple(r) for r in two.collect()] == [
        (u, json.dumps(p, sort_keys=True)) for u, p in records
    ]
    assert [r["uri"] for r in staged.collect()] == ["ok"]
    assert [(r["uri"], r["error_reason"]) for r in failed.collect()] == [
        ("bad", "API returned null")
    ]
    assert dims.sentinel_episode(spark).first()["episode_id"] == 0


def test_dim_builds_start_no_job(spark, tmp_path):
    """``load_dim`` and ``build_dim_reason`` over parquet-backed existing
    dims build without starting a Spark job (the key offset is computed
    inside the plan), yet keys continue after the existing max — and
    start at 1 when the existing dim has no rows."""
    sc = spark.sparkContext
    env = frame(
        spark,
        [track_envelope("spotify:track:A"), track_envelope("spotify:track:B")],
        "spotify_track_uri string, raw_data string",
    )
    dims.load_dim(dims.clean_tracks(env), "spotify_track_uri", "track_id").write.parquet(
        str(tmp_path / "dim_track")
    )
    dims.build_dim_reason(_history_df(spark, [history_row()])).write.parquet(
        str(tmp_path / "dim_reason")
    )
    existing_track = spark.read.parquet(str(tmp_path / "dim_track"))
    existing_reason = spark.read.parquet(str(tmp_path / "dim_reason"))
    no_track = existing_track.limit(0)
    env2 = frame(
        spark,
        [track_envelope("spotify:track:A"), track_envelope("spotify:track:C")],
        "spotify_track_uri string, raw_data string",
    )
    h2 = _history_df(spark, [history_row(reason_end="fwdbtn")])

    group = "test-dim-builds-start-no-job"
    sc.setJobGroup(group, "lazy dim build")
    try:
        track = dims.load_dim(
            dims.clean_tracks(env2), "spotify_track_uri", "track_id", existing_track
        )
        reason = dims.build_dim_reason(h2, existing_reason)
        fresh = dims.load_dim(
            dims.clean_tracks(env2), "spotify_track_uri", "track_id", no_track
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    keys = {r["spotify_track_uri"]: r["track_id"] for r in track.collect()}
    assert keys == {"spotify:track:A": 1, "spotify:track:B": 2, "spotify:track:C": 3}
    new = reason.filter(F.col("reason_type") == "fwdbtn").collect()
    assert [r["reason_id"] for r in new] == [3]  # after trackdone, endplay
    assert sorted(r["track_id"] for r in fresh.collect()) == [1, 2]
