"""Dimension pipeline: entity discovery, envelope cleaning, dim builds.

The reference cleans API JSON row-by-row in Python
(reference scripts/etl/transformer.py:13-159) and discovers new
entities by Python set difference (scripts/etl/extractor.py:227-252).
Here both are pure column expressions / anti-joins — JVM-side,
codegen-friendly, no UDFs (SURVEY §2.10).

Every builder here is lazy: building a dim (including its surrogate
keys, which continue after the existing dim's max inside the plan)
starts no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import (
    is_weekend,
    ms_to_sec_round,
    normalize_release_date,
    part_of_day,
)
from ..operators.surrogate import with_surrogate_key_after
from ..operators.writer import dedup_new
from ..schemas import ENVELOPE_SCHEMAS, WAREHOUSE_SCHEMAS, local_frame

# ---------------------------------------------------------------------------
# Entity discovery (A4/A5/J7/U2)
# ---------------------------------------------------------------------------


def distinct_uris(df: DataFrame, uri_col: str) -> DataFrame:
    """A4: SELECT DISTINCT uri (reference db_manager.py:104-122)."""
    return (
        df.select(F.col(uri_col).alias("uri"))
        .filter(F.col("uri").isNotNull() & (F.col("uri") != ""))
        .distinct()
    )


def artist_uris_from_track_envelopes(track_envelopes: DataFrame) -> DataFrame:
    """A5: distinct artist uris mined from staged track JSON
    (reference db_manager.py:124-131) — from_json + explode replaces
    jsonb_array_elements."""
    parsed = track_envelopes.select(
        F.from_json("raw_data", ENVELOPE_SCHEMAS["track"]).alias("t")
    )
    return (
        parsed.select(F.explode("t.artists").alias("a"))
        .select(F.col("a.uri").alias("uri"))
        .filter(F.col("uri").isNotNull())
        .distinct()
    )


def podcast_uris_from_episode_envelopes(episode_envelopes: DataFrame) -> DataFrame:
    """A5: distinct show uris from episode JSON (db_manager.py:133-137)."""
    parsed = episode_envelopes.select(
        F.from_json("raw_data", ENVELOPE_SCHEMAS["episode"]).alias("e")
    )
    return (
        parsed.select(F.col("e.show.uri").alias("uri"))
        .filter(F.col("uri").isNotNull())
        .distinct()
    )


def new_entities(
    staged_history_uris: DataFrame,
    core_uris: DataFrame | None,
    staged_uris: DataFrame | None,
) -> DataFrame:
    """J7/U2: ``new = history − core − staged`` — the reference's Python
    set difference (extractor.py:227-252) as chained left_anti joins."""
    out = staged_history_uris
    for other in (core_uris, staged_uris):
        if other is not None:
            out = out.join(other, ["uri"], "left_anti")
    return out


# ---------------------------------------------------------------------------
# Envelope cleaning → conformed dim rows (native expressions, no UDF)
# ---------------------------------------------------------------------------


def clean_tracks(envelopes: DataFrame) -> DataFrame:
    """Track envelope → dim_track columns
    (reference scripts/etl/transformer.py:13-52; F12-F14, F5, F13).
    Rows whose required fields are missing are dropped — the reference
    returns None and skips (transformer.py:50-52)."""
    t = F.from_json("raw_data", ENVELOPE_SCHEMAS["track"])
    out = envelopes.select(
        t.getField("uri").alias("spotify_track_uri"),
        t.getField("name").alias("track_title"),
        F.element_at(t.getField("album").getField("images"), 1)
        .getField("url")
        .alias("cover_art_url"),
        t.getField("album").getField("name").alias("album_name"),
        t.getField("album").getField("id").alias("album_spotify_id"),
        t.getField("album").getField("album_type").alias("album_type"),
        F.element_at(t.getField("artists"), 1).getField("name").alias("artist_name"),
        F.element_at(t.getField("artists"), 1)
        .getField("uri")
        .alias("spotify_artist_uri"),
        normalize_release_date(
            t.getField("album").getField("release_date"),
            t.getField("album").getField("release_date_precision"),
        ).alias("release_date"),
        t.getField("duration_ms").cast("long").alias("duration_ms"),
        ms_to_sec_round(t.getField("duration_ms")).alias("duration_sec"),
    )
    return out.filter(
        F.col("spotify_track_uri").isNotNull() & F.col("track_title").isNotNull()
    )


def clean_artists(envelopes: DataFrame) -> DataFrame:
    """(transformer.py:54-75)"""
    a = F.from_json("raw_data", ENVELOPE_SCHEMAS["artist"])
    out = envelopes.select(
        a.getField("uri").alias("spotify_artist_uri"),
        F.element_at(a.getField("images"), 1).getField("url").alias("cover_art_url"),
        a.getField("name").alias("artist_name"),
    )
    return out.filter(
        F.col("spotify_artist_uri").isNotNull() & F.col("artist_name").isNotNull()
    )


def clean_podcasts(envelopes: DataFrame) -> DataFrame:
    """(transformer.py:77-100)"""
    p = F.from_json("raw_data", ENVELOPE_SCHEMAS["podcast"])
    out = envelopes.select(
        p.getField("uri").alias("spotify_podcast_uri"),
        p.getField("name").alias("podcast_name"),
        p.getField("description").alias("description"),
        F.element_at(p.getField("images"), 1)
        .getField("url")
        .alias("podcast_cover_art_url"),
    )
    return out.filter(
        F.col("spotify_podcast_uri").isNotNull() & F.col("podcast_name").isNotNull()
    )


def clean_episodes(envelopes: DataFrame) -> DataFrame:
    """(transformer.py:102-130)"""
    e = F.from_json("raw_data", ENVELOPE_SCHEMAS["episode"])
    out = envelopes.select(
        e.getField("uri").alias("spotify_episode_uri"),
        e.getField("duration_ms").cast("long").alias("duration_ms"),
        ms_to_sec_round(e.getField("duration_ms")).alias("duration_sec"),
        e.getField("show").getField("name").alias("podcast_name"),
        e.getField("show").getField("uri").alias("spotify_podcast_uri"),
        normalize_release_date(
            e.getField("release_date"), e.getField("release_date_precision")
        ).alias("release_date"),
    )
    return out.filter(F.col("spotify_episode_uri").isNotNull())


# ---------------------------------------------------------------------------
# dim_reason (U1/A7) and idempotent dim loading (J10 + F23)
# ---------------------------------------------------------------------------


def build_dim_reason(history: DataFrame, existing: DataFrame | None = None) -> DataFrame:
    """DISTINCT reason_start ∪ DISTINCT reason_end with group tags,
    conflict-ignored against the existing dim
    (reference transformer.py:351-376)."""
    start = (
        history.select(F.col("reason_start").alias("reason_type"))
        .filter(F.col("reason_type").isNotNull())
        .distinct()
        .withColumn("reason_group", F.lit("start"))
    )
    end = (
        history.select(F.col("reason_end").alias("reason_type"))
        .filter(F.col("reason_type").isNotNull())
        .distinct()
        .withColumn("reason_group", F.lit("end"))
    )
    new = dedup_new(start.unionByName(end), ["reason_type", "reason_group"], existing)
    keyed = with_surrogate_key_after(
        new, "reason_id", ["reason_group", "reason_type"], existing
    )
    cols = ["reason_id", "reason_type", "reason_group"]
    out = keyed.select(*cols)
    return existing.select(*cols).unionByName(out) if existing is not None else out


def load_dim(
    cleaned: DataFrame,
    natural_key: str,
    key_name: str,
    existing: DataFrame | None = None,
) -> DataFrame:
    """Generic idempotent dim load: dedup on natural key, anti-join vs
    existing (ON CONFLICT DO NOTHING), assign dense surrogate keys
    starting after the current max."""
    new = dedup_new(cleaned, [natural_key], existing)
    keyed = with_surrogate_key_after(new, key_name, [natural_key], existing)
    cols = [key_name, *[c for c in cleaned.columns]]
    out = keyed.select(*cols)
    return existing.select(*cols).unionByName(out) if existing is not None else out


def sentinel_episode(spark: SparkSession) -> DataFrame:
    """episode_id=0 'Unknown' row (reference docs/sql/dummy_values.sql:1-4)."""
    return local_frame(
        spark,
        [(0, "Unknown", None, None, "Unknown", "Unknown", None)],
        WAREHOUSE_SCHEMAS["dim_episode"],
    )


def sentinel_podcast(spark: SparkSession) -> DataFrame:
    """podcast_id=0 'Unknown' row (dummy_values.sql:6-9)."""
    return local_frame(
        spark, [(0, "Unknown", "Unknown", None, None)], WAREHOUSE_SCHEMAS["dim_podcast"]
    )
