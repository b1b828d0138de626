"""Fact pipeline — the two 6-way star left joins (SURVEY §2.3 J1/J2).

Reference: insert_core_facts (scripts/etl/transformer.py:251-349); one
INSERT…SELECT per fact executed inside Postgres. Here each is a single
DataFrame plan: every dimension is broadcast (they are tiny relative
to the fact), so the physical plan is a chain of BroadcastHashJoins
over one fact scan — zero fact-side shuffles; this is the plan shape
that survives a 1000-executor 100 TB run.

Timezone discipline (F1): facts store *naive Moscow wall-clock*
``ts_msk`` like the reference (core_ddl.sql:91,112); the delta cutoff
converts back to UTC for comparison (db_manager.py:144-146).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import (
    date_id,
    from_utc,
    minute_of_day,
    ms_to_sec_trunc,
    safe_percent,
)


def _with_msk(history: DataFrame) -> DataFrame:
    return history.withColumn("ts_msk", from_utc(F.col("ts")))


def _reason_keys(dim_reason: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The (start, end) reason-key lookups both facts join, broadcast:
    ``reason_start_fk``/``_rs_type`` and ``reason_end_fk``/``_re_type``."""
    return tuple(
        F.broadcast(
            dim_reason.filter(F.col("reason_group") == group).select(
                F.col("reason_id").alias(f"reason_{group}_fk"),
                F.col("reason_type").alias(f"_r{group[0]}_type"),
            )
        )
        for group in ("start", "end")
    )


def build_fact_tracks(
    history: DataFrame,
    dim_track: DataFrame,
    dim_artist: DataFrame,
    dim_reason: DataFrame,
) -> DataFrame:
    """J1: track plays → fact_tracks_history.

    date_fk/time_fk are computed smart keys (yyyymmdd / minute-of-day)
    rather than joined from dim_date/dim_time — identical values to the
    reference's joins on generated dims (dim_date_populate.sql:5-7),
    but with two broadcast joins *eliminated* from the hot path; the
    generated dims still exist for query-time joins."""
    h = _with_msk(history.filter(F.col("spotify_track_uri").isNotNull()))

    dt_ = F.broadcast(
        dim_track.select(
            "track_id", "spotify_track_uri", "spotify_artist_uri", "duration_ms"
        ).withColumnRenamed("duration_ms", "_dur_ms")
    )
    da = F.broadcast(dim_artist.select("artist_id", "spotify_artist_uri"))
    rs, re_ = _reason_keys(dim_reason)

    joined = (
        h.join(dt_, "spotify_track_uri", "left")
        .join(da, "spotify_artist_uri", "left")
        .join(rs, h.reason_start == rs._rs_type, "left")
        .join(re_, h.reason_end == re_._re_type, "left")
    )
    return joined.select(
        F.col("ts_msk"),
        date_id(F.to_date("ts_msk")).alias("date_fk"),
        minute_of_day(F.col("ts_msk")).alias("time_fk"),
        F.col("ms_played"),
        ms_to_sec_trunc("ms_played").alias("sec_played"),
        F.col("track_id").alias("track_fk"),
        F.col("artist_id").alias("artist_fk"),
        F.col("reason_start_fk"),
        F.col("reason_end_fk"),
        F.col("shuffle"),
        safe_percent(F.col("ms_played"), F.col("_dur_ms")).alias("percent_played"),
        F.col("offline"),
        F.col("offline_timestamp"),
    )


def build_fact_podcasts(
    history: DataFrame,
    dim_episode: DataFrame,
    dim_podcast: DataFrame,
    dim_reason: DataFrame,
) -> DataFrame:
    """J2: podcast plays → fact_podcasts_history; missing dim lookups
    coalesce to sentinel key 0 (reference transformer.py:315-316)."""
    h = _with_msk(
        history.filter(
            F.col("spotify_episode_uri").isNotNull()
            & (F.col("spotify_episode_uri") != "")
        )
    )

    de = F.broadcast(
        dim_episode.select("episode_id", "spotify_episode_uri", "spotify_podcast_uri")
    )
    dp = F.broadcast(
        dim_podcast.select("podcast_id", "spotify_podcast_uri")
    )
    rs, re_ = _reason_keys(dim_reason)

    joined = (
        h.join(de, "spotify_episode_uri", "left")
        .join(dp, "spotify_podcast_uri", "left")
        .join(rs, h.reason_start == rs._rs_type, "left")
        .join(re_, h.reason_end == re_._re_type, "left")
    )
    return joined.select(
        F.col("ts_msk"),
        date_id(F.to_date("ts_msk")).alias("date_fk"),
        minute_of_day(F.col("ts_msk")).alias("time_fk"),
        ms_to_sec_trunc("ms_played").alias("sec_played"),
        F.coalesce(F.col("episode_id"), F.lit(0)).alias("episode_fk"),
        F.coalesce(F.col("podcast_id"), F.lit(0)).alias("podcast_fk"),
        F.col("reason_start_fk"),
        F.col("reason_end_fk"),
    )


def write_fact(fact: DataFrame, path: str) -> dict:
    """Facts are partitioned by derived year at rest — date-range
    queries prune partitions; at 100 TB this is the difference between
    a full scan and reading one year.

    Returns write metrics (row count, null-key count, year span)
    collected via ``DataFrame.observe`` — accumulated DURING the write
    job itself, so the audit costs zero extra passes (a follow-up
    ``count()`` would re-scan everything just written)."""
    from pyspark.sql import Observation

    obs = Observation()
    out = fact.withColumn("_year", (F.col("date_fk") / 10000).cast("int"))
    out = out.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("date_fk").isNull(), 1)).alias("n_null_date_fk"),
        F.min("_year").alias("min_year"),
        F.max("_year").alias("max_year"),
    )
    out.write.mode("append").partitionBy("_year").parquet(path)
    return obs.get
