"""Reference-shaped synthetic fixtures (FIXTURES.md §1-§2)."""

from __future__ import annotations

import json


def history_row(**over) -> dict:
    row = {
        "ts": "2021-01-01T00:00:00Z",
        "platform": "web",
        "ms_played": 3000,
        "conn_country": "US",
        "ip_addr": "127.0.0.1",
        "master_metadata_track_name": "Test Track",
        "master_metadata_album_artist_name": "Test Artist",
        "master_metadata_album_album_name": "Test Album",
        "spotify_track_uri": "spotify:track:123",
        "episode_name": None,
        "episode_show_name": None,
        "spotify_episode_uri": None,
        "reason_start": "trackdone",
        "reason_end": "endplay",
        "shuffle": False,
        "skipped": False,
        "offline": False,
        "offline_timestamp": None,
        "incognito_mode": False,
    }
    row.update(over)
    return row


def track_envelope(uri="spotify:track:123", **over) -> tuple[str, str]:
    obj = {
        "uri": uri,
        "name": "Test Track",
        "duration_ms": 200000,
        "album": {
            "name": "Test Album",
            "id": "alb1",
            "album_type": "album",
            "release_date": "2020-07-15",
            "release_date_precision": "day",
            "images": [{"url": "http://img/1"}],
        },
        "artists": [
            {"name": "Test Artist", "uri": "spotify:artist:9"},
            {"name": "Feat Artist", "uri": "spotify:artist:10"},
        ],
    }
    obj.update(over)
    return (uri, json.dumps(obj))


def episode_envelope(uri="spotify:episode:7", **over) -> tuple[str, str]:
    obj = {
        "uri": uri,
        "duration_ms": 1800500,
        "release_date": "2021-03",
        "release_date_precision": "month",
        "show": {"name": "Test Show", "uri": "spotify:show:42"},
    }
    obj.update(over)
    return (uri, json.dumps(obj))


def frame(spark, rows: list[tuple], ddl: str):
    """``rows`` (tuples in the field order of the DDL schema ``ddl``) as
    a local relation (``schemas.local_frame``)."""
    from pyspark.sql.types import StructType

    from spotify_streaming_etl_pipeline_spark.schemas import local_frame

    return local_frame(spark, rows, StructType.fromDDL(ddl))
