"""Declared schemas (never inferSchema — SURVEY §1.3).

The 19-column streaming-history contract mirrors the reference's
extractor projection (reference scripts/etl/extractor.py:41-64) typed
per docs/sql/staging_ddl.sql:1-22. The API envelope schemas declare
exactly the nested fields the reference's cleaning functions consume
(reference scripts/etl/transformer.py:13-130). ``WAREHOUSE_SCHEMAS``
declares the tables the pipeline writes (the reference's
docs/sql/core_ddl.sql), so reading them back infers nothing.

``local_frame`` turns rows the driver already holds into a frame of a
declared schema, planned as a ``LocalTableScan`` on the JVM.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --- raw streaming-history export (JSON array files) ----------------------

HISTORY_SCHEMA = StructType(
    [
        StructField("ts", StringType(), False),  # "%Y-%m-%dT%H:%M:%SZ"
        StructField("platform", StringType(), True),
        StructField("ms_played", IntegerType(), True),
        StructField("conn_country", StringType(), True),
        StructField("ip_addr", StringType(), True),
        StructField("master_metadata_track_name", StringType(), True),
        StructField("master_metadata_album_artist_name", StringType(), True),
        StructField("master_metadata_album_album_name", StringType(), True),
        StructField("spotify_track_uri", StringType(), True),
        StructField("episode_name", StringType(), True),
        StructField("episode_show_name", StringType(), True),
        StructField("spotify_episode_uri", StringType(), True),
        StructField("reason_start", StringType(), True),
        StructField("reason_end", StringType(), True),
        StructField("shuffle", BooleanType(), True),
        StructField("skipped", BooleanType(), True),
        StructField("offline", BooleanType(), True),
        StructField("offline_timestamp", LongType(), True),
        StructField("incognito_mode", BooleanType(), True),
    ]
)

# --- API enrichment envelopes (jsonb in the reference) ---------------------

_IMAGE = ArrayType(StructType([StructField("url", StringType(), True)]))

TRACK_SCHEMA = StructType(
    [
        StructField("uri", StringType(), True),
        StructField("name", StringType(), True),
        StructField("duration_ms", LongType(), True),
        StructField(
            "album",
            StructType(
                [
                    StructField("name", StringType(), True),
                    StructField("id", StringType(), True),
                    StructField("album_type", StringType(), True),
                    StructField("release_date", StringType(), True),
                    StructField("release_date_precision", StringType(), True),
                    StructField("images", _IMAGE, True),
                ]
            ),
            True,
        ),
        StructField(
            "artists",
            ArrayType(
                StructType(
                    [
                        StructField("name", StringType(), True),
                        StructField("uri", StringType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)

ARTIST_SCHEMA = StructType(
    [
        StructField("uri", StringType(), True),
        StructField("name", StringType(), True),
        StructField("images", _IMAGE, True),
    ]
)

PODCAST_SCHEMA = StructType(
    [
        StructField("uri", StringType(), True),
        StructField("name", StringType(), True),
        StructField("description", StringType(), True),
        StructField("images", _IMAGE, True),
    ]
)

EPISODE_SCHEMA = StructType(
    [
        StructField("uri", StringType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("release_date", StringType(), True),
        StructField("release_date_precision", StringType(), True),
        StructField(
            "show",
            StructType(
                [
                    StructField("name", StringType(), True),
                    StructField("uri", StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

ENVELOPE_SCHEMAS = {
    "track": TRACK_SCHEMA,
    "artist": ARTIST_SCHEMA,
    "podcast": PODCAST_SCHEMA,
    "episode": EPISODE_SCHEMA,
}

# --- warehouse tables (reference docs/sql/core_ddl.sql) ---------------------


_DDL_TYPES = {
    "long": LongType(),
    "int": IntegerType(),
    "string": StringType(),
    "date": DateType(),
    "timestamp": TimestampType(),
    "boolean": BooleanType(),
    "double": DoubleType(),
}


def _table(ddl: str) -> StructType:
    """``"name type, ..."`` as a schema whose columns are all nullable,
    as ``spark.read.parquet`` reads every parquet column back."""
    return StructType(
        [
            StructField(name, _DDL_TYPES[typ], True)
            for name, typ in (col.split() for col in ddl.split(","))
        ]
    )


#: Every table ``pipeline.run`` writes, keyed by its directory name under
#: the warehouse.  The facts end with their ``_year`` partition column.
WAREHOUSE_SCHEMAS = {
    "dim_track": _table(
        "track_id long, spotify_track_uri string, track_title string, "
        "cover_art_url string, album_name string, album_spotify_id string, "
        "album_type string, artist_name string, spotify_artist_uri string, "
        "release_date date, duration_ms long, duration_sec long"
    ),
    "dim_artist": _table(
        "artist_id long, spotify_artist_uri string, cover_art_url string, "
        "artist_name string"
    ),
    "dim_episode": _table(
        "episode_id long, spotify_episode_uri string, duration_ms long, "
        "duration_sec long, podcast_name string, spotify_podcast_uri string, "
        "release_date date"
    ),
    "dim_podcast": _table(
        "podcast_id long, spotify_podcast_uri string, podcast_name string, "
        "description string, podcast_cover_art_url string"
    ),
    "dim_reason": _table("reason_id long, reason_type string, reason_group string"),
    "fact_tracks": _table(
        "ts_msk timestamp, date_fk long, time_fk long, ms_played int, "
        "sec_played long, track_fk long, artist_fk long, reason_start_fk long, "
        "reason_end_fk long, shuffle boolean, percent_played double, "
        "offline boolean, offline_timestamp long, _year int"
    ),
    "fact_podcasts": _table(
        "ts_msk timestamp, date_fk long, time_fk long, sec_played long, "
        "episode_fk long, podcast_fk long, reason_start_fk long, "
        "reason_end_fk long, _year int"
    ),
}


# --- driver-held rows ---------------------------------------------------------


def local_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: StructType
) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order) as a frame planned
    as a ``LocalTableScan``: the rows travel to the JVM as one Arrow
    table, so no job starts a Python worker to re-read them.  A Python
    list (or an empty pandas frame) would plan as ``Scan ExistingRDD``
    over a PythonRDD instead."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    columns = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_pydict(
        {f.name: list(c) for f, c in zip(schema.fields, columns)},
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)
