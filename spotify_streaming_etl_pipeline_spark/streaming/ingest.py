"""Structured Streaming ingest: the idiomatic-Spark upgrade of the
reference's hand-rolled incremental load (SURVEY §2.9).

Mapping of the reference's batch mechanisms to streaming primitives:

- delta load by max-timestamp predicate (reference
  scripts/etl/extractor.py:27-28,65) -> file source + checkpoint:
  exactly-once per input file, no high-water-mark bookkeeping;
- ``is_processed`` flags + staging truncation (reference
  scripts/etl/transformer.py:378-401) -> source offsets/commit log,
  disappears entirely;
- late/duplicate protection via ON CONFLICT DO NOTHING (reference
  scripts/connectors/db_manager.py:72) -> ``dropDuplicates`` within the
  batch + idempotent foreachBatch append;
- the same fact builders (plans/facts.py) run unchanged inside
  ``foreachBatch`` — one logical plan, two front ends.

Scale: each micro-batch is a normal Spark job, so the broadcast-dim
star join keeps its no-fact-shuffle shape; the windowed aggregation
keeps state per (window, key) bounded by the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..plans.facts import build_fact_tracks
from ..schemas import HISTORY_SCHEMA
from ..sources.history import parse_ts


def read_history_stream(spark: SparkSession, path: str) -> DataFrame:
    """S1 as a stream: the same declared 19-column schema over a
    directory of export JSON files; new files become micro-batches.
    The ts parse-and-drop is the batch reader's own (``parse_ts``)."""
    return parse_ts(
        spark.readStream.schema(HISTORY_SCHEMA)
        .option("multiLine", "true")
        .json(path)
    )


def hourly_platform_counts(
    history: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour windowed aggregation with late-data watermark —
    the streaming form of the batch `hourly_event_windows` query.
    State per (window, platform) is dropped once the watermark passes
    the window end, so memory is bounded regardless of stream length."""
    return (
        history.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("platform"))
        .agg(
            F.count(F.lit(1)).alias("n_plays"),
            F.sum("ms_played").alias("ms_played"),
        )
        .select("w.start", "w.end", "platform", "n_plays", "ms_played")
    )


def session_windows(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Session windows per key with an inactivity gap: consecutive
    events merge while each arrives strictly before the previous
    event's ts + gap. Works on batch frames and on streams (pass
    ``watermark`` so Spark can close sessions and drop state).

    The reference has no session concept; this is the additive
    stateful-streaming operator (SURVEY §2.5/§2.9 posture). Spark's
    native session_window keeps per-(key, open-session) state only —
    the scalable form of the gaps-and-islands SQL the batch oracle
    uses."""
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    aggs = [F.count(F.lit(1)).alias("n_events")]
    extra_cols = []
    if "value" in df.columns:
        aggs.append(F.round(F.sum("value"), 2).alias("sum_value"))
        extra_cols.append("sum_value")
    # events.ts arrives as TIMESTAMP_NTZ (parquet nanos via the catalog
    # shim) on the oracle tables and as TIMESTAMP in streaming ingest;
    # epoch_of dispatches on the bound type and stays correct on ANY
    # session timezone (the driver runs this on its own session).
    from ..functions.scalar import epoch_of

    ts_type = df.schema[ts_col].dataType
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), F.col(key_col))
        .agg(*aggs)
        .select(
            F.col(key_col),
            epoch_of(ts_type, F.col("w.start"), "MILLISECOND").alias(
                "session_start_ms"
            ),
            epoch_of(ts_type, F.col("w.end"), "MILLISECOND").alias(
                "session_end_ms"
            ),
            "n_events",
            *extra_cols,
        )
    )


def start_fact_tracks_ingest(
    spark: SparkSession,
    raw_dir: str,
    fact_path: str,
    dim_track: DataFrame,
    dim_artist: DataFrame,
    dim_reason: DataFrame,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """readStream -> foreachBatch(build_fact_tracks -> append parquet).

    ``available_now=True`` drains all currently-visible files and stops
    (the batch-parity mode used by tests and backfills); False runs
    continuously. Restarts resume from the checkpoint — and because
    foreachBatch is AT-LEAST-once (a crash between the parquet append
    and the checkpoint commit replays the batch), the append itself is
    the conflict-ignore idempotent writer keyed on the play's natural
    key: a replayed batch anti-joins away the rows its first attempt
    already landed, upgrading the end-to-end contract to exactly-once.
    """
    from ..operators.writer import idempotent_append

    stream = read_history_stream(spark, raw_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        fact = build_fact_tracks(batch_df, dim_track, dim_artist, dim_reason)
        idempotent_append(
            fact, ["ts_msk", "track_fk"], fact_path, spark=spark
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
