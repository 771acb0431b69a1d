"""Structured Streaming slice (SURVEY.md §2.11).

The reference's load stage is "S3 ObjectCreated event -> Lambda -> upsert"
(``/root/reference/src/s3_to_rds_lambda.py:132-164``).  Spark's idiom for
the same contract is a file-source stream with incremental file discovery:

    readStream(landing prefix) -> transform -> foreachBatch(upsert sink)

with ``Trigger.AvailableNow`` replacing the per-object notification: each
run processes exactly the files that arrived since the last checkpoint,
then stops — at-least-once delivery made effectively-once by the keyed,
idempotent upsert (same as the reference's design).

Event-time windowing, with ``withWatermark`` bounding state: the
batch-checkable ``plans.streaming.events_session_window`` builds through
``sessionized_counts`` (a batch plan drops the watermark) — one declarative
windowed plan, batch or micro-batch execution chosen by the source.
``windowed_counts`` counts per window only; the batch tumbling and sliding
queries also group by event type or sum the value, so they keep their own
``window()`` spelling and do not go through it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

BatchSink = Callable[[DataFrame, int], None]


def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Incremental file source over a landing prefix (replaces S3 events).

    Explicit schema is mandatory (streaming sources cannot infer safely);
    ``maxFilesPerTrigger`` bounds micro-batch size so one giant backlog
    drop doesn't produce one giant batch.
    """
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def run_available_now(
    stream_df: DataFrame,
    sink: BatchSink,
    checkpoint_dir: str,
    query_name: str = "load",
    output_mode: str = "update",
) -> StreamingQuery:
    """Drain everything new since the checkpoint through ``sink``, then stop.

    ``Trigger.AvailableNow`` + ``foreachBatch``: the sink receives each
    micro-batch as a regular DataFrame plus the batch id (replayable —
    foreachBatch may re-deliver a batch after failure, so sinks must be
    idempotent, which the keyed upsert is).  The returned query is already
    awaited: AvailableNow terminates on its own.

    ``output_mode="update"`` is the right default for a keyed upsert sink:
    windowed aggregates emit their *current* state every micro-batch (the
    idempotent merge absorbs re-emission), instead of append mode's
    wait-for-watermark — which under AvailableNow would hold results until
    a NEXT run's data advances the watermark.
    """
    q = (
        stream_df.writeStream.queryName(query_name)
        .foreachBatch(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def windowed_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    window_len: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling/sliding event-time counts with a watermark.

    The watermark bounds streaming state: windows older than
    ``max(event time) - watermark`` are finalized and evicted, which is
    what keeps an unbounded stream's aggregation memory flat.
    """
    w = F.window(ts_col, window_len, slide) if slide else F.window(ts_col, window_len)
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(w.alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"), "n_events")
    )


def enrich_stream_static(
    stream_df: DataFrame,
    dim_df: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static join: enrich a live stream with a (bounded) dimension
    table — the most common production streaming shape (events x user/device
    /geo dims). The static side is broadcast, so every micro-batch is a
    map-side hash join with NO streaming state, no watermark requirement,
    and no shuffle of the stream; the dimension snapshot is re-resolved per
    micro-batch, so slowly-changing dims pick up updates between batches.

    Left join keeps stream rows with no dimension match (late dim arrival),
    mirroring the keyed-upsert tolerance of the reference's load side.
    """
    return stream_df.join(F.broadcast(dim_df), on, how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with a time-bound condition
    (the ad-attribution shape: impression ⋈ click within ``within``).

    Both sides carry a watermark and the join condition bounds the
    event-time distance, so Spark can evict buffered rows once the
    watermark passes — without the time bound, stream-stream join state
    grows forever.  ``how='left_outer'`` additionally emits unmatched left
    rows after the watermark proves no match can arrive.  Columns from the
    right side are suffixed ``_r`` to keep the output schema unambiguous.
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    for c in r.columns:
        r = r.withColumnRenamed(c, f"{c}_r")
    cond = (
        (F.col(key_col) == F.col(f"{key_col}_r"))
        & (F.col(f"{right_ts}_r") >= F.col(left_ts))
        & (F.col(f"{right_ts}_r") <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, how)


def dedup_within_watermark(
    stream_df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    watermark passes its first-seen event time, then evicts it — the
    at-scale alternative to ``dropDuplicates`` on a stream, whose state
    otherwise grows with every distinct key ever seen.  Guarantees
    one-row-per-key among events that arrive within the watermark delay of
    each other (exactly the retry/replay window duplicate producers have).
    """
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def sessionized_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "10 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows (inactivity gap) per key with watermark-bounded state;
    ``plans.streaming.events_session_window`` is this over the batch
    ``events`` table."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sw"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
