"""Structured Streaming surface (the reference is batch-only — SURVEY.md §1
"Not exercised"; this is the engine's forward-looking stream path).

Design rule: one logical aggregation definition, two execution modes. The
windowed aggregation here is the same shape as the batch query
``t02_hourly_by_type`` (queries/timeseries.py) — groupBy(window(ts), type)
— so batch backfill and live streams produce comparable tables. The
watermark bounds state: late rows beyond it are dropped and window state
is evicted, which is what makes the aggregation runnable indefinitely on
an unbounded source.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def stream_events_from_dir(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over an events directory. Streams MUST declare a
    schema — inference would race the incoming files."""
    return spark.readStream.schema(EVENT_SCHEMA).parquet(path)


@dataclass(frozen=True)
class Stage:
    """A staged file source: ``dir`` holds the staged files (a caller may
    add its own before reading), ``read()`` opens a new stream over them
    and ``path(name)`` names a scratch location (sink output, checkpoint)
    under the same temp dir."""

    root: str
    dir: str
    read: Callable[[], DataFrame]

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)


@contextmanager
def staged_stream(
    spark: SparkSession,
    *frames: DataFrame,
    schema: StructType = EVENT_SCHEMA,
    files_per_trigger: int | None = None,
):
    """Stage ``frames`` as one parquet file source and yield its
    :class:`Stage`.

    File-source streams need a dedicated directory of uniform-schema
    files. Each frame is appended in order, so its files form their own
    write (two appends of one frame put duplicates in separate files);
    ``files_per_trigger`` caps the files per micro-batch. The whole temp
    dir — staged files and whatever the caller put under
    ``Stage.path`` — is removed on every exit path.
    """
    root = tempfile.mkdtemp(prefix="stream_stage_")
    try:
        src = os.path.join(root, "src")
        for frame in frames:
            frame.write.mode("append").parquet(src)

        def read() -> DataFrame:
            reader = spark.readStream.schema(schema)
            if files_per_trigger is not None:
                reader = reader.option("maxFilesPerTrigger", files_per_trigger)
            return reader.parquet(src)

        yield Stage(root, src, read)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def drain(writer: DataStreamWriter) -> None:
    """Drive a stream to completion against the currently available
    files: start, ``processAllAvailable``, stop (on every exit path).
    ``writer`` is the configured sink — the memory sink of
    :func:`run_to_memory_sink`, or ``foreachBatch`` with a
    ``checkpointLocation``, the production shape (it also reaches
    merge/upsert sinks Structured Streaming lacks natively)."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _value_sum(exact_scale: int | None):
    """Sum of ``value`` for a windowed agg; ``exact_scale`` switches to a
    decimal-exact, order-independent sum (the ``dsum`` convention from
    queries/_helpers.py) so streaming and batch runs of the same
    aggregation produce bit-identical doubles — what lets a streaming
    query carry a hash-gated cross-engine oracle instead of a
    rows-only check."""
    if exact_scale is None:
        return F.sum("value").alias("total_value")
    return (
        F.sum(F.col("value").cast(f"decimal(30,{exact_scale})"))
        .cast("double")
        .alias("total_value")
    )


def _by_type(
    events: DataFrame, window: Column, watermark: str, exact_scale: int | None
) -> DataFrame:
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(window.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _value_sum(exact_scale),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def hourly_by_type(
    events: DataFrame,
    watermark: str = "2 hours",
    window: str = "1 hour",
    exact_scale: int | None = None,
) -> DataFrame:
    """Windowed counts/sums per event type with late-data watermark.

    Works on a batch DataFrame too (watermark is a no-op there) — the
    batch/stream duality the engine promises.
    """
    return _by_type(events, F.window("ts", window), watermark, exact_scale)


@contextmanager
def state_partitions(spark: SparkSession, n: int):
    """Temporarily size ``spark.sql.shuffle.partitions`` for a stateful
    streaming run. The state store shards one instance per shuffle
    partition, fixed at query start; every micro-batch then pays
    per-instance maintenance (snapshot, maintenance thread, commit) even
    for empty shards. Size it to the STATE, not the cores: a ~10³-key
    join/session state wants a handful of shards, while at cluster scale
    the same knob scales shards out across executors. Restores the
    previous value on exit so batch queries keep their tuning."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_to_memory_sink(agg: DataFrame, output_mode: str = "append") -> DataFrame:
    """Drive a streaming aggregation to completion (:func:`drain`) into
    the memory sink and return the sink's rows as a checkpointed
    DataFrame — the synchronous smoke-test harness, not a production
    sink. The memory sink's view is dropped before returning, so no view
    outlives the call.
    """
    spark = agg.sparkSession
    name = f"memory_sink_{uuid.uuid4().hex}"
    try:
        drain(agg.writeStream.outputMode(output_mode).format("memory").queryName(name))
        return spark.table(name).localCheckpoint()
    finally:
        spark.catalog.dropTempView(name)


def sliding_by_type(
    events: DataFrame,
    watermark: str = "2 hours",
    window: str = "2 hours",
    slide: str = "1 hour",
    exact_scale: int | None = None,
) -> DataFrame:
    """Sliding (overlapping) windowed counts/sums per event type.

    Every event lands in ``window/slide`` windows (2 here); state size is
    bounded by the watermark exactly as in the tumbling case — the slide
    multiplies live window count, not retained-event count. Batch/stream
    dual like :func:`hourly_by_type`.
    """
    return _by_type(events, F.window("ts", window, slide), watermark, exact_scale)


def enrich_with_dim(
    events: DataFrame, dim: DataFrame, window: str = "1 hour"
) -> DataFrame:
    """Stream-static enrichment: join the event stream against a static
    dimension, then window-count per dimension attribute.

    The static side is re-resolved per micro-batch by Structured
    Streaming (dimension updates between batches are picked up) and is
    broadcast when small — the canonical 100 TB enrichment shape: the
    stream never shuffles to meet the dim, the dim ships to the stream.
    Counts only (integers): the result is exactly batch-equivalent, so
    the same frame works under a SQL oracle.

    Works on a batch DataFrame too (batch/stream duality).
    """
    joined = events.join(F.broadcast(dim), events["user_id"] == dim["key"])
    return (
        joined.groupBy(F.window("ts", window).alias("w"), "attr")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("attr").alias("segment"),
            "n_events",
        )
    )


def sessionized_by_user(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user: events merge while consecutive gaps are
    <= ``gap`` (Spark merges windows that touch: a pair exactly ``gap``
    apart is ONE session — pinned by test and the t17 oracle's
    strictly-greater break condition).

    Native ``F.session_window`` keeps the merge inside Catalyst's
    session-aggregation operator — in streaming, state per (user, open
    session) only, evicted once the watermark passes the session end;
    the batch plan is a regular aggregation after a session-assignment
    expansion. Batch/stream dual like the other window helpers.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
