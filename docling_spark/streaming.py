"""Structured Streaming operators over the ``events`` stream table.

Batch twins of each streaming query live beside the stream factories so the
DuckDB oracle can check semantics on the parquet snapshot; the streaming
variants add watermarks for late data. Stateful sessionization uses
``applyInPandasWithState`` - the Spark analog of a custom stateful operator.
"""

from __future__ import annotations

from typing import Iterable, Tuple

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StringType, StructField,
    StructType, TimestampType,
)


# ------------------------------------------------------------ batch twins

def decimal_sum(col: str, scale: int = 4):
    """Order-insensitive sum of a double column.

    Summing doubles is not associative: Spark's partial aggregation order
    differs from a single-threaded oracle, and ulp-level drift can survive
    ``round(..., 4)`` at ties. Casting to an exact decimal first makes the
    sum deterministic regardless of partial-agg order; the final cast back
    to double keeps the output schema unchanged. Mirror the cast in the
    DuckDB oracle (``round(sum(CAST(value AS DECIMAL(20,6))), 4)``).
    """
    return (F.round(F.sum(F.col(col).cast("decimal(20,6)")), scale)
            .cast("double"))


def hourly_event_counts(events: DataFrame) -> DataFrame:
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             decimal_sum("value").alias("total_value"))
    )


def tumbling_window_counts(events: DataFrame, minutes: int = 15) -> DataFrame:
    """window() based agg - identical shape in batch and streaming."""
    return (
        events.groupBy(F.window("ts", f"{minutes} minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                "event_type", "n_events")
    )


# ------------------------------------------------------- streaming shapes

def stream_hourly_counts(spark, events_path: str,
                         watermark: str = "2 hours") -> DataFrame:
    """readStream variant with a watermark for late rows."""
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    stream = (spark.readStream.schema(schema).parquet(events_path))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def stream_extract_pages(spark, pages_path: str) -> DataFrame:
    """Streaming twin of ``engine.extract_pages``: continuous extraction
    over a landing directory of pages parquet files.

    It IS ``engine.extract_pages`` (without the repartition) over the
    stream: a stateless ``mapInArrow`` keeps the query agnostic to
    triggers (micro-batch or available-now backfill). At fleet scale this
    is the ingest topology: crawl output lands as files, the stream claims
    new files per micro-batch, per-doc error envelopes keep poison
    documents from failing the query, and ``writeStream`` checkpointing
    gives exactly-once file-level progress - complementing the batch
    path's bucket-manifest resume (``engine.CheckpointedExtraction``).
    """
    from . import engine
    stream = (spark.readStream
              .schema("url string, html binary")
              .option("maxFilesPerTrigger", 8)
              .parquet(pages_path))
    return engine.extract_pages(stream, repartition=False)


def stream_dedup_pages(spark, pages_path: str,
                       watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup of the crawl landing directory: a page whose
    html digest was already emitted within the watermark horizon is
    dropped BEFORE extraction ever pays for it - the streaming twin of
    ``dedup.dedup_keep_first`` for the ingest topology.

    State shape at fleet scale: keyed by the 64-hex sha256 digest ONLY
    (html never enters the state store), and
    ``dropDuplicatesWithinWatermark`` evicts keys once they age past the
    horizon, so state is bounded by the dedup window's distinct-digest
    count, not the corpus. Recrawl dedup beyond the horizon belongs to
    the batch path (``dedup.incremental_novelty``).
    """
    stream = (spark.readStream
              .schema("url string, warc_ts timestamp, html binary")
              .option("maxFilesPerTrigger", 8)
              .parquet(pages_path))
    return (stream
            .withColumn("digest", F.sha2(F.col("html"), 256))
            .withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["digest"]))


# The open session of one user: its first and last event, in
# microseconds, its event count and its value sum.
SESSION_STATE_SCHEMA = StructType([
    StructField("start_ts", LongType()),
    StructField("last_ts", LongType()),
    StructField("n_events", LongType()),
    StructField("total_value", DoubleType()),
])

SESSION_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("session_start", TimestampType()),
    StructField("session_end", TimestampType()),
    StructField("n_events", LongType()),
    StructField("total_value", DoubleType()),
])


def _sessions_frame(user_id: int, sessions: list) -> pd.DataFrame:
    """``SESSION_OUTPUT_SCHEMA`` rows of ``(start_us, last_us, n_events,
    total_value)`` sessions."""
    return pd.DataFrame(
        [(user_id, pd.Timestamp(start, unit="us"),
          pd.Timestamp(last, unit="us"), n, total)
         for start, last, n, total in sessions],
        columns=SESSION_OUTPUT_SCHEMA.fieldNames())


def _sessionize_group(key: Tuple, pdfs: Iterable[pd.DataFrame],
                      state: GroupState):
    """Custom stateful operator: 30-minute-gap sessionization.

    The user's open session is the group state, so a session that spans
    micro-batches keeps its first event's start. A session is emitted when
    an event comes more than the gap after it, or when its key times out
    (an hour without events): Spark then calls with no rows, and the state
    is removed."""
    gap_us = 30 * 60 * 1_000_000
    (user_id,) = key
    if state.hasTimedOut:
        session = state.get
        state.remove()
        yield _sessions_frame(user_id, [session])
        return
    frames = [pdf for pdf in pdfs if len(pdf)]
    if not frames:
        return
    rows = pd.concat(frames).sort_values("ts")
    session = list(state.get) if state.exists else None
    sessions = []
    for ts, value in zip(rows["ts"], rows["value"]):
        ts_us = int(ts.value // 1000)
        if session is not None and ts_us - session[1] > gap_us:
            sessions.append(tuple(session))
            session = None
        if session is None:
            session = [ts_us, ts_us, 0, 0.0]
        session[1] = ts_us
        session[2] += 1
        session[3] += float(value or 0.0)
    state.update(tuple(session))
    state.setTimeoutDuration(60 * 60 * 1000)
    if sessions:
        yield _sessions_frame(user_id, sessions)


def stream_sessionize(spark, events_path: str) -> DataFrame:
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    stream = spark.readStream.schema(schema).parquet(events_path)
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def batch_sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization twin via window functions (oracle-checkable):
    session breaks where the gap to the previous event exceeds the limit."""
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts")
    with_gap = events.withColumn(
        "prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
               > gap_minutes * 60), 1).otherwise(0))
    with_id = with_gap.withColumn(
        "session_seq", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        with_id.groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             F.count(F.lit(1)).alias("n_events"),
             decimal_sum("value").alias("total_value"))
    )
