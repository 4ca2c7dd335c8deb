"""Structured Streaming operators over the ``events`` stream table.

Batch twins of each streaming query live beside the stream factories so the
DuckDB oracle can check semantics on the parquet snapshot; the streaming
variants add watermarks for late data. Sessionization has a batch form only
(``batch_sessionize``, window functions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


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
