"""Structured Streaming variant of the extraction stage.

``readStream`` over a transcript directory → ``plans.pipeline.extract_turns``,
the batch extraction plan (pandas UDFs work identically under streaming) →
sink; event streams get watermarked tumbling-window rollups and
watermarked dedup.  Late rows beyond the watermark are dropped from the
windows (never from extraction, which is stateless per row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType, TimestampType,
)

from ..sources.catalog import TRANSCRIPT_DDL

EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType(), True),
    StructField("ts", TimestampType(), True),
    StructField("user_id", LongType(), True),
    StructField("event_type", StringType(), True),
    StructField("value", DoubleType(), True),
    StructField("props", StringType(), True),
])


def read_events_stream(spark: SparkSession, src_dir: str,
                       max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


def read_transcript_stream(spark: SparkSession, src_dir: str,
                           max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


def windowed_events_agg(stream_df: DataFrame, window: str = "1 hour",
                        watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window event rollup for APPEND mode: each
    window row is emitted exactly once, when the watermark passes its
    end (measured semantics, pinned by tests: emitted iff ``win_end <=
    max_event_time_seen - delay``).  State is bounded by the watermark
    horizon — unlike complete mode, nothing is re-emitted per batch, so
    this is the 100-TB shape: output volume is O(closed windows), state
    is O(open windows)."""
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)")).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type", "n_events", "sum_value",
        )
    )


def dedup_events_stream(stream_df: DataFrame, keys=("event_id",),
                        watermark: str = "2400 hours") -> DataFrame:
    """Streaming exact dedup: keep the FIRST arrival per key.

    ``dropDuplicatesWithinWatermark`` holds one state row per key and
    expires it once the event-time watermark passes the key's event
    time + delay — so state is O(keys inside the watermark horizon),
    not O(all keys ever seen), which is the only shape that survives an
    unbounded stream.  The delay must cover the maximum duplicate skew
    (how far apart two copies of the same event can arrive): a copy
    arriving after its twin's state expired would be re-emitted.  Gate
    runs use a delay larger than the whole corpus span so dedup is
    exact; production picks the real skew bound and accounts drops via
    :func:`rows_dropped_by_watermark`."""
    return (stream_df.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(list(keys)))


def run_append_to_parquet(stream_out: DataFrame, out_dir: str,
                          checkpoint_dir: str):
    """Append-mode drain into the native parquet FILE sink — the
    fault-tolerant, exactly-once production sink (output files are
    committed via the sink's _spark_metadata manifest; a retried batch
    never double-writes, unlike bare foreachBatch appends).  Restarting
    with the same checkpoint resumes the watermark, so rows that are
    late relative to data processed in a PREVIOUS run are dropped (and
    accounted — see :func:`rows_dropped_by_watermark`)."""
    q = (
        stream_out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def rows_dropped_by_watermark(q) -> int:
    """Late-data accounting: total input rows dropped by the watermark
    across the query's recent progress (the observable a production job
    exports as a metric / writes to its control table)."""
    return sum(
        int(op.get("numRowsDroppedByWatermark", 0))
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )


def run_available_now(stream_out: DataFrame, query_name: str, checkpoint_dir: str,
                      output_mode: str = "append"):
    """Drain everything currently available into a memory sink (tests)."""
    q = (
        stream_out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
