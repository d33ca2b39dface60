"""Streaming pipelines (SURVEY §3.2/3.3 re-designed, §2.9 W1-W9).

The reference's reader mainloops (Kafka poll → decode → route → sink with
hand-rolled offsets/heartbeats/backpressure) collapse into declarative
Structured Streaming queries:

- ``stream_events``         — file/Kafka source → typed event stream
- ``archive_query``         — W1/W6/W7/W8: day-partitioned parquet sink;
  exactly-once comes from the checkpoint + file-sink commit protocol
  (replaces HdfsOffsetComputer/FsBasedCheckpointer/HeartbeatConsumer
  entirely — W5 heartbeats are unnecessary, offsets live in the
  checkpoint, not in data files).
- ``windowed_counts_query`` — W4: event-time tumbling window with the
  26 h late-data watermark (ReaderFactory.java:221-229's "day D is
  closeable at D+1 02:00" as a real watermark instead of a path rule).
- backpressure (W9) = ``maxFilesPerTrigger``/``maxOffsetsPerTrigger``.

Kafka source: the same queries run with
``spark.readStream.format("kafka").option("subscribe", "garmadon")`` +
frames.decode_frames on ``value`` — gated here because no broker exists
in the test environment (build_kafka_stream returns the reader un-bound).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from garmadon_spark.operators.bucketing import day_bucket
from garmadon_spark.schemas import full_schema


def stream_events(
    spark: SparkSession,
    path: str,
    event_type: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source event stream over an event-table directory (the
    fixture/archival replay path).  Schema from the registry — streams
    need it declared up front."""
    reader = spark.readStream.schema(full_schema(event_type))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def build_kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str = "garmadon",
    starting_offsets: str = "earliest",
):
    """S1: Kafka ingest boundary (GarmadonReader.java:162-240,301-307).
    Returns the configured reader; `.load()` it where a broker exists,
    then pipe ``value`` through sources.frames.decode_frames."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
    )


def archive_query(
    events: DataFrame,
    path: str,
    checkpoint: str,
    ts_col: str = "timestamp",
    available_now: bool = True,
):
    """W1 sink: day-partitioned parquet with exactly-once via checkpoint.
    Restarting with the same checkpoint never duplicates rows — the
    engine-native replacement for offset-in-footer recovery (W8)."""
    out = events.withColumn("day", day_bucket(ts_col))
    writer = (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("day")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts(
    events: DataFrame,
    ts_col: str = "timestamp",
    window: str = "1 hour",
    watermark: str = "26 hours",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """W4: watermarked tumbling-window counts — the streaming form of the
    date_histogram surface.  26 h default watermark = the reference's
    day-close grace (24 h day + 2 h late)."""
    with_time = events.withColumn("event_time", F.timestamp_millis(F.col(ts_col)))
    return (
        with_time.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("w"), *group_cols)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("bucket"), *group_cols, F.col("cnt")
        )
    )


def dedup_stream(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("kafka_partition", "kafka_offset"),
    ts_col: str = "timestamp",
    watermark: str = "26 hours",
) -> DataFrame:
    """Streaming exact dedup at the ingest boundary (the W8 redelivery
    guard as engine state): drop any event whose identity re-appears
    within the watermark — Kafka's at-least-once redeliveries carry the
    same (partition, offset), the reference's own dedup identity
    (PartitionedWriter offset recovery).  `dropDuplicatesWithinWatermark`
    keeps ONE state entry per key and expires it at the watermark, so
    state is bounded by keys-per-26 h, not stream history (the unbounded
    `dropDuplicates` trap at 100 TB/day).  Also the streaming front door
    for corpus exact-dedup: key on `content_hash` to suppress
    re-scraped documents at ingest instead of re-running batch dedup."""
    with_time = events.withColumn(
        "event_time", F.timestamp_millis(F.col(ts_col))
    )
    return (
        with_time.withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(list(key_cols))
        .drop("event_time")
    )
