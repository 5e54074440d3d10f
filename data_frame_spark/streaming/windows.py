"""Structured Streaming windowed aggregations over the events table.

North-star extension (SURVEY §7 Phase 6 — the reference has no
streaming). Each aggregation is defined ONCE as a DataFrame
transformation that works identically on a batch DataFrame and a
streaming DataFrame (Spark's unified model); ``stream_events``
builds the streaming source and ``run_to_memory`` drives any of
them with an availableNow trigger for tests/demos.

Watermarking: event-time watermark bounds state for late data —
``with_watermark`` is applied on the streaming path only (a batch
DataFrame has no watermark concept; results are identical because
batch sees all data).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_frame_spark.session import pin_session


def stream_events(spark: SparkSession, sf_dir: str, watermark: str = "1 hour") -> DataFrame:
    """Streaming source over the events parquet (file stream; in
    production the same code points at Kafka/queue sources).
    Normalizes the timestamp like the batch loader (both the
    TIMESTAMP(NANOS)-as-long and timestamp[us] forms) and applies the
    event-time watermark."""
    pin_session(spark)
    # a file stream needs an explicit schema: take it from the batch
    # footer so the same code handles either shipped ts encoding
    schema = (
        spark.read.option("pathGlobFilter", "events.parquet").parquet(sf_dir).schema
    )
    # the file stream source wants a directory; glob-filter to the
    # events file (in production this is the landing directory)
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if isinstance(schema["ts"].dataType, T.LongType):
        raw = (
            raw.withColumnRenamed("ts", "ts_ns")
            .withColumn("ts_us", F.expr("ts_ns div 1000"))
        )
    else:
        raw = (
            raw.withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
            .drop("ts")
            .withColumn("ts_ns", F.col("ts_us") * F.lit(1000))
        )
    return (
        raw.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .withWatermark("ts", watermark)
    )


# -- window aggregations (batch/stream agnostic) ------------------------


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling event-time windows: count + value sum per window per
    event_type."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n",
            "value_sum",
        )
    )


def sliding_counts(events: DataFrame, width: str = "1 hour", slide: str = "15 minutes") -> DataFrame:
    """Sliding windows: each event lands in width/slide windows."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("long").alias("window_start"), "n")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: a session extends while events are
    within ``gap`` of the previous one."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum"))
        .select(
            F.col("w.start").cast("long").alias("session_start"),
            "user_id",
            "n",
            "value_sum",
        )
    )


# -- driver ------------------------------------------------------------


def run_to_memory(
    agg: DataFrame, name: str, mode: str = "complete", timeout: int = 120
):
    """Drive a streaming aggregation to a memory sink with an
    availableNow trigger (process everything, then stop). Returns
    the final result as a DataFrame."""
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    return agg.sparkSession.table(name)
