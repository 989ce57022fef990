"""Watermarked streaming aggregations over the change-event stream.

The reference has no streaming analytics at all — its only time-based
behavior is the 60 s edit-log poll (EditLogProcessor.java:176) and
batch-pull timeouts. These operators are the Spark-native observability
surface over the same stream: per-op rates, duplicate suppression,
session detection. All are built-ins — watermark +
window/session_window + dropDuplicates — so they run
map-side partial aggregation and bounded state eviction, which is what
makes them viable on an unbounded 100 TB/day stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hcdc_spark.streaming.source import with_event_time


def op_rates(
    events: DataFrame,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Tumbling/sliding per-op event counts with late-data discard."""
    ev = with_event_time(events).withWatermark("event_time", watermark)
    win = (
        F.window("event_time", window, slide)
        if slide
        else F.window("event_time", window)
    )
    return ev.groupBy(win.alias("win"), "op").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.approx_count_distinct("inode_id").alias("n_files"),
    )


def dedup_events(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T4 at the stream level: drop duplicate (tx_id) deliveries within
    the watermark. The stateful fold's own guard covers replays beyond
    it, so the two compose to exactly-once state effects.

    ``dropDuplicatesWithinWatermark``, NOT plain ``dropDuplicates``: the
    watermark only evicts dedup state when the engine knows entries
    expire — a bare dropDuplicates(['tx_id']) keeps one state entry per
    txid forever (review r4: unbounded state growth on the unbounded
    stream this module targets)."""
    return (
        with_event_time(events)
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["tx_id"])
    )


def file_sessions(
    events: DataFrame, gap: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Session windows per file: a burst of ops separated by `gap` of
    quiet is one 'write session' (open→...→close in HDFS terms)."""
    ev = with_event_time(events).withWatermark("event_time", watermark)
    return ev.groupBy(
        F.session_window("event_time", gap).alias("session"), "inode_id"
    ).agg(
        F.count(F.lit(1)).alias("n_ops"),
        F.min("tx_id").alias("first_tx"),
        F.max("tx_id").alias("last_tx"),
    )
