"""Structured Streaming tier (ABSENT in the reference, SURVEY §2.B):
watermarked tumbling/sliding window counts and streaming dedup. The
batch twins of the window aggregations are oracle-checked in
operators/events.py; here the same expressions run under the streaming
engine with late-data drops. Session windows replay in
``window_replay.py`` and stream joins (stream-stream and stream-static)
live only in ``stream_join.py``, each beside its oracle-checked query.
The file-source ingest that stands in for the reference's S3-event
trigger is ``ingest.csv_ingest.stream_ingest``, beside the batch ingest
it shares its CSV dialect and silver projection with.

Scale: windowed aggs shuffle on (key, window) with state in the
state store — watermarks bound state size, which is what makes a
100 TB/day stream feasible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_counts(events: DataFrame, slide: str | None = None) -> DataFrame:
    """15-minute tumbling (or sliding) event-time window aggregation with
    a 30-minute watermark: rows later than the watermark are dropped."""
    win = (
        F.window("ts", "15 minutes", slide)
        if slide
        else F.window("ts", "15 minutes")
    )
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(win.alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_dedup(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on (``event_id``, ``ts``): state bounded by a
    30-minute watermark (duplicates arriving later than the watermark
    are not suppressed — the standard state/size tradeoff)."""
    return events.withWatermark("ts", "30 minutes").dropDuplicates(["event_id", "ts"])

