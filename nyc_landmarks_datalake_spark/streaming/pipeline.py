"""Structured Streaming tier (ABSENT in the reference, SURVEY §2.B):
event-time watermarks, tumbling/session windows, streaming dedup and
stream joins. The batch twins of the window aggregations are
oracle-checked in operators/events.py; here the same expressions run
under the streaming engine with late-data drops. The file-source ingest
that stands in for the reference's S3-event trigger is
``ingest.csv_ingest.stream_ingest``, beside the batch ingest it shares
its CSV dialect and silver projection with.

Scale: windowed aggs shuffle on (key, window) with state in the
state store — watermarks bound state size, which is what makes a
100 TB/day stream feasible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_counts(
    events: DataFrame,
    window_duration: str = "15 minutes",
    watermark: str = "30 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or sliding) event-time window aggregation with a
    watermark: rows later than the watermark are dropped."""
    win = (
        F.window("ts", window_duration, slide)
        if slide
        else F.window("ts", window_duration)
    )
    return (
        events.withWatermark("ts", watermark)
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


def sessionized_stream(
    events: DataFrame, gap: str = "2 hours", watermark: str = "1 hour"
) -> DataFrame:
    """Session-window aggregation per user (merging state handled by the
    streaming engine's session-window state store)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def stream_dedup(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming exact dedup: state bounded by the watermark (duplicates
    arriving later than the watermark are not suppressed — the standard
    state/size tradeoff)."""
    return events.withWatermark("ts", watermark).dropDuplicates(
        (keys or ["event_id"]) + ["ts"]
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame, on: str = "user_id") -> DataFrame:
    """Stream-static join: each micro-batch joins against the (small)
    static dimension — planned as a broadcast hash join per batch, no
    streaming state at all. The canonical enrichment shape (events x
    user/customer dims) at any scale."""
    return events.join(F.broadcast(dim), on)


def stream_stream_purchase_attribution(
    views: DataFrame,
    purchases: DataFrame,
    attribution_window: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join: attribute each purchase
    to a prior view by the same user within the attribution window.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so the state store can evict rows older than
    (watermark + window) — the requirement for an unbounded stream-stream
    join to run with bounded state."""
    v = (
        views.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {attribution_window}")
        ),
    ).select(
        F.col("p_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )
