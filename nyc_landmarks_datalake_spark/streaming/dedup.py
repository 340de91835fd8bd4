"""Streaming deduplication — the exactly-once ingest pattern.

``dropDuplicates`` over a streaming source keeps per-key state in the
state store (one shuffle to co-locate keys) and emits each key exactly
once, at first sight, across ALL micro-batches. This is the dedup half
of at-least-once ingestion: upstream retries/replays collapse to one
row downstream.

Replayed through the protocol in streaming/guard.py, so the no-re-emit
guarantee is exercised across REAL micro-batch boundaries (a key seen
in batch 0 must stay suppressed in batch 3 via recovered state, not
within-batch distinct).

Determinism note: streaming dropDuplicates keeps the FIRST row per key,
and "first" depends on file/partition arrival order — so the registered
query projects ONLY the key columns before deduplicating. The emitted
set is then exactly the distinct key set regardless of arrival order,
which is what makes the operator oracle-checkable bit-exactly.

Scale: state is one fixed-size entry per distinct key. For unbounded
production streams pair with ``withWatermark`` +
``dropDuplicatesWithinWatermark`` so state ages out; the availableNow
replay here omits the watermark because the staged table is finite
(same reasoning as the NoTimeout choice in stateful.py).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame

from nyc_landmarks_datalake_spark.streaming.guard import (
    file_stream,
    replay,
    replay_session,
    stage,
)


def replay_stream_dedup(spark, rows: DataFrame, keys: list[str]) -> DataFrame:
    """Replay ``rows`` file-by-file through streaming
    ``dropDuplicates(keys)``; return everything emitted."""
    base = tempfile.mkdtemp(prefix="stream_dedup_")
    src = stage(rows, os.path.join(base, "src"), 4)
    stream = file_stream(replay_session(spark), src, rows.schema)
    return replay(spark, stream.dropDuplicates(keys), base, "stream_dedup")


def replay_stream_dedup_watermarked(
    spark, rows: DataFrame, keys: list[str]
) -> DataFrame:
    """Replay through ``withWatermark + dropDuplicatesWithinWatermark``
    — the bounded-state production form of streaming dedup (state for a
    key is dropped once the watermark passes its event time, so an
    unbounded stream holds only a watermark-window of keys, not the full
    key history that plain ``dropDuplicates`` accumulates).

    The 3650-day delay is longer than the staged data's
    event-time span, so no state is evicted mid-replay and the emitted
    set is EXACTLY the distinct key set — which is what makes the
    operator oracle-checkable bit-exactly while still executing the
    DeduplicateWithinWatermark state machinery (watermark tracking,
    eviction timers) across real micro-batches. ``keys`` must include
    the event-time column: first-seen rows carry arbitrary non-key
    columns under arrival-order nondeterminism (same reasoning as
    replay_stream_dedup's key-only projection)."""
    base = tempfile.mkdtemp(prefix="stream_dedup_wm_")
    src = stage(rows, os.path.join(base, "src"), 4)
    stream = file_stream(replay_session(spark), src, rows.schema)
    deduped = stream.withWatermark("ts", "3650 days").dropDuplicatesWithinWatermark(keys)
    return replay(spark, deduped, base, "stream_dedup")


def _register_queries() -> None:
    from nyc_landmarks_datalake_spark.registry import query
    from nyc_landmarks_datalake_spark.sources.catalog import table

    @query(
        "q_stream_dedup",
        sql="""
        SELECT DISTINCT user_id, event_type FROM events
        """,
    )
    def q_stream_dedup(spark, sf_dir: str) -> DataFrame:
        rows = table(spark, sf_dir, "events").select("user_id", "event_type")
        return replay_stream_dedup(spark, rows, ["user_id", "event_type"])

    @query(
        "q_stream_dedup_watermarked",
        sql="""
        SELECT DISTINCT user_id, event_type, ts FROM events
        """,
    )
    def q_stream_dedup_watermarked(spark, sf_dir: str) -> DataFrame:
        rows = table(spark, sf_dir, "events").select(
            "user_id", "event_type", "ts"
        )
        return replay_stream_dedup_watermarked(
            spark, rows, ["user_id", "event_type", "ts"]
        )


_register_queries()
