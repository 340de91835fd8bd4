"""Streaming windowed aggregation replayed under the oracle gate.

The tumbling/session batch twins (operators/events.py) pin window
SEMANTICS; these replays pin the streaming ENGINE: events arrive
file-by-file, the windowed aggregate accumulates in the state store
across micro-batches, and the final complete-mode emission must equal
the batch GROUP BY bit-exactly.

Determinism: complete mode emits the full aggregate every trigger, so
the LAST emission covers all input regardless of arrival order; the
value sum accumulates in DECIMAL (exact, order-independent) inside the
streaming state exactly like the batch dsum path — a double sum here
would vary with state-update order. The foreachBatch sink overwrites,
so what survives is the final complete snapshot.

Scale: complete mode holds every window in state — right for bounded
window counts (dashboard rollups); unbounded production windows pair
append mode with a watermark instead (late-drop semantics covered in
tests/test_streaming.py).
"""

from __future__ import annotations

import os
import tempfile

from nyc_landmarks_datalake_spark.streaming.guard import (
    file_stream,
    replay,
    replay_session,
    stage,
)

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def replay_stream_agg(
    spark,
    rows: DataFrame,
    group_cols: list[Column],
    zone: str,
) -> DataFrame:
    """Replay ``rows`` (must carry ``value``) through a streaming
    ``groupBy(*group_cols)`` count + decimal-sum aggregate; return the
    final complete-mode snapshot."""
    base = tempfile.mkdtemp(prefix=f"{zone}_")
    src = stage(rows, os.path.join(base, "src"), 3)
    stream = file_stream(replay_session(spark), src, rows.schema)
    agg = stream.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,6)")).alias("dec_total"),
    )
    return replay(spark, agg, base, zone, mode="complete")


def replay_stream_tumbling_agg(
    spark,
    rows: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
) -> DataFrame:
    """Replay ``rows`` (ts, event_type, value) through a streaming
    (sliding-)window aggregate; returns the final complete snapshot."""
    return replay_stream_agg(
        spark,
        rows,
        [
            F.window("ts", window, slide or window).alias("w"),
            F.col("event_type"),
        ],
        zone="stream_window",
    )


def _register() -> None:
    from nyc_landmarks_datalake_spark.functions.numeric import dsum_sql
    from nyc_landmarks_datalake_spark.registry import query
    from nyc_landmarks_datalake_spark.sources.catalog import table

    @query(
        "q_stream_tumbling_replay",
        sql=f"""
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               {dsum_sql('value')} AS total_value
        FROM events
        GROUP BY 1, 2
        """,
    )
    def q_stream_tumbling_replay(spark, sf_dir: str) -> DataFrame:
        ev = table(spark, sf_dir, "events").select("ts", "event_type", "value")
        snap = replay_stream_tumbling_agg(spark, ev)
        return snap.select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            F.col("dec_total").cast("double").alias("total_value"),
        )

    @query(
        "q_stream_sliding_replay",
        sql=f"""
        WITH offs(k) AS (VALUES (0), (1))
        SELECT time_bucket(INTERVAL '1 hour', ts)
                   - k * INTERVAL '1 hour' AS window_start,
               event_type,
               COUNT(*) AS n_events,
               {dsum_sql('value')} AS total_value
        FROM events CROSS JOIN offs
        GROUP BY 1, 2
        """,
    )
    def q_stream_sliding_replay(spark, sf_dir: str) -> DataFrame:
        """Sliding windows (2h / slide 1h) through the REAL streaming
        engine: each event lands in exactly two overlapping windows,
        both accumulated in the state store across micro-batches. The
        oracle expands each event into its two window starts with a
        2-row VALUES join — overlap assignment, per-window counts and
        the decimal-exact totals must all agree bit-exactly."""
        ev = table(spark, sf_dir, "events").select("ts", "event_type", "value")
        snap = replay_stream_tumbling_agg(
            spark, ev, window="2 hours", slide="1 hour"
        )
        return snap.select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            F.col("dec_total").cast("double").alias("total_value"),
        )


_register()


def _register_session() -> None:
    from nyc_landmarks_datalake_spark.functions.numeric import dsum_sql
    from nyc_landmarks_datalake_spark.registry import query
    from nyc_landmarks_datalake_spark.sources.catalog import table

    @query(
        "q_stream_session_replay",
        sql=f"""
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                                >= INTERVAL '2 hours'
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        sessioned AS (
            SELECT user_id, ts, value,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_id
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               COUNT(*) AS n_events,
               {dsum_sql('value')} AS session_value
        FROM sessioned
        GROUP BY user_id, session_id
        """,
    )
    def q_stream_session_replay(spark, sf_dir: str) -> DataFrame:
        """Session windows (2h gap, per user) through the REAL streaming
        engine. The batch twin (q_session_window) pins gap semantics;
        this replay pins the hard streaming part: sessions MERGE in the
        state store — an early micro-batch can close two provisional
        sessions that a later file's bridging event fuses into one, so
        the final complete-mode snapshot proves cross-batch session
        merge, not just windowed accumulation. Events arrive in
        3 arbitrary file-order batches (maxFilesPerTrigger=1) and the
        result must still equal the batch gaps-and-islands oracle
        bit-exactly (decimal state sums — order-independent)."""
        ev = table(spark, sf_dir, "events").select(
            "ts", "user_id", "event_id", "value"
        )
        snap = replay_stream_agg(
            spark,
            ev,
            [F.session_window("ts", "2 hours").alias("sw"), F.col("user_id")],
            zone="stream_session",
        )
        return snap.select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
            F.col("dec_total").cast("double").alias("session_value"),
        )


_register_session()
