"""Custom stateful streaming operator via applyInPandasWithState.

The built-in streaming ops (windows, sessions, dropDuplicates) cover the
standard cases; this is the escape hatch for arbitrary per-key state —
here a running per-user profile (event count, value sum, last-seen ts)
maintained across micro-batches.

Scale: state lives in the state store partitioned by key (one shuffle to
co-locate); per-key state is a fixed-size tuple. Nothing evicts it: a
pending processing-time timeout keeps an availableNow query alive after
its data is drained, so the finite replays here run with NoTimeout.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from nyc_landmarks_datalake_spark.streaming.guard import (
    file_stream,
    replay,
    replay_session,
    stage,
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)


def _update_profile(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        last_us = max(last_us, int(pdf["ts"].astype("int64").max()) // 1000)
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "last_ts_us": [last_us],
        }
    )


def user_profiles(events: DataFrame) -> DataFrame:
    """Streaming per-user running profile (count/sum/last-seen)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_profile,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Integer-exact variant + replay runner: puts applyInPandasWithState
# itself under the driver's bit-exact oracle gate. All columns are
# int64 (epoch-µs timestamps, micro-unit values) so pandas accumulation
# is exact and timezone never enters the comparison.
# ---------------------------------------------------------------------------
EXACT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value_micros", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)

EXACT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value_micros", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)


def _update_profile_exact(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total, last_us = state.get if state.exists else (0, 0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += int(pdf["value_micros"].sum())
        last_us = max(last_us, int(pdf["ts_us"].max()))
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value_micros": [total],
            "last_ts_us": [last_us],
        }
    )


def user_profiles_exact(events: DataFrame) -> DataFrame:
    """Streaming per-user profile over pre-integered inputs
    (``user_id``, ``ts_us``, ``value_micros`` — all int64): count, exact
    micro-unit value sum, last-seen epoch-µs. Same state-store posture
    as :func:`user_profiles`; NoTimeout so availableNow replays drain."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_profile_exact,
        outputStructType=EXACT_OUTPUT_SCHEMA,
        stateStructType=EXACT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def replay_user_profiles(spark, events: DataFrame) -> DataFrame:
    """Replay :func:`user_profiles_exact` over ``events`` and return the
    final per-user profiles. In update mode a user re-emits with
    strictly growing ``n_events`` whenever a batch touches it, so the
    final profile is the max-count row per user."""
    from nyc_landmarks_datalake_spark.operators.merge import keep_latest

    base = tempfile.mkdtemp(prefix="stateful_profiles_")
    src = stage(events, os.path.join(base, "src"), 4)
    stream = file_stream(replay_session(spark), src, events.schema)
    emitted = replay(
        spark, user_profiles_exact(stream), base, "stateful_profiles", mode="update"
    )
    return keep_latest(emitted, ["user_id"], ["n_events"])


def _register_queries() -> None:
    """Driver-checked twin: the streaming stateful operator replayed
    over the events table vs a plain DuckDB GROUP BY — the one oracle
    row covering the applyInPandasWithState tier (state recovery across
    micro-batches included, via maxFilesPerTrigger=1)."""
    from pyspark.sql import functions as F

    from nyc_landmarks_datalake_spark.registry import query
    from nyc_landmarks_datalake_spark.sources.catalog import table

    @query(
        "q_stateful_user_profiles",
        sql="""
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
                   AS total_value_micros,
               MAX(epoch_us(ts)) AS last_ts_us
        FROM events
        GROUP BY user_id
        """,
    )
    def q_stateful_user_profiles(spark, sf_dir: str) -> DataFrame:
        events = table(spark, sf_dir, "events").select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            F.floor(F.col("value") * F.lit(1e6)).cast("long").alias("value_micros"),
        )
        return replay_user_profiles(spark, events)


_register_queries()
