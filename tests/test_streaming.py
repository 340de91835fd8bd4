"""Streaming-tier tests: file-source ingest (the Lambda-trigger
equivalent), watermarked tumbling windows, session windows, and
streaming dedup — all via availableNow triggers into tmp sinks."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nyc_landmarks_datalake_spark.ingest.csv_ingest import stream_ingest
from nyc_landmarks_datalake_spark.sources.catalog import table
from nyc_landmarks_datalake_spark.streaming.pipeline import (
    stream_dedup,
    windowed_counts,
)

SIDECAR = [
    {"key": "id", "type": "bigint", "partition_key": "false", "comment": ""},
    {"key": "name", "type": "string", "partition_key": "false", "comment": ""},
    {"key": "the_geom", "type": "string", "partition_key": "false", "comment": ""},
    {"key": "zone", "type": "string", "partition_key": "true", "comment": ""},
]
GEOM = '"MULTIPOLYGON (((-73.78 40.79, -73.79 40.80, -73.78 40.79)))"'


def test_stream_ingest_file_source(spark, tmp_path):
    """The file-source ingest takes its schema and partition key from
    the sidecar and colon-encodes the geometry, as the batch ingest does."""
    raw = tmp_path / "raw"
    raw.mkdir()
    header = "id,name,the_geom,zone\n"
    (raw / "a.csv").write_text(header + f"1,alpha,{GEOM},QN\n2,beta,,BK\n")
    (raw / "b.csv").write_text(header + f'3,"gamma, g",{GEOM},QN\n')
    sidecar = tmp_path / "sidecar.json"
    sidecar.write_text(json.dumps(SIDECAR))
    dest = tmp_path / "silver"
    args = (spark, str(raw), str(sidecar), str(dest), str(tmp_path / "ckpt"))
    q = stream_ingest(*args)
    q.awaitTermination(120)
    back = spark.read.parquet(str(dest))
    assert back.count() == 3
    assert {r["name"] for r in back.collect()} == {"alpha", "beta", "gamma, g"}
    assert sorted(p.name for p in dest.glob("zone=*")) == ["zone=BK", "zone=QN"]
    geoms = {r["id"]: r["the_geom"] for r in back.collect()}
    assert geoms[1] == geoms[3] == "-73.78:40.79::-73.79:40.80::-73.78:40.79"
    assert geoms[2] in (None, "")

    # a newly arrived file is picked up exactly once on the next trigger
    (raw / "c.csv").write_text(header + "4,delta,,SI\n")
    q2 = stream_ingest(*args)
    q2.awaitTermination(120)
    assert spark.read.parquet(str(dest)).count() == 4


def _run_stream_to_memory(spark, df, name, output_mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"SELECT * FROM {name}")


def _events_stream(spark, sf_dir, tmp_path):
    """Re-stage the events table as a parquet streaming source (with the
    micro-second ts already normalized by the catalog reader)."""
    staged = str(tmp_path / "events_staged")
    ev = table(spark, sf_dir, "events")
    ev.write.mode("overwrite").parquet(staged)
    return spark.readStream.schema(ev.schema).parquet(staged), ev


def test_windowed_counts_matches_batch(spark, sf_small, tmp_path):
    stream, batch = _events_stream(spark, sf_small, tmp_path)
    got = _run_stream_to_memory(
        spark, windowed_counts(stream), "win_counts", output_mode="complete"
    ).toPandas()
    expected = (
        batch.groupBy(F.window("ts", "15 minutes").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .count()
    )
    assert len(got) == expected
    assert (got["n_events"] >= 1).all()


def test_windowed_counts_append_watermark_semantics(spark, sf_small, tmp_path):
    # Append mode emits only windows closed by the final watermark
    # (max_ts - 30min); the in-flight tail windows stay in state.
    stream, batch = _events_stream(spark, sf_small, tmp_path)
    got = _run_stream_to_memory(
        spark, windowed_counts(stream), "win_append", output_mode="append"
    ).toPandas()
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    wm = max_ts - __import__("datetime").timedelta(minutes=30)
    closed = (
        batch.groupBy(F.window("ts", "15 minutes").alias("w"), F.col("event_type"))
        .count()
        .filter(F.col("w.end") <= F.lit(wm))
        .count()
    )
    total = (
        batch.groupBy(F.window("ts", "15 minutes").alias("w"), F.col("event_type"))
        .count()
        .count()
    )
    assert closed <= len(got) <= total
    assert len(got) < total  # the tail really was held back


def test_stream_dedup(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    src = tmp_path / "dup_src"
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:05:00")],
        ["event_id", "ts_str"],
    ).select("event_id", F.col("ts_str").cast("timestamp").alias("ts"))
    df.write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(schema).parquet(str(src))
    got = _run_stream_to_memory(spark, stream_dedup(stream), "dedup").toPandas()
    assert len(got) == 2
    assert sorted(got["event_id"]) == [1, 2]


def test_replay_windowed_counts_equals_oracle_checked_twin(spark, sf_small, tmp_path):
    """Full-value replay: the streaming engine over a file-dropped copy
    of events must reproduce the oracle-checked batch twin
    (q_tumbling_window) row for row — not just in cardinality."""
    import numpy as np

    from nyc_landmarks_datalake_spark import registry

    registry.load_all()
    QUERIES = registry.QUERIES
    stream, _ = _events_stream(spark, sf_small, tmp_path)
    got = (
        _run_stream_to_memory(
            spark, windowed_counts(stream), "replay_win", output_mode="complete"
        )
        .toPandas()
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    want = (
        QUERIES["q_tumbling_window"](spark, sf_small)
        .toPandas()
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert got["window_start"].tolist() == want["window_start"].tolist()
    assert got["event_type"].tolist() == want["event_type"].tolist()
    assert got["n_events"].tolist() == want["n_events"].tolist()
    # streaming sums plain doubles (accumulation-order dependent);
    # the twin sums via decimal — equal to float tolerance
    assert np.allclose(got["total_value"], want["total_value"], rtol=1e-9)


def test_replay_sessionized_equals_oracle_checked_twin(spark, sf_small, tmp_path):
    """Per-user session windows (2 h gap) through the streaming engine
    must reproduce the oracle-checked batch twin (q_session_window)."""
    import numpy as np

    from nyc_landmarks_datalake_spark import registry

    registry.load_all()
    QUERIES = registry.QUERIES
    stream, _ = _events_stream(spark, sf_small, tmp_path)
    sessions = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "2 hours").alias("sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            F.col("sw.start").alias("session_start"),
            "user_id",
            "n_events",
            "session_value",
        )
    )
    got = (
        _run_stream_to_memory(spark, sessions, "replay_sess", output_mode="complete")
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    want = (
        QUERIES["q_session_window"](spark, sf_small)
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert got["user_id"].tolist() == want["user_id"].tolist()
    assert got["session_start"].tolist() == want["session_start"].tolist()
    assert got["n_events"].tolist() == want["n_events"].tolist()
    assert np.allclose(got["session_value"], want["session_value"], rtol=1e-9)


def test_late_data_dropped_across_checkpointed_restarts(spark, tmp_path):
    """Deterministic late-data semantics: an event older than the
    checkpointed watermark must NOT change an already-emitted window.
    Three availableNow runs against one checkpoint simulate arrival
    order exactly (no reliance on file-discovery order)."""
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = tmp_path / "late_src"
    src.mkdir()
    sink, ckpt = str(tmp_path / "late_sink"), str(tmp_path / "late_ckpt")

    def drop_file(name, rows):
        spark.createDataFrame(
            [(i, u, t, ts, v) for (i, u, t, ts, v) in rows],
            ["event_id", "user_id", "event_type", "ts_str", "value"],
        ).select(
            "event_id", "user_id", "event_type",
            F.col("ts_str").cast("timestamp").alias("ts"), "value",
        ).write.mode("overwrite").parquet(str(src / name))

    def run_once():
        q = (
            windowed_counts(
                spark.readStream.schema(schema).parquet(str(src / "*"))
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # run 1: two events in the 10:00 window; 13:00 advances the
    # watermark to 12:30, closing and emitting the 10:00 window
    drop_file(
        "b1",
        [
            (1, 1, "A", "2024-01-01 10:00:00", 1.0),
            (2, 1, "A", "2024-01-01 10:05:00", 1.0),
            (3, 2, "B", "2024-01-01 13:00:00", 1.0),
        ],
    )
    run_once()
    emitted = spark.read.schema(
        "window_start timestamp, window_end timestamp, event_type string,"
        "n_events long, total_value double"
    ).parquet(sink).toPandas()
    assert len(emitted[emitted.event_type == "A"]) == 1
    assert emitted[emitted.event_type == "A"].n_events.iloc[0] == 2

    # run 2: a LATE event for the closed 10:00 window (behind the
    # checkpointed 12:30 watermark) plus an on-time 13:20 event
    drop_file(
        "b2",
        [
            (4, 1, "A", "2024-01-01 10:07:00", 99.0),  # late → dropped
            (5, 2, "B", "2024-01-01 13:20:00", 1.0),
        ],
    )
    run_once()
    # run 3: 14:30 advances the watermark past both 13:xx windows
    drop_file("b3", [(6, 3, "C", "2024-01-01 14:30:00", 1.0)])
    run_once()

    final = spark.read.schema(
        "window_start timestamp, window_end timestamp, event_type string,"
        "n_events long, total_value double"
    ).parquet(sink).toPandas()
    a_rows = final[final.event_type == "A"]
    # the late event neither re-emitted the 10:00 window nor changed it
    assert len(a_rows) == 1
    assert a_rows.n_events.iloc[0] == 2
    assert a_rows.total_value.iloc[0] == 2.0
    b_rows = final[final.event_type == "B"].sort_values("window_start")
    assert b_rows.n_events.tolist() == [1, 1]  # 13:00 and 13:15 windows


def test_replay_sliding_window_equals_oracle_checked_twin(spark, sf_small, tmp_path):
    import numpy as np

    from nyc_landmarks_datalake_spark import registry

    registry.load_all()
    stream, _ = _events_stream(spark, sf_small, tmp_path)
    got = (
        _run_stream_to_memory(
            spark,
            windowed_counts(stream, slide="5 minutes"),
            "replay_slide",
            output_mode="complete",
        )
        .toPandas()
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    want = (
        registry.QUERIES["q_sliding_window"](spark, sf_small)
        .toPandas()
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert got["window_start"].tolist() == want["window_start"].tolist()
    assert got["event_type"].tolist() == want["event_type"].tolist()
    assert got["n_events"].tolist() == want["n_events"].tolist()
    assert np.allclose(got["total_value"], want["total_value"], rtol=1e-9)


def test_stream_outer_join_emits_watermark_driven_nulls(spark, sf_small):
    """The LEFT OUTER stream-stream join must emit unmatched left rows
    with right-side NULLs — which only happens when the watermark
    passes their join window. The flush sentinel forces that before the
    finite replay terminates; without it these rows silently vanish."""
    from nyc_landmarks_datalake_spark.streaming.stream_join import (
        replay_stream_outer_join,
    )

    ev = table(spark, sf_small, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("purchase_user"),
        F.col("ts").alias("purchase_ts"),
    )
    rows = replay_stream_outer_join(
        spark, clicks, purchases, n_source_files=2
    ).collect()
    n_clicks = clicks.count()
    matched = [r for r in rows if r["purchase_id"] is not None]
    nulls = [r for r in rows if r["purchase_id"] is None]
    assert nulls, "no watermark-driven null emissions — flush failed"
    # every click appears: unmatched ones exactly once as a null row
    matched_ids = {r["click_id"] for r in matched}
    null_ids = {r["click_id"] for r in nulls}
    assert not (matched_ids & null_ids)
    assert len(null_ids) == len(nulls)  # one null row per unmatched click
    assert len(matched_ids) + len(null_ids) == n_clicks
    assert -1 not in {r["click_id"] for r in rows}  # sentinels excluded


def test_stream_full_outer_join_emits_both_null_sides(spark, sf_small):
    """fullOuter must ALSO emit unmatched right rows with left-side
    NULLs (the path leftOuter never exercises), across micro-batch
    boundaries, with sentinels excluded on both sides."""
    from nyc_landmarks_datalake_spark.streaming.stream_join import (
        replay_stream_outer_join,
    )

    ev = table(spark, sf_small, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("purchase_user"),
        F.col("ts").alias("purchase_ts"),
    )
    rows = replay_stream_outer_join(
        spark, clicks, purchases, n_source_files=2, how="fullOuter"
    ).collect()
    left_nulls = [r for r in rows if r["purchase_id"] is None]
    right_nulls = [r for r in rows if r["click_id"] is None]
    matched = [
        r
        for r in rows
        if r["click_id"] is not None and r["purchase_id"] is not None
    ]
    assert left_nulls and right_nulls, (len(left_nulls), len(right_nulls))
    # every click and every purchase appears exactly once per join row
    assert len(matched) + len(left_nulls) + len(right_nulls) == len(rows)
    assert {r["click_id"] for r in matched} | {
        r["click_id"] for r in left_nulls
    } == {r["click_id"] for r in clicks.collect()}
    assert {r["purchase_id"] for r in matched} | {
        r["purchase_id"] for r in right_nulls
    } == {r["purchase_id"] for r in purchases.collect()}
    ids = {r["click_id"] for r in rows} | {r["purchase_id"] for r in rows}
    assert -1 not in ids  # sentinels excluded on BOTH sides


def test_stream_semi_join_emits_once_per_matched_click(spark, sf_small):
    """leftSemi: every converting click exactly once (multi-match must
    NOT duplicate), unmatched clicks never, across micro-batch
    boundaries, left columns only."""
    from nyc_landmarks_datalake_spark.streaming.stream_join import (
        JOIN_WINDOW_HOURS,
        replay_stream_outer_join,
    )

    ev = table(spark, sf_small, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("purchase_user"),
        F.col("ts").alias("purchase_ts"),
    )
    rows = replay_stream_outer_join(
        spark, clicks, purchases, n_source_files=2, how="leftSemi"
    ).collect()
    assert rows and "purchase_id" not in rows[0].asDict()
    ids = [r["click_id"] for r in rows]
    assert len(ids) == len(set(ids)), "semi join emitted a click twice"
    # batch truth
    want = {
        r["click_id"]
        for r in clicks.alias("a")
        .join(
            purchases.alias("b"),
            (F.col("a.click_user") == F.col("b.purchase_user"))
            & F.col("a.click_ts").between(
                F.col("b.purchase_ts")
                - F.expr(f"INTERVAL {JOIN_WINDOW_HOURS} HOURS"),
                F.col("b.purchase_ts"),
            ),
            "left_semi",
        )
        .collect()
    }
    assert set(ids) == want


def test_stream_ingest_dedup_crosses_batch_boundaries(spark):
    """A near-dup whose original arrived in an EARLIER micro-batch must
    be flagged via the persistent band-minimum store (not within-batch
    luck), and the bucket pioneer must never be flagged."""
    from nyc_landmarks_datalake_spark.streaming.ingest_dedup import (
        replay_stream_ingest_dedup,
    )

    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq = [
        f"row{i} word{i}a word{i}b word{i}c word{i}d word{i}e word{i}f"
        for i in range(8)
    ]
    # doc 0 is the pioneer; docs 50 and 51 are exact near-dups of it and
    # land in later range-ordered batches (ids force the split); the
    # rest are mutually distinct
    rows = [(0, "s", body)]
    rows += [(i + 1, "s", uniq[i]) for i in range(4)]
    rows += [(50, "s", body), (51, "s", body)]
    rows += [(100 + i, "s", uniq[4 + i]) for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")
    got = {
        r["doc_id"]: r["is_dup"]
        for r in replay_stream_ingest_dedup(spark, docs).collect()
    }
    assert len(got) == len(rows)
    assert got[0] is False  # pioneer keeps its bucket
    assert got[50] is True and got[51] is True  # flagged across batches
    assert not any(got[i] for i in got if i not in (50, 51))


def test_stream_join_windowed_chains_two_stateful_ops(spark, sf_small):
    """Join→window in ONE streaming query: the chained replay must
    reproduce the batch join+GROUP BY across micro-batch boundaries
    (n_source_files=2 forces pairs whose sides arrive in different
    batches through recovered join state into the window operator),
    and the flush sentinels must close every real window WITHOUT
    leaking their own far-future window into the output."""
    from nyc_landmarks_datalake_spark.streaming.stream_join import (
        JOIN_WINDOW_HOURS,
        replay_stream_join_windowed,
    )

    ev = table(spark, sf_small, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("purchase_user"),
        F.col("ts").alias("purchase_ts"),
    )
    got = {
        str(r["w"]["start"]): (r["n_pairs"], r["sum_click_ids"])
        for r in replay_stream_join_windowed(
            spark, clicks, purchases, n_source_files=2
        ).collect()
    }
    want = {
        str(r["ws"]): (r["n"], r["s"])
        for r in clicks.join(
            purchases,
            (F.col("click_user") == F.col("purchase_user"))
            & F.col("click_ts").between(
                F.col("purchase_ts")
                - F.expr(f"INTERVAL {JOIN_WINDOW_HOURS} HOURS"),
                F.col("purchase_ts"),
            ),
        )
        .groupBy(F.window("purchase_ts", "1 day").start.alias("ws"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("click_id").cast("long").alias("s"),
        )
        .collect()
    }
    assert got == want
    assert all(ws < "2025" for ws in got)  # sentinel window withheld


def test_replay_session_cache_revalidates(monkeypatch):
    """r13 ADVICE: the clone cache was keyed on id(sparkContext) —
    CPython reuses id() after GC, so a restarted context could be
    handed a dead clone. Now keyed on applicationId and validated for
    identity + liveness before reuse."""
    from nyc_landmarks_datalake_spark.streaming import guard

    class FakeJsc:
        def __init__(self, ctx):
            self._ctx = ctx

        def sc(self):
            return self

        def isStopped(self):
            return self._ctx.stopped

    class FakeContext:
        def __init__(self, app):
            self.applicationId = app
            self.stopped = False

        @property
        def _jsc(self):
            return FakeJsc(self)

    class FakeConf:
        def set(self, *a):
            pass

    class FakeSession:
        def __init__(self, ctx):
            self.sparkContext = ctx
            self.conf = FakeConf()

        def newSession(self):
            return FakeSession(self.sparkContext)

    monkeypatch.setattr(guard, "_REPLAY_SESSIONS", {})
    ctx = FakeContext("app-1")
    parent = FakeSession(ctx)
    s1 = guard.replay_session(parent)
    assert guard.replay_session(parent) is s1  # live clone reused
    # same key, context restarted (the id()-reuse analogue): the dead
    # clone must be evicted and a clone of the CALLER's context handed
    ctx.stopped = True
    ctx2 = FakeContext("app-1")
    s2 = guard.replay_session(FakeSession(ctx2))
    assert s2 is not s1
    assert s2.sparkContext is ctx2


def test_finish_replay_stops_a_hung_query_and_names_its_zone():
    """A replay that outlives its timeout is stopped and raises, naming
    the zone, instead of letting the caller read a partial sink; one
    that finishes in time is left alone."""
    from nyc_landmarks_datalake_spark.streaming.guard import finish_replay

    class FakeQuery:
        def __init__(self, finishes):
            self.finishes, self.stopped, self.waited = finishes, False, None

        def awaitTermination(self, timeout):
            self.waited = timeout
            return self.finishes

        def stop(self):
            self.stopped = True

    hung = FakeQuery(finishes=False)
    with pytest.raises(RuntimeError, match=r"stream_dedup.*within 5s"):
        finish_replay(hung, 5, "stream_dedup")
    assert hung.stopped and hung.waited == 5
    done = FakeQuery(finishes=True)
    finish_replay(done, 5, "stream_dedup")
    assert not done.stopped


def test_interval_join_replay_streams_on_replay_session(spark, monkeypatch):
    """The stateful stream-stream interval join streams on the
    low-partition replay clone, as every stateful replay does, and
    pairs each click with the same user's purchases within
    JOIN_WINDOW_HOURS after it."""
    from nyc_landmarks_datalake_spark.streaming import stream_join

    real, calls = stream_join.replay_session, []

    def counting(spark_):
        calls.append(spark_)
        return real(spark_)

    monkeypatch.setattr(stream_join, "replay_session", counting)

    def feed(kind, rows):
        return spark.createDataFrame(
            rows, f"{kind}_id BIGINT, {kind}_user BIGINT, ts STRING"
        ).select(
            f"{kind}_id", f"{kind}_user", F.to_timestamp("ts").alias(f"{kind}_ts")
        )

    clicks = feed(
        "click",
        [
            (1, 7, "2024-01-01 10:00:00"),  # 2 h before purchase 10
            (2, 7, "2024-01-01 01:00:00"),  # 11 h before: outside
            (3, 8, "2024-01-01 10:00:00"),  # no purchase by user 8
        ],
    )
    purchases = feed(
        "purchase", [(10, 7, "2024-01-01 12:00:00"), (11, 9, "2024-01-01 12:00:00")]
    )
    pairs = stream_join.replay_stream_interval_join(spark, clicks, purchases)
    assert {(r["click_id"], r["purchase_id"]) for r in pairs.collect()} == {(1, 10)}
    assert calls == [spark]


def test_replay_owns_its_base_dir(spark, tmp_path, monkeypatch):
    """``replay`` returns a materialized result that reads no files and
    removes its base dir before returning, whether the replay succeeds
    or its sink fails."""
    from nyc_landmarks_datalake_spark.streaming import guard
    from nyc_landmarks_datalake_spark.streaming.dedup import replay_stream_dedup

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rows = spark.range(20).select((F.col("id") % 5).alias("g"))
    got = replay_stream_dedup(spark, rows, ["g"])
    assert os.listdir(tmp_path) == []
    assert got.inputFiles() == []
    assert sorted(r["g"] for r in got.collect()) == [0, 1, 2, 3, 4]

    base = tempfile.mkdtemp(prefix="failing_")
    src = guard.stage(rows, os.path.join(base, "src"), 2)

    def failing_sink(_batch_df, _batch_id):
        raise ValueError("sink failed")

    with pytest.raises(Exception, match="sink failed"):
        guard.replay(
            spark, guard.file_stream(spark, src, rows.schema), base, "failing",
            sink=failing_sink,
        )
    assert os.listdir(tmp_path) == []
