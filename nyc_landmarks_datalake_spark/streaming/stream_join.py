"""Stream-stream interval join — the two-feed correlation pattern.

Two event feeds (clicks, purchases) joined on user within an event-time
window, as a REAL Structured Streaming stream-stream join: both sides
arrive file-by-file (``maxFilesPerTrigger=1``), each keeps keyed state
in the state store, and matches are emitted as both sides' watermarks
permit — a click in micro-batch 0 must pair with a purchase arriving
in micro-batch 5 via recovered state, not within-batch luck.

Determinism contract (what makes this oracle-checkable bit-exactly):
the inner-join match SET of a finite replay is arrival-order
independent as long as no row is ever dropped as late, so the
watermark delay is set beyond the staged data's full event-time span.
Production tightens the delay to bound state — correctness semantics
are unchanged, only lateness tolerance. The oracle is the equivalent
batch interval join, so the streaming machinery must reproduce the
batch answer exactly.

Scale: state per side is bounded by (watermark window x arrival rate);
the join co-shuffles both streams on the equality key (user_id) once —
the same partitioning the batch plan would use — and the range
predicate prunes state by event time.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.streaming.guard import (
    file_stream,
    replay,
    replay_session,
    stage,
)

JOIN_WINDOW_HOURS = 6

#: watermark delay of both feeds: beyond the staged data's full
#: event-time span, so no real row is ever late
WM_DELAY = "90 days"

#: the click and purchase feeds and the join predicate, as oracle SQL
_FEEDS_SQL = """
        a AS (
            SELECT event_id AS click_id, user_id AS click_user, ts AS click_ts
            FROM events WHERE event_type = 'click'
        ),
        b AS (
            SELECT event_id AS purchase_id, user_id AS purchase_user,
                   ts AS purchase_ts
            FROM events WHERE event_type = 'purchase'
        )"""
_ON_SQL = f"""a.click_user = b.purchase_user
         AND a.click_ts BETWEEN
             b.purchase_ts - INTERVAL {JOIN_WINDOW_HOURS} HOURS AND b.purchase_ts"""


def _feeds(spark, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The events table split into the click and the purchase feed."""
    from nyc_landmarks_datalake_spark.sources.catalog import table

    ev = table(spark, sf_dir, "events")

    def feed(kind: str) -> DataFrame:
        return ev.filter(F.col("event_type") == kind).select(
            F.col("event_id").alias(f"{kind}_id"),
            F.col("user_id").alias(f"{kind}_user"),
            F.col("ts").alias(f"{kind}_ts"),
        )

    return feed("click"), feed("purchase")


def _interval_join(
    sess,
    clicks: DataFrame,
    src_a: str,
    purchases: DataFrame,
    src_b: str,
    how: str,
) -> DataFrame:
    """The staged click and purchase feeds streamed on ``sess`` with
    watermarks and joined on user, each click to the purchases in the
    ``JOIN_WINDOW_HOURS`` after it."""
    a = file_stream(sess, src_a, clicks.schema).withWatermark("click_ts", WM_DELAY)
    b = file_stream(sess, src_b, purchases.schema).withWatermark(
        "purchase_ts", WM_DELAY
    )
    return a.join(
        b,
        (a.click_user == b.purchase_user)
        & (
            F.col("click_ts").between(
                F.col("purchase_ts") - F.expr(f"INTERVAL {JOIN_WINDOW_HOURS} HOURS"),
                F.col("purchase_ts"),
            )
        ),
        how,
    )


def replay_stream_interval_join(
    spark,
    clicks: DataFrame,
    purchases: DataFrame,
    n_source_files: int = 2,
) -> DataFrame:
    """Replay both inputs through the watermarked stream-stream interval
    join; return every emitted pair."""
    base = tempfile.mkdtemp(prefix="stream_join_")
    src_a = stage(clicks, os.path.join(base, "clicks"), n_source_files)
    src_b = stage(purchases, os.path.join(base, "purchases"), n_source_files)
    joined = _interval_join(
        replay_session(spark), clicks, src_a, purchases, src_b, "inner"
    )
    return replay(spark, joined, base, "stream_join")


def _register_queries() -> None:
    from nyc_landmarks_datalake_spark.registry import query

    @query(
        "q_stream_interval_join",
        sql=f"""
        WITH {_FEEDS_SQL}
        SELECT a.click_user AS user_id,
               COUNT(*) AS n_pairs,
               CAST(SUM(a.click_id) AS BIGINT) AS sum_click_ids,
               CAST(SUM(b.purchase_id) AS BIGINT) AS sum_purchase_ids
        FROM a JOIN b
          ON {_ON_SQL}
        GROUP BY 1
        """,
    )
    def q_stream_interval_join(spark, sf_dir: str) -> DataFrame:
        pairs = replay_stream_interval_join(spark, *_feeds(spark, sf_dir))
        return pairs.groupBy(F.col("click_user").alias("user_id")).agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("click_id").alias("sum_click_ids"),
            F.sum("purchase_id").alias("sum_purchase_ids"),
        )


_register_queries()


def replay_stream_static_join(
    spark,
    stream_rows: DataFrame,
    static_dim: DataFrame,
    on,
) -> DataFrame:
    """Replay ``stream_rows`` joined against the static (batch)
    dimension — the per-micro-batch enrichment pattern. The static side
    is planned fresh each micro-batch (broadcast at dim scale); an inner
    equi-join emits each enriched row exactly once regardless of arrival
    order, which is what makes the replay oracle-checkable. It keeps no
    streaming state, so it streams on the caller's session."""
    base = tempfile.mkdtemp(prefix="stream_static_")
    src = stage(stream_rows, os.path.join(base, "src"), 3)
    joined = file_stream(spark, src, stream_rows.schema).join(static_dim, on)
    return replay(spark, joined, base, "stream_static")


def _register_static_join() -> None:
    from nyc_landmarks_datalake_spark.functions.numeric import dsum, dsum_sql
    from nyc_landmarks_datalake_spark.registry import query
    from nyc_landmarks_datalake_spark.sources.catalog import table

    @query(
        "q_stream_static_join",
        sql=f"""
        SELECT c.c_nationkey AS nationkey,
               COUNT(*) AS n_events,
               {dsum_sql('e.value')} AS sum_value,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        FROM events e JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY 1
        """,
    )
    def q_stream_static_join(spark, sf_dir: str) -> DataFrame:
        ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
        dim = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        enriched = replay_stream_static_join(
            spark, ev, dim, F.col("user_id") == F.col("c_custkey")
        )
        return enriched.groupBy(
            F.col("c_nationkey").alias("nationkey")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )


_register_static_join()


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER join — the semantics users actually get
# wrong: an unmatched left row is NOT emitted when it arrives; it is
# emitted (with right-side NULLs) only when the global watermark proves
# no future right row can still match it. A finite replay therefore
# needs an explicit FLUSH: a sentinel row far enough in the future on
# BOTH feeds, staged to arrive strictly last (mtime-ordered file
# source), pushes the watermark past every real row's join window so
# all pending state drains before the query terminates. Without the
# sentinel, rows near the stream end silently vanish — the exact
# production bug this query pins down.
#
# Determinism: delay > the staged data's full span means no real row is
# ever late (arrival order irrelevant); the flush makes null-emission
# exhaustive; so emitted pairs + null rows == the batch LEFT JOIN.
# ---------------------------------------------------------------------------

#: beyond every real ts + watermark delay + join window at any sf
#: (events span a fixed 30-day window from 2024-01-01 at every scale)
FLUSH_TS = "2025-06-01 00:00:00"


def _stage_feeds_with_flush(
    spark,
    base: str,
    clicks: DataFrame,
    purchases: DataFrame,
    n_source_files: int,
    n_flush_files: int = 1,
) -> tuple[str, str]:
    """Stage both feeds as parquet plus ``n_flush_files`` far-future
    flush sentinels each, mtime-ordered so sentinels replay strictly
    LAST (and strictly in order among themselves).

    Shared by the outer-join replay (null emission is watermark-driven)
    and the chained join→window replay (window finalization is
    watermark-driven): both terminate cleanly only if a last-arriving
    sentinel on EVERY feed pushes the global watermark past all real
    event time. A single-stateful-operator query needs one sentinel; a
    CHAIN of stateful operators needs one per level, because each
    downstream operator evaluates against the watermark as of the
    PREVIOUS micro-batch — the k-th sentinel batch propagates the
    advance one level further down. Sentinel k sits at flush + k days
    so each batch strictly advances the watermark.

    Sentinel files are identified by set difference against a pre-write
    snapshot — a max-mtime pick can tie with a data part on
    coarse-granularity filesystems and bump the wrong file.
    """
    import time as _time

    src_a = stage(clicks, os.path.join(base, "clicks"), n_source_files)
    src_b = stage(purchases, os.path.join(base, "purchases"), n_source_files)

    data_cutoff = _time.time()
    for k in range(n_flush_files):
        flush = F.to_timestamp(F.lit(FLUSH_TS)) + F.expr(
            f"INTERVAL {k} DAYS"
        )
        sent_a = spark.range(1).select(
            F.lit(-1).cast("long").alias("click_id"),
            F.lit(-1).cast("long").alias("click_user"),
            flush.alias("click_ts"),
        )
        sent_b = spark.range(1).select(
            F.lit(-1).cast("long").alias("purchase_id"),
            F.lit(-1).cast("long").alias("purchase_user"),
            flush.alias("purchase_ts"),
        )
        pre = {
            d: {f for f in os.listdir(d) if f.endswith(".parquet")}
            for d in (src_a, src_b)
        }
        sent_a.coalesce(1).write.mode("append").parquet(src_a)
        sent_b.coalesce(1).write.mode("append").parquet(src_b)
        stamp = data_cutoff + 120 + 60 * k
        for d in (src_a, src_b):
            new = [
                f
                for f in os.listdir(d)
                if f.endswith(".parquet") and f not in pre[d]
            ]
            assert new, f"sentinel write produced no new part file in {d}"
            for f in new:
                os.utime(os.path.join(d, f), (stamp, stamp))
    return src_a, src_b




def replay_stream_outer_join(
    spark,
    clicks: DataFrame,
    purchases: DataFrame,
    n_source_files: int = 1,
    how: str = "leftOuter",
) -> DataFrame:
    """Stage both feeds plus a last-arriving flush sentinel each, replay
    through a watermarked stream-stream LEFT OUTER interval join, and
    return every emission (matches and watermark-driven null rows),
    sentinels excluded.

    Default staging is ONE data file per side plus the sentinel —
    results are batching-independent (verified vs the batch oracle and
    by the n_source_files=2 machinery test, which pins cross-batch
    state recovery + null emission); each extra stateful micro-batch
    costs ~2x store I/O for no extra semantic coverage here, and the
    cross-batch MATCH path is already exercised by the inner interval
    join's two-file staging.

    ``how`` is ``leftOuter`` (default), ``fullOuter`` or ``leftSemi``.
    fullOuter additionally emits unmatched RIGHT rows with left-side
    NULLs once the left watermark passes their join window; leftSemi
    emits each matched LEFT row exactly once (left columns only) and
    drops unmatched ones when the watermark closes their window. The
    same single flush sentinel pair drives all three (one stateful
    level). The two flush sentinels share user -1 and an identical
    timestamp, so they match EACH OTHER and never surface as null
    rows; the sentinel filter drops matched and null-side sentinel
    rows alike."""
    base = tempfile.mkdtemp(prefix="stream_ojoin_")
    src_a, src_b = _stage_feeds_with_flush(
        spark, base, clicks, purchases, n_source_files
    )
    joined = _interval_join(
        replay_session(spark), clicks, src_a, purchases, src_b, how
    )
    rows = replay(spark, joined, base, "stream_outer_join")
    if how == "fullOuter":
        return rows.filter(
            (F.col("click_id").isNull() | (F.col("click_id") != -1))
            & (F.col("purchase_id").isNull() | (F.col("purchase_id") != -1))
        )
    # leftSemi emits left columns only; the click_id filter covers both
    return rows.filter(F.col("click_id") != -1)


def _register_semi_join() -> None:
    from nyc_landmarks_datalake_spark.registry import query

    @query(
        "q_stream_semi_join",
        sql=f"""
        WITH {_FEEDS_SQL}
        SELECT a.click_user AS user_id,
               CAST(COUNT(*) AS BIGINT) AS n_converting_clicks,
               CAST(SUM(a.click_id) AS BIGINT) AS sum_click_ids
        FROM a
        WHERE EXISTS (
            SELECT 1 FROM b
            WHERE {_ON_SQL}
        )
        GROUP BY 1
        """,
    )
    def q_stream_semi_join(spark, sf_dir: str) -> DataFrame:
        """LEFT SEMI stream-stream interval join: each click that
        converts (>= 1 purchase in its window) is emitted EXACTLY ONCE
        with left columns only — the streaming existence check, state
        deduplicating multi-match emissions. Same replay machinery and
        flush sentinel as the outer joins; emission set equals the
        batch semi join (delay > data span)."""
        rows = replay_stream_outer_join(spark, *_feeds(spark, sf_dir), how="leftSemi")
        return rows.groupBy(F.col("click_user").alias("user_id")).agg(
            F.count(F.lit(1)).cast("long").alias("n_converting_clicks"),
            F.sum("click_id").cast("long").alias("sum_click_ids"),
        )


_register_semi_join()


def _register_outer_join() -> None:
    from nyc_landmarks_datalake_spark.registry import query

    @query(
        "q_stream_outer_join",
        sql=f"""
        WITH {_FEEDS_SQL}
        SELECT a.click_user AS user_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(b.purchase_id) AS BIGINT) AS n_matched,
               CAST(COUNT(*) - COUNT(b.purchase_id) AS BIGINT) AS n_unmatched,
               CAST(SUM(a.click_id) AS BIGINT) AS sum_click_ids,
               CAST(COALESCE(SUM(b.purchase_id), 0) AS BIGINT)
                   AS sum_purchase_ids
        FROM a LEFT JOIN b
          ON {_ON_SQL}
        GROUP BY 1
        """,
    )
    def q_stream_outer_join(spark, sf_dir: str) -> DataFrame:
        rows = replay_stream_outer_join(spark, *_feeds(spark, sf_dir))
        return rows.groupBy(F.col("click_user").alias("user_id")).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count("purchase_id").cast("long").alias("n_matched"),
            (F.count(F.lit(1)) - F.count("purchase_id"))
            .cast("long")
            .alias("n_unmatched"),
            F.sum("click_id").cast("long").alias("sum_click_ids"),
            F.coalesce(F.sum("purchase_id"), F.lit(0))
            .cast("long")
            .alias("sum_purchase_ids"),
        )


_register_outer_join()


def _register_full_outer_join() -> None:
    from nyc_landmarks_datalake_spark.registry import query

    @query(
        "q_stream_full_outer_join",
        sql=f"""
        WITH {_FEEDS_SQL}
        SELECT COALESCE(a.click_user, b.purchase_user) AS user_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(CASE WHEN a.click_id IS NOT NULL
                                AND b.purchase_id IS NOT NULL THEN 1 END)
                    AS BIGINT) AS n_matched,
               CAST(COUNT(CASE WHEN b.purchase_id IS NULL THEN 1 END)
                    AS BIGINT) AS n_left_only,
               CAST(COUNT(CASE WHEN a.click_id IS NULL THEN 1 END)
                    AS BIGINT) AS n_right_only,
               CAST(COALESCE(SUM(a.click_id), 0) AS BIGINT) AS sum_click_ids,
               CAST(COALESCE(SUM(b.purchase_id), 0) AS BIGINT)
                   AS sum_purchase_ids
        FROM a FULL JOIN b
          ON {_ON_SQL}
        GROUP BY 1
        """,
    )
    def q_stream_full_outer_join(spark, sf_dir: str) -> DataFrame:
        """FULL OUTER stream-stream interval join: both sides' unmatched
        rows are emitted with opposite-side NULLs as the respective
        watermark passes their join window — the symmetric completion of
        `q_stream_outer_join`, sharing its replay machinery and flush
        sentinel. The emission set of the finite replay equals the batch
        FULL JOIN exactly (delay > data span, so nothing drops late)."""
        rows = replay_stream_outer_join(
            spark, *_feeds(spark, sf_dir), how="fullOuter"
        )
        return rows.groupBy(
            F.coalesce(F.col("click_user"), F.col("purchase_user")).alias(
                "user_id"
            )
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count(
                F.when(
                    F.col("click_id").isNotNull()
                    & F.col("purchase_id").isNotNull(),
                    1,
                )
            )
            .cast("long")
            .alias("n_matched"),
            F.count(F.when(F.col("purchase_id").isNull(), 1))
            .cast("long")
            .alias("n_left_only"),
            F.count(F.when(F.col("click_id").isNull(), 1))
            .cast("long")
            .alias("n_right_only"),
            F.coalesce(F.sum("click_id"), F.lit(0))
            .cast("long")
            .alias("sum_click_ids"),
            F.coalesce(F.sum("purchase_id"), F.lit(0))
            .cast("long")
            .alias("sum_purchase_ids"),
        )


_register_full_outer_join()


# ---------------------------------------------------------------------------
# CHAINED stateful operators in ONE streaming query (Spark 4 multiple-
# stateful-operator support): stream-stream inner interval join →
# tumbling event-time window aggregation downstream, one checkpoint.
# This is the production shape users get wrong after joins: the window
# operator finalizes a bucket only when the watermark — the MIN of both
# feeds' watermarks, propagated THROUGH the join — passes the window
# end, so a finite replay needs the same both-feed flush sentinel as
# the outer join or the trailing windows silently never emit.
#
# Determinism: the inner-join match set is arrival-order independent
# (delay > data span, no late drops), window assignment is a pure
# function of purchase_ts, and the flush closes every real window —
# so the emission set equals the batch join+GROUP BY oracle exactly.
# ---------------------------------------------------------------------------


def replay_stream_join_windowed(
    spark,
    clicks: DataFrame,
    purchases: DataFrame,
    n_source_files: int = 1,
) -> DataFrame:
    """Replay both feeds through join→window-agg (two state stores in
    one query) and return every finalized window row.

    The sentinel pair (-1 matches -1 at the flush instant) needs NO
    explicit filter: it lands in a far-future window whose end never
    passes the watermark, so append mode never emits it. Filtering it
    in-stream (``filter(click_id != -1)`` between join and window)
    would actually BREAK the flush — Catalyst pushes the deterministic
    predicate below the clicks-side EventTimeWatermark node, that
    feed's watermark stats never see the sentinels, and the global
    min-watermark freezes at the data-derived value, silently
    withholding every trailing window (found empirically; the
    single-operator outer-join replay is immune because it filters
    sentinels AFTER the replay)."""
    base = tempfile.mkdtemp(prefix="stream_jwin_")
    # two flush sentinels per feed: the first drains the JOIN's state,
    # the second batch carries the advanced watermark down to the
    # WINDOW operator (each stateful level sees the watermark as of
    # the previous micro-batch)
    src_a, src_b = _stage_feeds_with_flush(
        spark, base, clicks, purchases, n_source_files, n_flush_files=2
    )
    agged = (
        _interval_join(replay_session(spark), clicks, src_a, purchases, src_b, "inner")
        .groupBy(F.window("purchase_ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("click_id").cast("long").alias("sum_click_ids"),
            F.sum("purchase_id").cast("long").alias("sum_purchase_ids"),
        )
    )
    return replay(spark, agged, base, "stream_join_windowed")


def _register_join_windowed() -> None:
    from nyc_landmarks_datalake_spark.registry import query

    @query(
        "q_stream_join_windowed",
        sql=f"""
        WITH {_FEEDS_SQL},
        j AS (
            SELECT a.click_id, b.purchase_id, b.purchase_ts
            FROM a JOIN b
              ON {_ON_SQL}
        )
        SELECT time_bucket(INTERVAL '1 day', purchase_ts) AS window_start,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(click_id) AS BIGINT) AS sum_click_ids,
               CAST(SUM(purchase_id) AS BIGINT) AS sum_purchase_ids
        FROM j GROUP BY 1
        """,
    )
    def q_stream_join_windowed(spark, sf_dir: str) -> DataFrame:
        rows = replay_stream_join_windowed(spark, *_feeds(spark, sf_dir))
        return rows.select(
            F.col("w.start").alias("window_start"),
            "n_pairs",
            "sum_click_ids",
            "sum_purchase_ids",
        )


_register_join_windowed()
