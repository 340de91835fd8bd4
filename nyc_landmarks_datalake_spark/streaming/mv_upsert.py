"""Streaming incremental materialized view through the commit log.

The production lakehouse pattern the batch tiers already verify
separately — `q_incremental_mv_refresh` (CDF delta maintenance) and
`q_txlog_merge` (transactional MERGE) — composed as a REAL streaming
query: events arrive file-by-file, each micro-batch aggregates its
delta, reads the current MV snapshot, adds, and commits the merge as
the next table version. The final snapshot must equal the batch
GROUP BY of the whole feed exactly.

Correctness properties exercised:

  * batching-independence — the MV columns are integer counts/sums
    (commutative/associative adds), so ANY micro-batch split yields
    the identical final snapshot, which is what makes the batch oracle
    exact;
  * exactly-once per batch — each commit records its micro-batch id in
    the manifest operation (``mv_delta_b{id}``); a replayed batch
    (crash between the commit and the checkpoint write) finds its op
    already present and skips, so the read-modify-write add never
    double-counts. ``txtable.streaming_upsert_sink`` needs no such
    guard (its merge replaces rows per key, so a replay converges),
    but an ADDITIVE merge must implement it;
  * snapshot isolation — mid-stream readers see a committed version,
    never a half-merged state (inherited from sources/txtable.py);
  * rebase — the add is the ``fn`` of ``txtable.rewrite``, so a batch
    that loses its publish to a racing writer re-adds its delta onto
    the racer's snapshot instead of failing or overwriting it.

At 100 TB: each micro-batch shuffles only its delta (map-side
combinable hash agg); the snapshot read + merge is bounded by the MV
size (distinct users), not the feed; version manifests are O(1) each.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.sources import txtable
from nyc_landmarks_datalake_spark.streaming.guard import (
    file_stream,
    replay,
    replay_session,
    stage,
)

MV_SCHEMA = "user_id BIGINT, n_events BIGINT, sum_event_ids BIGINT"


def _committed_ops(path: str) -> set[str]:
    # manifest scan: versions are O(batches), each manifest O(1)
    return {m["operation"] for m in txtable.history(path)}


def mv_sink(sess, tbl: str):
    """Create the empty MV at ``tbl`` and return its per-batch sink:
    add the batch's delta and commit it as ``mv_delta_b{batch_id}``."""
    from nyc_landmarks_datalake_spark.operators.merge import merge_upsert

    txtable.commit(sess, tbl, sess.createDataFrame([], MV_SCHEMA), "create", None)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        op = f"mv_delta_b{batch_id}"
        if op in _committed_ops(tbl):
            return  # replayed micro-batch: already merged, skip
        delta = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("d_n"),
            F.sum("event_id").cast("long").alias("d_sum"),
        )

        def add(cur: DataFrame) -> DataFrame:
            updated = delta.join(cur, "user_id", "left").select(
                "user_id",
                (F.col("d_n") + F.coalesce(F.col("n_events"), F.lit(0)))
                .cast("long")
                .alias("n_events"),
                (F.col("d_sum") + F.coalesce(F.col("sum_event_ids"), F.lit(0)))
                .cast("long")
                .alias("sum_event_ids"),
            )
            return merge_upsert(cur, updated, ["user_id"])

        txtable.rewrite(sess, tbl, op, add)

    return sink


def replay_stream_mv_upsert(spark, events: DataFrame) -> DataFrame:
    """Replay the feed through the per-batch delta→read→add→commit loop
    and return the final MV snapshot (read with the CALLER's session)."""
    base = tempfile.mkdtemp(prefix="stream_mv_")
    src = stage(events, os.path.join(base, "events"), 3)
    tbl = os.path.join(base, "mv")
    sess = replay_session(spark)
    stream = file_stream(sess, src, events.schema)
    return replay(
        spark,
        stream,
        base,
        "stream_mv_upsert",
        sink=mv_sink(sess, tbl),
        read=lambda: txtable.read_snapshot(spark, tbl),
    )


def _register() -> None:
    from nyc_landmarks_datalake_spark.registry import query
    from nyc_landmarks_datalake_spark.sources.catalog import table

    @query(
        "q_stream_mv_upsert",
        sql="""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(event_id) AS BIGINT) AS sum_event_ids
        FROM events GROUP BY 1
        """,
    )
    def q_stream_mv_upsert(spark, sf_dir: str) -> DataFrame:
        """Per-user event counts maintained as a streaming incremental
        MV: micro-batch deltas added into a transactional commit-log
        table, one version per batch, batch-id idempotence. The final
        snapshot equals the batch GROUP BY of the whole feed."""
        ev = table(spark, sf_dir, "events").select("event_id", "user_id")
        return replay_stream_mv_upsert(spark, ev)


_register()
