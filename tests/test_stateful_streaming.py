"""applyInPandasWithState: state persists across micro-batches (same
checkpoint), totals match batch aggregation."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.sources.catalog import table
from nyc_landmarks_datalake_spark.streaming.stateful import user_profiles


def _run_batchfile(spark, src_dir, ckpt, out_dir, schema):
    stream = spark.readStream.schema(schema).parquet(src_dir)

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        user_profiles(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.read.parquet(out_dir).toPandas()


def test_state_accumulates_across_batches(spark, sf_small, tmp_path):
    ev = table(spark, sf_small, "events").select("user_id", "ts", "value")
    # split source into two halves written sequentially
    half1 = ev.filter(F.col("ts") < "2024-01-15")
    half2 = ev.filter(F.col("ts") >= "2024-01-15")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    half1.write.mode("overwrite").parquet(src)

    out1 = _run_batchfile(spark, src, ckpt, out, ev.schema)
    assert len(out1) > 0

    half2.write.mode("append").parquet(src)
    out2 = _run_batchfile(spark, src, ckpt, out, ev.schema)

    # the second run must only process the NEW files (state recovered,
    # not recomputed): its emitted profiles include batch-1 counts
    combined = {}
    for _, r in out2.iterrows():
        prev = combined.get(r["user_id"])
        if prev is None or r["n_events"] >= prev[0]:
            combined[r["user_id"]] = (r["n_events"], r["total_value"])
    exact = {
        r["user_id"]: (r["n"], r["total"])
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(combined) == set(exact)
    for uid, (n, total) in exact.items():
        got_n, got_total = combined[uid]
        assert got_n == n, f"user {uid}: {got_n} != {n}"
        assert abs(got_total - total) < 1e-6


def test_replay_matches_batch_aggregation(spark, sf_small):
    """The registered q_stateful_user_profiles replay (real streaming,
    one file per micro-batch) equals the plain batch GROUP BY — the
    same equivalence the driver's DuckDB oracle checks."""
    from nyc_landmarks_datalake_spark.registry import QUERIES, load_all

    load_all()
    got = {
        r["user_id"]: (r["n_events"], r["total_value_micros"], r["last_ts_us"])
        for r in QUERIES["q_stateful_user_profiles"](spark, sf_small).collect()
    }
    ev = table(spark, sf_small, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.floor(F.col("value") * F.lit(1e6)).cast("long").alias("value_micros"),
    )
    exact = {
        r["user_id"]: (r["n"], r["total"], r["last"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_micros").alias("total"),
            F.max("ts_us").alias("last"),
        )
        .collect()
    }
    assert got == exact


def test_stream_dedup_suppresses_across_batches(spark):
    """A key present in EVERY staged file must be emitted exactly once —
    suppression in later micro-batches comes from recovered dedup state,
    not within-batch distinct."""
    from pyspark.sql import functions as F

    from nyc_landmarks_datalake_spark.streaming.dedup import replay_stream_dedup

    # 40 rows over 8 keys, every key in every one of the 4 staged files
    rows = (
        spark.range(40)
        .select(
            (F.col("id") % 8).alias("k"),
            (F.col("id") % 2).cast("string").alias("tag"),
        )
    )
    out = replay_stream_dedup(spark, rows, ["k"])
    got = sorted(r.k for r in out.select("k").collect())
    assert got == list(range(8)), got

