"""The catalog's schema memo: reads after the first infer nothing, and a
table rewritten in place is never served a stale schema or partition
count."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.plans.observe import job_group
from nyc_landmarks_datalake_spark.sources.catalog import TABLES, compute_table, table


@pytest.fixture
def sf_copy(sf_small, tmp_path):
    """A writable copy of the small scale-factor dir."""
    d = tmp_path / "sf"
    d.mkdir()
    for name in TABLES:
        shutil.copyfile(
            os.path.join(sf_small, f"{name}.parquet"), d / f"{name}.parquet"
        )
    return str(d)


def _add_column(path: str) -> None:
    """Rewrite the parquet file at ``path`` in place with one more column."""
    t = pq.read_table(path)
    pq.write_table(t.append_column("extra", pa.array(range(t.num_rows))), path)


def test_schema_follows_rewrite_in_place(spark, sf_copy):
    before = {n: table(spark, sf_copy, n).columns for n in ("events", "nation")}
    for n in before:
        _add_column(os.path.join(sf_copy, f"{n}.parquet"))
    for n, cols in before.items():
        for read in (table, compute_table):
            df = read(spark, sf_copy, n)
            assert df.columns == cols + ["extra"], (n, read.__name__)
            assert df.agg(F.sum("extra")).collect()[0][0] == sum(range(df.count()))
    # events' ts is still converted from nanos-as-long
    assert dict(table(spark, sf_copy, "events").dtypes)["ts"] == "timestamp"


def _documents(spark, n: int):
    """Incompressible rows, so the files' sizes call for several tasks."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("text"),
    )


def test_compute_partitions_follow_rewrite_in_place(spark, sf_copy):
    """compute_table guarantees min(parallelism, bytes / 256 KB) scan
    partitions. A directory table of many files meets that by itself;
    rewritten in place as one file it no longer does, and a partition
    count memoized for the old files must not hide that."""
    path = os.path.join(sf_copy, "documents.parquet")
    os.unlink(path)
    _documents(spark, 30000).repartition(8).write.parquet(path)

    def target() -> int:
        nbytes = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        return min(spark.sparkContext.defaultParallelism, nbytes // (256 << 10))

    assert target() > 1
    assert compute_table(spark, sf_copy, "documents").rdd.getNumPartitions() >= target()
    _documents(spark, 30000).withColumn("extra", F.lit(1)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    assert spark.read.parquet(path).rdd.getNumPartitions() < target()
    df = compute_table(spark, sf_copy, "documents")
    assert df.columns == ["doc_id", "text", "extra"]
    assert df.rdd.getNumPartitions() >= target()


def test_memoized_table_read_starts_no_job(spark, sf_copy):
    """Only the first read of a table infers its schema (a Spark job);
    later reads of the same files build their DataFrame without one."""
    tracker = spark.sparkContext.statusTracker()
    with job_group(spark, "catalog_first_read", "first read"):
        table(spark, sf_copy, "lineitem")
    with job_group(spark, "catalog_second_read", "memoized read"):
        table(spark, sf_copy, "lineitem")
        table(spark, sf_copy, "events")
    with job_group(spark, "catalog_third_read", "memoized read"):
        table(spark, sf_copy, "events")
    assert tracker.getJobIdsForGroup("catalog_first_read") != []
    assert tracker.getJobIdsForGroup("catalog_third_read") == []
    assert len(tracker.getJobIdsForGroup("catalog_second_read")) == 1  # events' first
