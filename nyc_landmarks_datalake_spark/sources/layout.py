"""Physical layout control: partitioned + bucketed writes.

These are the levers that matter most at 100 TB:

- **partitionBy** on low-cardinality keys → partition pruning removes
  whole directories at planning time (the reference's sidecar carries a
  `partition_key` flag for exactly this, CSVIngest.java:191, unused
  there);
- **bucketBy** on join/agg keys → co-located joins with NO exchange on
  either side (verified in tests by asserting the absence of shuffle
  exchanges in the physical plan).

Compaction is not a layout write: it replaces a table, so it is
``txtable.optimize``, a commit like any other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (bucket pruning + exchange-free joins).
    Bucket count is a layout contract: both sides of a co-located join
    must agree on it, so treat it like a schema decision."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table_name)

