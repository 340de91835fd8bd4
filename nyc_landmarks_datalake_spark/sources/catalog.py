"""Table catalog over a scale-factor directory of parquet files.

The reference keeps its "catalog" as S3 object tags pointing at sidecar
schema files (CSVIngest.java:88-100, :232-234). Here the analytics-zone
catalog is simply parquet-with-embedded-schema per table; the sidecar
machinery lives in :mod:`nyc_landmarks_datalake_spark.schema.sidecar`
and is used by the ingest tier.

Schema memo: inferring a schema is a footer-read Spark job, so each
table's inferred schema (and its scan partition count, once
:func:`compute_table` probed it) is memoized in ``_SCANS`` and handed
to the reader. An entry holds for one file identity: (path, inode,
size, mtime_ns) of the table's file, or of each parquet file under a
directory table; a rewrite in place changes it and the schema is
inferred again. The key is not the directory or its mtime: rewriting
``events.parquet`` or a part file in place leaves both unchanged, and a
stale schema or partition count is a wrong answer, not a cache miss.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(_scan(spark, path)["schema"]).parquet(path)
    return _events_ts(df) if name == "events" else df


#: for compute-bound pipelines, aim for ~this much scan input per task —
#: heavy row work (shingling, md5/minhash, vector math) expands each
#: input byte many times over, so partitions sized for plain scans are
#: far too coarse.
_COMPUTE_CHUNK_BYTES = 256 << 10


def compute_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like :func:`table`, but guarantees enough partitions for
    compute-bound per-row pipelines. A small corpus often arrives as one
    parquet file (one non-splittable row group) → one task, which
    serializes heavy row work on a single core. Target = one partition
    per ~256KB of input, clamped to cluster parallelism; at 100 TB the
    scan's own partitioning already exceeds the clamp and this is a
    no-op. The repartition shuffles only raw rows (cheap) and is paid
    once before the expensive projection."""
    df = table(spark, sf_dir, name)
    scan = _scan(spark, os.path.join(sf_dir, f"{name}.parquet"))
    nbytes = sum(size for _, _, size, _ in scan["identity"])
    target = min(spark.sparkContext.defaultParallelism, nbytes // _COMPUTE_CHUNK_BYTES)
    if "parts" not in scan:  # df.rdd builds a JavaRDD: probe once per identity
        scan["parts"] = df.rdd.getNumPartitions()
    return df.repartition(target) if target > 1 and scan["parts"] < target else df


#: table path → {"identity", "schema"[, "parts"]}; see the module docstring
_SCANS: dict[str, dict] = {}


def _identity(path: str) -> tuple:
    files = [path]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(path) for f in fs
            if f.endswith(".parquet")
        )
    stats = [(f, os.stat(f)) for f in files]
    return tuple((f, st.st_ino, st.st_size, st.st_mtime_ns) for f, st in stats)


def _scan(spark: SparkSession, path: str) -> dict:
    """The memo entry for ``path``, inferred afresh if its identity moved.

    events.parquet stores ts as TIMESTAMP(NANOS), which Spark's parquet
    reader rejects, so inference runs under the legacy ``nanosAsLong``
    flag (no other table has a nanos column; :func:`_events_ts` converts
    the long). The scan takes the inferred schema, so the flag is set
    only around inference: a reader must not mutate session state."""
    ident = _identity(path)
    scan = _SCANS.get(path)
    if scan is None or scan["identity"] != ident:
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            schema = spark.read.parquet(path).schema
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        scan = _SCANS[path] = {"identity": ident, "schema": schema}
    return scan


def _events_ts(df: DataFrame) -> DataFrame:
    """ts as a µs timestamp, nanos truncated (as DuckDB's ns→µs cast does)."""
    ts = dict(df.dtypes).get("ts")
    if ts in ("bigint", "long"):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts == "timestamp_ntz":
        # Parquet timestamp[us] without a timezone infers as TIMESTAMP_NTZ,
        # which rejects unix_micros and withWatermark; the session timezone
        # is UTC (session.py), so reading it as a UTC instant is lossless.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() use."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
