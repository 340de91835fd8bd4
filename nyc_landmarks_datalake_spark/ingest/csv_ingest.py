"""Bronze→silver CSV ingest — the reference's entire production surface
(CSVIngest.handleRequest, CSVIngest.java:210-278) re-expressed as one
declarative Spark pipeline.

Reference stage → here:

- S3 event trigger + GET (R1/R3)        → batch: ``ingest_csv``; stream:
  ``stream_ingest`` (file-source discovery replaces the trigger); both
  share one CSV dialect and one silver projection
- tag lookup + schema fetch (R4/R5)     → sidecar path convention
  (schemas/<table>.json), schema/sidecar.py
- header validation (R8)                → validate_header, strict or
  permissive mode (the reference *discards* the result, §1.4.4); a
  strict ingest also rejects ragged rows (Spark's FAILFAST CSV mode)
- quote-strip + geometry massage (R9-12)→ parse-then-transform: proper
  CSV quoting (fixes the ragged-row corruption of §1.4.2), then a
  geometry Column expression (functions/geometry.py)
- single-object PUT (R14)               → partitioned parquet write
  driven by the sidecar's partition_key flags (which the reference
  parses but never uses, CSVIngest.java:191)

``massage_lines`` is the byte-level compat path replicating the
reference's de-facto line transform (R9-R11) for consumers that expect
its exact output, ragged rows and all.

Scale: the whole pipeline is a scan → project → partitioned write with
no shuffle: each task writes its slice of every partition it holds.
"""

from __future__ import annotations

import csv
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from nyc_landmarks_datalake_spark.functions.geometry import (
    _BLOCK,
    wkt_blank,
    wkt_colon_encode,
    wkt_parse,
)
from nyc_landmarks_datalake_spark.schema.sidecar import (
    load_sidecar,
    partition_keys,
    validate_header,
)

GEOMETRY_MODES = ("blank", "encode", "parse", "keep")
_GEOMETRY_COL = "the_geom"
#: proper CSV quoting: a quoted field keeps its commas (SURVEY §1.4.2)
_CSV_DIALECT = {"header": True, "quote": '"', "escape": '"'}


def read_csv_with_sidecar(
    spark: SparkSession, csv_path: str, sidecar_path: str, strict: bool = False
) -> tuple[DataFrame, T.StructType]:
    """Read CSV with proper quote handling, all columns typed per sidecar.
    A ``strict`` reader fails its job on the first record whose field
    count or types do not fit the sidecar (``FAILFAST``); otherwise such
    a record's missing or unparsable fields read as null and extra
    fields are dropped (``PERMISSIVE``)."""
    schema = load_sidecar(sidecar_path)
    mode = "FAILFAST" if strict else "PERMISSIVE"
    df = spark.read.options(**_CSV_DIALECT, mode=mode).schema(schema).csv(csv_path)
    return df, schema


def _silver(
    df: DataFrame, schema: T.StructType, geometry_mode: str
) -> tuple[DataFrame, list[str]]:
    """The silver projection, batch or stream: the geometry column in
    ``geometry_mode``, plus the sidecar's partition keys to write by."""
    if _GEOMETRY_COL in df.columns and geometry_mode != "keep":
        fn = {"blank": wkt_blank, "encode": wkt_colon_encode, "parse": wkt_parse}[
            geometry_mode
        ]
        df = df.withColumn(_GEOMETRY_COL, fn(F.col(_GEOMETRY_COL)))
    return df, [k for k in partition_keys(schema) if k in df.columns]


def ingest_csv(
    spark: SparkSession,
    csv_path: str,
    sidecar_path: str,
    dest_path: str,
    geometry_mode: str = "encode",
    strict: bool = False,
) -> DataFrame:
    """Full bronze→silver ingest of the CSV file at ``csv_path``; returns
    the written DataFrame. In ``strict`` mode a header that does not
    match the sidecar raises before ``dest_path`` is touched, and a
    ragged or mistyped row fails the write job (``MALFORMED_RECORD``).
    That error surfaces only once Spark's overwrite has already cleared
    ``dest_path``, so a strict ingest that fails on a row leaves no
    silver output behind, not the previous one."""
    if geometry_mode not in GEOMETRY_MODES:
        raise ValueError(f"geometry_mode must be one of {GEOMETRY_MODES}")
    df, schema = read_csv_with_sidecar(spark, csv_path, sidecar_path, strict)
    # the file's own first record: the reader names its columns after
    # the sidecar, whatever the file says
    with open(csv_path, newline="", encoding="utf-8-sig") as f:
        header = next(csv.reader(f, quotechar=_CSV_DIALECT["quote"]), [])
    validate_header(header, schema, strict=strict)
    df, pkeys = _silver(df, schema, geometry_mode)
    df.write.mode("overwrite").partitionBy(*pkeys).parquet(dest_path)
    return df


def stream_ingest(
    spark: SparkSession,
    raw_dir: str,
    sidecar_path: str,
    dest_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """File-source twin of ``ingest_csv`` — the reference's S3-event
    trigger (CSVIngest.java:28, :210-211) without its one-record-per-
    event loss: every CSV that has landed in ``raw_dir`` and is not yet
    in the checkpoint is read once with the sidecar schema, given the
    same silver projection (encoded geometry, sidecar partition keys)
    and appended to ``dest_dir`` as parquet. Runs with ``availableNow``,
    so each call drains the backlog and stops. Headers are not
    validated: the stream reader drops each file's header line."""
    schema = load_sidecar(sidecar_path)
    stream = spark.readStream.options(**_CSV_DIALECT).schema(schema).csv(raw_dir)
    df, pkeys = _silver(stream, schema, "encode")
    return (
        df.writeStream.format("parquet")
        .option("path", dest_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .partitionBy(*pkeys)
        .trigger(availableNow=True)
        .start()
    )


def massage_lines(lines: DataFrame) -> DataFrame:
    """Byte-compat replica of the reference's de-facto line transform
    (handleCSVIngest, CSVIngest.java:60-86): strip every double-quote
    (:65), strip the literal 'MULTIPOLYGON ' token and trim (:67),
    delete the (((...))) coordinate block (:68). The colon-encode branch
    (:71-81) is dead code there — line.contains("MULTIPOLYGON") is
    always false by :71 — so it is intentionally NOT applied here.
    """
    c = F.regexp_replace(F.col("value"), '"', "")
    c = F.trim(F.regexp_replace(c, "MULTIPOLYGON ", ""))
    c = F.regexp_replace(c, _BLOCK, "")
    return lines.withColumn("value", c)


def ingest_compat(
    spark: SparkSession, csv_path: str, dest_path: str
) -> DataFrame:
    """Reference-parity path: text-in, massaged-text-out, one output file
    (the Lambda PUTs a single object, CSVIngest.java:265-269)."""
    lines = spark.read.text(csv_path)
    massaged = massage_lines(lines)
    massaged.coalesce(1).write.mode("overwrite").text(dest_path)
    return massaged


def normalize_object_key(key: str) -> str:
    """R2 — the reference's S3-key normalization (CSVIngest.java:221-224):
    '+' → space, then URL-decode. Driver-side because object keys are
    control-plane metadata, not data."""
    from urllib.parse import unquote

    return unquote(key.replace("+", " "))


def normalize_key_col(col):
    """Column flavor of R2 for key-like *data* columns:
    url_decode(regexp_replace(col, '\\+', ' '))."""
    return F.url_decode(F.regexp_replace(col, r"\+", " "))


def sidecar_for(csv_path: str) -> str:
    """schemas/<basename>.json convention (the reference's SCHEMA_LOCATION
    object-tag indirection, CSVIngest.java:88-100, collapsed to a path
    convention)."""
    base = os.path.splitext(os.path.basename(csv_path))[0]
    return os.path.join(os.path.dirname(csv_path), "schemas", f"{base}.json")
