"""Non-parquet source/sink tier under the oracle gate.

The csv/json/orc readers and writers were test-covered
(tests/test_sources_roundtrip.py) but had no driver CORRECTNESS rows.
Each query here writes the documents table through one format's SINK,
reads it back through the matching SOURCE with an explicit schema, and
aggregates — while the DuckDB oracle computes the same aggregate from
the original parquet. A lossy writer, a mis-quoting CSV escape, or a
schema-coercion bug in the reader shows up as a value mismatch.

The roundtrip staging writes to a session temp dir (left for the OS
reaper — the returned DataFrame lazily reads from it). Aggregation
keys/values are integer-exact so parity is bit-exact.

Scale posture: these are format-conformance probes, deliberately tiny.
The production scan path is the same ``spark.read.<format>`` with
pushdown (csv/json are row formats — only (path, length) prune; orc
prunes like parquet), and the sink path is the same partitioned write
as ``ingest_csv``'s.
"""

from __future__ import annotations

import os

from nyc_landmarks_datalake_spark.scratch import scratch_dir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.registry import query
from nyc_landmarks_datalake_spark.sources.catalog import table

#: the oracle aggregate all three roundtrips must reproduce
_AGG_SQL = """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids
    FROM documents GROUP BY lang
"""


def _roundtrip_agg(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tmp = os.path.join(
        scratch_dir(prefix=f"roundtrip_{fmt}_"), "data"
    )
    writer = docs.write.mode("overwrite")
    reader = spark.read
    if fmt == "csv":
        writer = writer.option("header", True)
        reader = reader.option("header", True)
    writer.format(fmt).save(tmp)
    back = reader.schema(docs.schema).format(fmt).load(tmp)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("doc_id").alias("sum_ids"),
    )


@query("q_csv_roundtrip_agg", sql=_AGG_SQL)
def q_csv_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink → CSV source with explicit schema (quoting/escaping on
    free text is the hazard this probes)."""
    return _roundtrip_agg(spark, sf_dir, "csv")


@query("q_json_roundtrip_agg", sql=_AGG_SQL)
def q_json_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink → source (unicode escapes / type coercion)."""
    return _roundtrip_agg(spark, sf_dir, "json")


@query("q_orc_roundtrip_agg", sql=_AGG_SQL)
def q_orc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → source (the columnar alternative to parquet)."""
    return _roundtrip_agg(spark, sf_dir, "orc")


@query("q_xml_roundtrip_agg", sql=_AGG_SQL)
def q_xml_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink → source (Spark 4 built-in XML datasource; entity
    escaping of free text is the hazard this probes)."""
    docs = table(spark, sf_dir, "documents")
    tmp = os.path.join(scratch_dir(prefix="roundtrip_xml_"), "data")
    (
        docs.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "documents")
        .option("rowTag", "doc")
        .save(tmp)
    )
    back = (
        spark.read.schema(docs.schema)
        .format("xml")
        .option("rowTag", "doc")
        .load(tmp)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("doc_id").alias("sum_ids"),
    )


# ---------------------------------------------------------------------------
# Schema evolution on read: two parquet batches written at different
# "pipeline versions" (the second adds a column), scanned as ONE
# dataset with mergeSchema — the older files surface the new column as
# NULL. This is the lake's additive-evolution contract (the reference
# resolves schemas per-object from a sidecar; SURVEY §1.4.3): readers
# must not break, and aggregates must treat pre-evolution rows as
# missing, not dropped. Parquet footer merge is metadata-only — the
# scan itself stays pruned/pushed-down — so evolution costs nothing at
# read time until the column is actually referenced.
# ---------------------------------------------------------------------------
@query(
    "q_schema_evolution_agg",
    sql="""
    WITH unioned AS (
        SELECT doc_id, lang, n_chars, NULL AS src
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id, lang, n_chars, source AS src
        FROM documents WHERE doc_id % 2 = 1
    )
    SELECT COALESCE(src, '<pre-evolution>') AS src,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids
    FROM unioned GROUP BY 1
    """,
)
def q_schema_evolution_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    base = scratch_dir(prefix="schema_evo_")
    v1_dir = os.path.join(base, "v1")
    v2_dir = os.path.join(base, "v2")
    docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", "n_chars"
    ).write.mode("overwrite").parquet(v1_dir)
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "n_chars", F.col("source").alias("src")
    ).write.mode("overwrite").parquet(v2_dir)
    merged = spark.read.option("mergeSchema", True).parquet(v1_dir, v2_dir)
    return merged.groupBy(
        F.coalesce(F.col("src"), F.lit("<pre-evolution>")).alias("src")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("doc_id").alias("sum_ids"),
    )


# ---------------------------------------------------------------------------
# Compaction maintenance under the oracle gate: a many-small-files
# snapshot (streaming-ingest shape: one file per micro-batch) is
# rewritten by txtable.optimize() to target-sized files; the query
# returns the file census BEFORE/AFTER, taken from the two versions'
# manifests, plus content aggregates over the optimized snapshot. A
# green row proves compaction is metadata-only (bit-identical content)
# AND that the file count actually dropped — the maintenance op's whole
# contract.
# ---------------------------------------------------------------------------
#: one commit-log table per sf_dir for the session — bench loops invoke
#: the query repeatedly and a mkdtemp per call leaks a temp root per
#: invocation (r7 ADVICE). Each invocation commits a fresh fragmented
#: version and optimizes it; earlier invocations' lazy DataFrames keep
#: reading their own immutable version. Growth is bounded (r8 ADVICE):
#: vacuum keeps the newest three versions — this call's two and the
#: previous call's optimized one, the newest result a caller can still
#: be holding (bench consumes each result before re-invoking).
_COMPACT_TABLES: dict[str, str] = {}

COMPACT_FILES_BEFORE = 24
COMPACT_FILES_AFTER = 4


@query(
    "q_compaction_census",
    sql=f"""
    SELECT {COMPACT_FILES_BEFORE} AS files_before,
           {COMPACT_FILES_AFTER} AS files_after,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM documents
    """,
)
def q_compaction_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: 24 micro-batch files → 4 target files.

    files_before/files_after are literal expectations in the oracle —
    the Spark side computes them from the committed manifests, so the
    oracle hash fails if compaction ever stops consolidating (or
    starts losing rows; the content aggregates pin that half).
    """
    from nyc_landmarks_datalake_spark.sources import txtable

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    tbl = _COMPACT_TABLES.get(sf_dir)
    if tbl is None:
        tbl = _COMPACT_TABLES[sf_dir] = os.path.join(
            scratch_dir(prefix="compact_table_"), "docs"
        )
    v_fragmented = txtable.commit(
        spark,
        tbl,
        docs.repartition(COMPACT_FILES_BEFORE),
        "write",
        txtable.current_version(tbl),
    )
    v_optimized = txtable.optimize(spark, tbl, target_files=COMPACT_FILES_AFTER)
    n_files = {m["version"]: len(m["files"]) for m in txtable.history(tbl)}
    before, after = n_files[v_fragmented], n_files[v_optimized]
    txtable.vacuum(tbl, keep_versions=3)
    # fail in-plan, not just at the oracle compare: the literals in the
    # oracle SQL are expectations, and a silent drift there would make
    # both engines agree on wrong numbers
    if before != COMPACT_FILES_BEFORE or after != COMPACT_FILES_AFTER:
        raise AssertionError(
            f"compaction census drifted: before={before} "
            f"(want {COMPACT_FILES_BEFORE}), after={after} "
            f"(want {COMPACT_FILES_AFTER})"
        )

    back = txtable.read_snapshot(spark, tbl, v_optimized)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
        F.countDistinct("doc_id").alias("n_docs"),
    ).select(
        F.lit(before).alias("files_before"),
        F.lit(after).alias("files_after"),
        "n_rows",
        "sum_chars",
        "n_docs",
    )
