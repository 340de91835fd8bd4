"""Z-order (Morton-curve) layout — multi-dimensional data skipping.

Single-column sort gives tight min/max file statistics on ONE column;
queries filtering the other columns scan everything. Interleaving the
bits of two (or more) key columns into a Morton code and range-writing
by it gives every file a tight bounding box in ALL interleaved
dimensions, so parquet row-group stats prune scans for filters on any
of them (the OPTIMIZE ZORDER idea from lakehouse table formats,
re-expressed as plain Spark: one expression + repartitionByRange).

Everything is integer bit arithmetic — shifts, masks, ors — identical
in Spark and DuckDB, so the layout key itself sits under the oracle
gate. The registered query checks the PROPERTY that matters: bucketing
the corpus by Morton prefix (the file assignment a z-order write would
produce) yields per-bucket min/max envelopes on BOTH dimensions whose
tightness the oracle recomputes exactly.

Scale: the Morton code is one map-side projection and the envelopes
one partial aggregate. The package writes no z-ordered files; such a
write would add one range exchange on the code (the cost of any sorted
write). Skipping at read time is free — parquet stats already exist,
z-order just makes them tight.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.functions.numeric import dsum, dsum_sql
from nyc_landmarks_datalake_spark.registry import query
from nyc_landmarks_datalake_spark.scratch import scratch_dir
from nyc_landmarks_datalake_spark.sources.catalog import table

#: bits per dimension (dims are masked to this width before interleave)
Z_BITS = 10
#: Morton-prefix bits used as the bucket (file) assignment in the query
Z_PREFIX_BITS = 6


def morton2(x: Column, y: Column) -> Column:
    """Interleave the low ``Z_BITS`` of two non-negative int columns:
    bit i of x → bit 2i, bit i of y → bit 2i+1. Pure codegen (shifts
    and masks), no UDF."""
    out = F.lit(0).cast("long")
    for i in range(Z_BITS):
        out = (
            out
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return out


def morton2_sql(x: str, y: str) -> str:
    """DuckDB mirror of :func:`morton2` (same shift/mask terms)."""
    # each shift term fully parenthesized: SQL '+' binds TIGHTER than
    # '<<', so unparenthesized terms joined with + cascade the shifts
    terms = []
    for i in range(Z_BITS):
        terms.append(f"(((({x}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({y}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


@query(
    "q_zorder_layout",
    sql=f"""
    WITH zkeyed AS (
        SELECT (o_custkey % {1 << Z_BITS}) AS zx,
               (o_orderkey % {1 << Z_BITS}) AS zy,
               {morton2_sql(f'o_custkey % {1 << Z_BITS}',
                            f'o_orderkey % {1 << Z_BITS}')} AS z
        FROM orders
    )
    SELECT CAST(z >> {2 * Z_BITS - Z_PREFIX_BITS} AS BIGINT) AS bucket,
           COUNT(*) AS n_rows,
           MIN(zx) AS min_x, MAX(zx) AS max_x,
           MIN(zy) AS min_y, MAX(zy) AS max_y,
           CAST(MAX(zx) - MIN(zx) + MAX(zy) - MIN(zy) AS BIGINT) AS envelope
    FROM zkeyed
    GROUP BY 1
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-Morton-prefix bucket envelopes over orders keyed on
    (custkey, orderkey) — the bounding boxes a z-order write would give
    each file, exactly as the reader's stats-based pruning sees them."""
    orders = table(spark, sf_dir, "orders")
    zx = F.col("o_custkey") % (1 << Z_BITS)
    zy = F.col("o_orderkey") % (1 << Z_BITS)
    keyed = orders.select(
        zx.alias("zx"), zy.alias("zy"), morton2(zx, zy).alias("z")
    )
    return keyed.groupBy(
        F.shiftright(F.col("z"), 2 * Z_BITS - Z_PREFIX_BITS)
        .cast("long")
        .alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("zx").alias("min_x"),
        F.max("zx").alias("max_x"),
        F.min("zy").alias("min_y"),
        F.max("zy").alias("max_y"),
        (F.max("zx") - F.min("zx") + F.max("zy") - F.min("zy"))
        .cast("long")
        .alias("envelope"),
    )


# ---------------------------------------------------------------------------
# Partition-pruned scan under the oracle gate. A partitionBy write +
# pruning already carry a plan-level test (tests/test_layout.py); this
# query makes the END RESULT driver-checked: events land partitioned
# by day, the read filters one day, and the aggregate must equal the
# oracle's filter over the raw table. At 100 TB daily partitioning is
# the first-order scan eliminator — a one-day query reads 1/365th of
# the lake at PLANNING time (directory listing), before any row-group
# stat is consulted. The pruned read is asserted in-plan by
# tests/test_bucketing.py::test_partition_pruned_query_plan.
# ---------------------------------------------------------------------------
PRUNE_DAY = "2024-01-15"


@query(
    "q_partition_pruned_agg",
    sql=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {dsum_sql('value')} AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) = DATE '{PRUNE_DAY}'
    GROUP BY 1
    """,
)
def q_partition_pruned_agg(spark: SparkSession, sf_dir: str) -> DataFrame:

    ev = table(spark, sf_dir, "events").withColumn(
        "event_day", F.to_date("ts")
    )
    path = scratch_dir(prefix="events_by_day_") + "/data"
    ev.write.mode("overwrite").partitionBy("event_day").parquet(path)
    pruned = spark.read.parquet(path).filter(
        F.col("event_day") == F.lit(PRUNE_DAY).cast("date")
    )
    return pruned.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Dynamic partition pruning: the fact's partition filter arrives at
# RUNTIME from the dim side of a join — the lakehouse star-join scan
# eliminator. Static pruning (above) needs the literal in the query;
# DPP prunes when the selection is only expressible through a join
# (dim attributes the fact doesn't carry). At 100 TB a date-dim or
# domain-dim join with DPP reads only the matching fact partitions —
# without it the join scans the whole fact. The plan shape
# (dynamicpruningexpression in the fact scan's PartitionFilters) is
# pinned by tests/test_plans.py.
# ---------------------------------------------------------------------------

#: session-scoped staging zones for the event_type-partitioned fact
#: copy (one deterministic write per sf_dir; re-invocations reuse it,
#: so bench loops don't grow temp disk).
_DPP_ZONES: dict[str, str] = {}

#: dim attribute selecting which event types the join keeps: types
#: whose GLOBAL row count is odd. Deliberately an aggregate of the dim
#: build — a function of the join KEY VALUE (e.g. an md5 tag) would be
#: propagated to the fact as a static partition filter by constraint
#: inference, and the scan would be pruned at plan time without any
#: dynamic machinery. An aggregate attribute is only knowable by
#: running the dim side, so the fact's partition filter can ONLY
#: arrive via DynamicPruningExpression.
DPP_PARITY = 1


def _events_by_type_zone(spark: SparkSession, sf_dir: str) -> str:
    from nyc_landmarks_datalake_spark.sources.catalog import table as _table

    path = _DPP_ZONES.get(sf_dir)
    if path is None:

        path = scratch_dir(prefix="events_by_type_") + "/data"
        _table(spark, sf_dir, "events").write.mode("overwrite").partitionBy(
            "event_type"
        ).parquet(path)
        _DPP_ZONES[sf_dir] = path
    return path


def dpp_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact-dim join whose fact partition filter only exists at
    runtime: fact = events partitioned by event_type on disk; dim = the
    event types whose global row count is odd (see DPP_PARITY: an
    aggregate attribute, underivable from the key, so no static filter
    can prune the fact scan). Catalyst inserts a
    DynamicPruningExpression that reuses the dim's broadcast to
    enumerate surviving partitions before the fact scan runs."""
    from nyc_landmarks_datalake_spark.sources.catalog import table as _table

    fact = spark.read.parquet(_events_by_type_zone(spark, sf_dir))
    dim = (
        _table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("type_n"))
        .filter(F.col("type_n") % 2 == DPP_PARITY)
        .select("event_type")
    )
    return fact.join(F.broadcast(dim), "event_type")


@query(
    "q_dpp_join_agg",
    sql=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {dsum_sql('value')} AS sum_value
    FROM events
    WHERE event_type IN (
        SELECT event_type FROM events
        GROUP BY 1 HAVING COUNT(*) % 2 = {DPP_PARITY}
    )
    GROUP BY 1
    """,
)
def q_dpp_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the dynamically-pruned fact-dim join. The oracle
    inlines the dim predicate over the raw table — equal results prove
    the pruned scan read exactly the surviving partitions' rows."""
    return dpp_join_plan(spark, sf_dir).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dsum(F.col("value")).alias("sum_value"),
    )
