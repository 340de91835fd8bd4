"""Lakehouse write semantics as batch operators: SCD1 MERGE/upsert and
CDC keep-latest compaction.

The reference moves whole objects between zones (CSVIngest.java:253-269)
— it has no notion of updating rows in place. A lake's silver tier needs
exactly two row-level maintenance primitives, both expressible as plain
shuffles (what Delta/Iceberg MERGE compiles to under the hood):

- **upsert** (SCD1): new version of a key replaces the old; implemented
  as updates ∪ (base ⟕̸ updates) — one anti join keyed by the merge key.
  At 100 TB the win is bucketing base AND updates by the key
  (operators/bucketing.py) so the anti join is shuffle-free.
- **keep-latest** (CDC compaction): collapse a change log to the newest
  row per key — one row_number window per key, the shape every
  streaming-CDC sink compacts with.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.functions.numeric import dsum, dsum_sql
from nyc_landmarks_datalake_spark.registry import query
from nyc_landmarks_datalake_spark.scratch import scratch_dir
from nyc_landmarks_datalake_spark.sources import txtable
from nyc_landmarks_datalake_spark.sources.catalog import table

ORDER_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def merge_upsert(base: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """SCD1 merge: rows from ``updates`` win on key collision."""
    return updates.unionByName(
        base.join(updates.select(*keys), keys, "left_anti")
    )


def keep_latest(
    log: DataFrame, keys: list[str], order_cols: list[str]
) -> DataFrame:
    """Collapse a change log to the newest row per key (descending
    ``order_cols`` as the version order, last column breaking ties)."""
    w = Window.partitionBy(*keys).orderBy(*[F.desc(c) for c in order_cols])
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# The orders MERGE scenario every query below checks, defined once: open
# orders get a derived update (status 'P', +10% price); with inserts,
# every 97th key also arrives again as a new key (+1e9, status 'N').
# ``_merged_sql`` is its oracle twin, the ``updates``/``merged`` CTEs.
# ---------------------------------------------------------------------------
def _orders_updates(base: DataFrame, inserts: bool) -> DataFrame:
    updates = (
        base.filter(F.col("o_orderstatus") == "O")
        .withColumn("o_orderstatus", F.lit("P"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
    )
    if not inserts:
        return updates
    return updates.unionByName(
        base.filter(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + 1_000_000_000)
        .withColumn("o_orderstatus", F.lit("N"))
    )


def _orders_txtable(spark: SparkSession, sf_dir: str, inserts: bool) -> str:
    """A scratch commit-log table holding orders as v0 and the scenario's
    MERGE as v1 (stage → publish → snapshot read-back); returns its path."""
    base = table(spark, sf_dir, "orders").select(*ORDER_COLS)
    path = scratch_dir(prefix="txlog_orders_")
    txtable.commit(spark, path, base, "create", expected_version=None)
    txtable.merge_upsert_tx(
        spark, path, _orders_updates(base, inserts), ["o_orderkey"]
    )
    return path


def _census(df: DataFrame, by: str | Column) -> DataFrame:
    """Row count and exact price sum per ``by``."""
    return df.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("total_price"),
    )


def _merged_sql(inserts: bool) -> str:
    new_keys = """
        UNION ALL
        SELECT o_orderkey + 1000000000, o_custkey, 'N' AS o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 97 = 0""" if inserts else ""
    return f"""
    WITH updates AS (
        SELECT o_orderkey, o_custkey, 'P' AS o_orderstatus,
               o_totalprice * 1.1 AS o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderstatus = 'O'{new_keys}
    ),
    merged AS (
        SELECT * FROM updates
        UNION ALL
        SELECT {', '.join(ORDER_COLS)} FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
    )"""


_STATUS_CENSUS_SQL = f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM merged GROUP BY 1
    """


# ---------------------------------------------------------------------------
# MERGE/upsert census: the merged table's per-status census proves which
# version of each key survived.
# ---------------------------------------------------------------------------
@query("q_merge_upsert", sql=_merged_sql(False) + _STATUS_CENSUS_SQL)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = table(spark, sf_dir, "orders").select(*ORDER_COLS)
    merged = merge_upsert(base, _orders_updates(base, False), ["o_orderkey"])
    return _census(merged, "o_orderstatus")


# ---------------------------------------------------------------------------
# CDC keep-latest: the events table as a change log per user — keep each
# user's newest event (ties broken by event_id).
# ---------------------------------------------------------------------------
@query(
    "q_cdc_keep_latest",
    sql="""
    SELECT user_id, event_id, ts, event_type, value
    FROM (
        SELECT user_id, event_id, ts, event_type, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)
def q_cdc_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    return keep_latest(events, ["user_id"], ["ts", "event_id"])


# ---------------------------------------------------------------------------
# Transactional MERGE through the commit-log table format
# (sources/txtable.py): the same SCD1 upsert as q_merge_upsert THROUGH
# merge_upsert_tx, censused from the v1 snapshot. The oracle is
# identical to q_merge_upsert's — so a broken commit protocol,
# manifest, or snapshot reader shows up as a red driver row, not just
# a unit-test failure.
# ---------------------------------------------------------------------------
@query("q_txlog_merge", sql=_merged_sql(False) + _STATUS_CENSUS_SQL)
def q_txlog_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _orders_txtable(spark, sf_dir, inserts=False)
    return _census(txtable.read_snapshot(spark, path), "o_orderstatus")


# ---------------------------------------------------------------------------
# Time travel through the commit log: after create(v0) + MERGE(v1),
# census BOTH versions in one result. A reader pinned to v0 must see
# the pre-merge table byte-for-byte even though v1 is already current —
# snapshot isolation as a red/green driver row rather than a unit test.
# ---------------------------------------------------------------------------
@query(
    "q_txlog_time_travel",
    sql=_merged_sql(False) + f"""
    SELECT 0 AS version, o_orderstatus, COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM orders GROUP BY 1, 2
    UNION ALL
    SELECT 1 AS version, o_orderstatus, COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM merged GROUP BY 1, 2
    """,
)
def q_txlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _orders_txtable(spark, sf_dir, inserts=False)

    def census(version: int) -> DataFrame:
        snap = txtable.read_snapshot(spark, path, version=version)
        return _census(snap, "o_orderstatus").select(
            F.lit(version).cast("int").alias("version"), "*"
        )

    return census(0).unionByName(census(1))


# ---------------------------------------------------------------------------
# Change-data-feed between commit-log versions: v0 ⟗ v1 on the merge
# key classifies every row as unchanged / update / insert, and the
# census of each class (count + exact price sum over the NEW image) is
# the driver-checked result — the "what changed between snapshots"
# primitive downstream incremental consumers build on. One full outer
# join on the key, partial-aggregated census; at scale both sides are
# the same table family, so the join co-partitions on the merge key.
# ---------------------------------------------------------------------------
@query(
    "q_txlog_changes",
    sql=_merged_sql(True) + f"""
    SELECT CASE WHEN v0.o_orderkey IS NULL THEN 'insert'
                WHEN v1.o_orderstatus <> v0.o_orderstatus THEN 'update'
                ELSE 'unchanged' END AS change_type,
           COUNT(*) AS n_rows,
           {dsum_sql('v1.o_totalprice')} AS new_total
    FROM merged v1
    LEFT JOIN orders v0 ON v0.o_orderkey = v1.o_orderkey
    GROUP BY 1
    """,
)
def q_txlog_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _orders_txtable(spark, sf_dir, inserts=True)
    v0 = txtable.read_snapshot(spark, path, version=0).select(
        F.col("o_orderkey").alias("k0"), F.col("o_orderstatus").alias("status0")
    )
    v1 = txtable.read_snapshot(spark, path)
    change = (
        F.when(F.col("k0").isNull(), "insert")
        .when(F.col("o_orderstatus") != F.col("status0"), "update")
        .otherwise("unchanged")
    )
    return _census(
        v1.join(v0, v1.o_orderkey == v0.k0, "left"), change.alias("change_type")
    ).toDF("change_type", "n_rows", "new_total")


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance off the change feed. The MV
# is a per-priority census (count + exact price sum). After the MERGE
# commits v1, the view is NOT recomputed: the v0⟶v1 change feed is
# turned into retract(-1)/add(+1) delta rows and combined with the v0
# materialization — O(changes + groups), not O(table). The oracle is
# the FULL recompute over the merged table, so a green row IS the
# maintenance theorem (incremental == recompute) checked end to end.
#
# Misclassifying an unchanged row as changed is harmless by
# construction (its retract and add cancel exactly — sums stay in
# DECIMAL until one final cast); missing a changed row is what the
# oracle would catch. At 100 TB the delta join co-partitions on the
# merge key like the CDF query, and the combine touches only the
# (tiny) group census.
# ---------------------------------------------------------------------------
@query(
    "q_incremental_mv_refresh",
    sql=_merged_sql(True) + f"""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM merged GROUP BY 1
    """,
)
def q_incremental_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _orders_txtable(spark, sf_dir, inserts=True)
    dec = "decimal(30,6)"
    v0 = txtable.read_snapshot(spark, path, version=0)
    v1 = txtable.read_snapshot(spark, path)
    # materialized v0 view: decimal sums so the combine stays exact
    mv0 = v0.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("o_totalprice").cast(dec)).alias("s"),
    )
    # change feed v0 -> v1 as retract/add deltas
    old = v0.select(
        F.col("o_orderkey").alias("k0"),
        F.col("o_orderstatus").alias("status0"),
        F.col("o_totalprice").alias("price0"),
        F.col("o_orderpriority").alias("prio0"),
    )
    j = v1.join(old, v1.o_orderkey == old.k0, "left")
    changed = j.filter(
        F.col("k0").isNull()
        | (F.col("o_orderstatus") != F.col("status0"))
        | (F.col("o_totalprice") != F.col("price0"))
    ).localCheckpoint(eager=False)
    adds = changed.select(
        "o_orderpriority",
        F.lit(1).cast("long").alias("n"),
        F.col("o_totalprice").cast(dec).alias("s"),
    )
    retracts = changed.filter(F.col("k0").isNotNull()).select(
        F.col("prio0").alias("o_orderpriority"),
        F.lit(-1).cast("long").alias("n"),
        (-F.col("price0").cast(dec)).alias("s"),
    )
    return (
        mv0.unionByName(adds)
        .unionByName(retracts)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").alias("n_orders"),
            F.sum("s").cast("double").alias("total_price"),
        )
    )
