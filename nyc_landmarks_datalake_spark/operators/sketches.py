"""Approximate/sketch aggregates: HLL++ distinct counts and GK-sketch
approximate percentiles — production sketch-only paths, plus
oracle-checkable parity variants.

Sketch internals (and hence the raw approximations) differ per engine,
so the raw estimates can never hash-match a DuckDB oracle. Instead each
registered query emits only hash-safe columns (group key, exact counts,
booleans): the approximation is evaluated AGAINST THE EXACT ANSWER
inside the same Spark plan and reduced to a within-documented-bound
boolean; the DuckDB oracle computes the same exact answer and asserts
the boolean is TRUE. A Spark estimate drifting outside its bound
therefore turns the driver row red — a real independent accuracy check,
not rows-only. Raw estimates remain covered by tests/test_sketches.py.

Scale: the PRODUCTION path is :func:`approx_distinct_counts` with
``parity=False`` (the default) and :func:`approx_percentiles` — the
sketch alone, no exact companions. Exact distinct counts shuffle every
distinct value, while HLL++ partial-aggregates a fixed ~1.5 KB sketch
per group, making 100 TB distinct-counting a map-side problem; the
``parity=True`` variant (what the registered q_ queries run) exists
only so the sketch is independently checkable at test scale, and
tests/test_sketches.py pins that the production plan contains no
distinct expansion.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.functions.hashing import md5_long, md5_long_sql
from nyc_landmarks_datalake_spark.registry import query
from nyc_landmarks_datalake_spark.sources.catalog import table

#: HLL++ relative standard deviation requested; the check allows 3x
#: (three-sigma) drift before declaring the sketch broken.
HLL_RSD = 0.02
HLL_TOL = 3 * HLL_RSD

#: GK percentile accuracy parameter (rank error <= 1/accuracy); the
#: check allows 2% rank drift — orders of magnitude above the guarantee,
#: tight enough to catch a broken sketch.
PCT_ACCURACY = 1000
PCT_RANK_TOL = 0.02


def approx_distinct_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    value_cols: Sequence[str],
    parity: bool = False,
) -> DataFrame:
    """Per-group HLL++ distinct counts — ``approx_<col>`` per value col.

    ``parity=False`` (production) aggregates ONLY the fixed-size
    sketches: one shuffle of ~1.5 KB per (group, col), no distinct
    expansion — the 100 TB path. ``parity=True`` rides exact
    ``countDistinct`` companions and ``n_rows`` in the same aggregate so
    the sketch can be judged against ground truth at test scale."""
    aggs = [
        F.approx_count_distinct(c, rsd=HLL_RSD).alias(f"approx_{c}")
        for c in value_cols
    ]
    if parity:
        aggs += [F.countDistinct(c).alias(f"exact_{c}") for c in value_cols]
        aggs.append(F.count(F.lit(1)).alias("n_rows"))
    return df.groupBy(*group_cols).agg(*aggs)


def approx_percentiles(
    df: DataFrame, group_cols: Sequence[str], value_col: str
) -> DataFrame:
    """Per-group GK-sketch percentiles ``p50`` and ``p95``.

    Production path: one aggregation over bounded per-group sketch
    state, nothing exact rides along. Rank verification against the
    actual data is the parity query's job (:func:`q_approx_percentile`),
    not a production cost."""
    return df.groupBy(*group_cols).agg(
        *[
            F.percentile_approx(value_col, q, PCT_ACCURACY).alias(
                f"p{int(round(q * 100))}"
            )
            for q in (0.5, 0.95)
        ]
    )


@query(
    "q_approx_distinct",
    sql="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS parts_within_bound,
           TRUE AS orders_within_bound
    FROM lineitem GROUP BY 1
    """,
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    agg = approx_distinct_counts(
        li, ["l_returnflag"], ["l_partkey", "l_orderkey"], parity=True
    )

    def within(approx: str, exact: str):
        rel = F.abs(F.col(approx) - F.col(exact)) / F.col(exact)
        return rel <= F.lit(HLL_TOL)

    return agg.select(
        "l_returnflag",
        F.col("exact_l_partkey").alias("exact_parts"),
        F.col("exact_l_orderkey").alias("exact_orders"),
        "n_rows",
        within("approx_l_partkey", "exact_l_partkey").alias("parts_within_bound"),
        within("approx_l_orderkey", "exact_l_orderkey").alias("orders_within_bound"),
    )


@query(
    "q_approx_percentile",
    sql="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS median_rank_ok,
           TRUE AS p95_rank_ok
    FROM orders GROUP BY 1
    """,
)
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p95 per priority, checked by RANK: the fraction of
    rows <= the sketch's answer must sit within PCT_RANK_TOL of the
    requested quantile — the actual Greenwald-Khanna guarantee, stated
    without comparing engine-specific sketch values. The 5-row approx
    frame broadcasts back onto orders; the extra full pass is the
    parity check's cost, not the production path's (which is
    :func:`approx_percentiles` alone)."""
    orders = table(spark, sf_dir, "orders")
    approx = approx_percentiles(orders, ["o_orderpriority"], "o_totalprice")
    joined = orders.join(F.broadcast(approx), "o_orderpriority")
    ranked = joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("p50"), 1).otherwise(0)
            )
            / F.count(F.lit(1))
        ).alias("r50"),
        (
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("p95"), 1).otherwise(0)
            )
            / F.count(F.lit(1))
        ).alias("r95"),
    )
    return ranked.select(
        "o_orderpriority",
        "n_rows",
        (F.abs(F.col("r50") - 0.5) <= PCT_RANK_TOL).alias("median_rank_ok"),
        (F.abs(F.col("r95") - 0.95) <= PCT_RANK_TOL).alias("p95_rank_ok"),
    )


# ---------------------------------------------------------------------------
# Re-aggregatable sketch rollup: per-(event_type, day) HLL sketches
# merged to per-event_type via hll_union_agg. THE 100 TB pattern —
# fine-grained sketches are built once near the data and every coarser
# rollup is a cheap union of ~KB sketch states, never a re-scan of raw
# rows. A DataSketches HLL union over same-lgK sketches is lossless, so
# the union estimate must EQUAL the direct single-pass estimate; that
# equality plus a 3-sigma bound vs the exact count are the hash-safe
# booleans under the oracle gate (same strategy as q_approx_distinct).
# ---------------------------------------------------------------------------
HLL_LGK = 12  # DataSketches lgConfigK: rsd ~ 1.04/sqrt(2^12) ~ 1.6%
HLL_UNION_TOL = 3 * 1.04 / (2 ** (HLL_LGK / 2))


@query(
    "q_hll_union_rollup",
    sql=f"""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           TRUE AS union_within_bound,
           TRUE AS direct_within_bound
    FROM events GROUP BY 1
    """,
)
def q_hll_union_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id", F.lit(HLL_LGK)).alias("sk")
    )
    rolled = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("union_est"),
        F.count(F.lit(1)).alias("n_days"),
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(HLL_LGK))).alias(
            "direct_est"
        ),
        F.countDistinct("user_id").alias("exact_users"),
    )
    j = rolled.join(direct, "event_type")
    rel_u = F.abs(F.col("union_est") - F.col("exact_users")) / F.col("exact_users")
    rel_d = F.abs(F.col("direct_est") - F.col("exact_users")) / F.col("exact_users")
    return j.select(
        "event_type",
        "exact_users",
        F.col("n_days").cast("long").alias("n_days"),
        (rel_u <= F.lit(HLL_UNION_TOL)).alias("union_within_bound"),
        (rel_d <= F.lit(HLL_UNION_TOL)).alias("direct_within_bound"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters. Unlike HLL (engine-specific sketch
# internals → boolean-bounded parity above), a CMS built from
# md5-derived hashes is a PURE deterministic function of the data: the
# d×w counter table and every point estimate are bit-exact BIGINTs in
# both engines, so this query gets a full value-level oracle.
#
# Scale posture: the sketch is one groupBy over (row, bucket) — a
# FIXED d*w=2048-cell state regardless of key cardinality, partial-agg
# combinable map-side (the entire 100 TB pass reduces to 2048 counters
# per executor before the shuffle), and re-aggregatable across
# sources/days by cell-wise SUM exactly like the HLL rollup. The
# estimate pass joins only the (tiny, broadcast) candidate set against
# 2048 cells. Exact heavy-hitter counts ride along as the
# test-scale verification companion, same pattern as approx_distinct.
# ---------------------------------------------------------------------------
CMS_DEPTH = 4
CMS_WIDTH = 512
CMS_TOPK = 20


def _cms_bucket_sql(salt: int, key_expr: str) -> str:
    salted = f"'cms{salt}' || {key_expr}"
    return f"({md5_long_sql(salted)} % {CMS_WIDTH})"


@query(
    "q_cms_heavy_hitters",
    sql=f"""
    WITH keys AS (
        SELECT CAST(l_partkey AS VARCHAR) AS k, l_partkey
        FROM lineitem
    ),
    cells AS (
        {" UNION ALL ".join(
            f'''SELECT {salt} AS row_idx, {_cms_bucket_sql(salt, 'k')} AS bucket,
                       COUNT(*) AS cnt
                FROM keys GROUP BY 1, 2'''
            for salt in range(CMS_DEPTH)
        )}
    ),
    exact AS (
        SELECT l_partkey, COUNT(*) AS exact_cnt
        FROM keys GROUP BY 1
        ORDER BY exact_cnt DESC, l_partkey ASC
        LIMIT {CMS_TOPK}
    ),
    probes AS (
        SELECT e.l_partkey, e.exact_cnt, c.cnt
        FROM exact e
        JOIN cells c
          ON {" OR ".join(
              f"(c.row_idx = {salt} AND c.bucket = "
              f"{_cms_bucket_sql(salt, 'CAST(e.l_partkey AS VARCHAR)')})"
              for salt in range(CMS_DEPTH)
          )}
    )
    SELECT l_partkey, exact_cnt, MIN(cnt) AS cms_est,
           MIN(cnt) - exact_cnt AS overcount
    FROM probes
    GROUP BY l_partkey, exact_cnt
    """,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by exact frequency, with their CMS point estimates."""
    keys = table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey"), F.col("l_partkey").cast("string").alias("k")
    )
    buckets = [
        (md5_long(F.concat(F.lit(f"cms{salt}"), F.col("k"))) % CMS_WIDTH).alias(
            f"b{salt}"
        )
        for salt in range(CMS_DEPTH)
    ]
    cells = (
        keys.select(
            F.posexplode(F.array(*buckets)).alias("row_idx", "bucket")
        )
        .groupBy("row_idx", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = (
        keys.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("l_partkey").asc())
        .limit(CMS_TOPK)
    )
    probe_buckets = [
        (
            md5_long(
                F.concat(F.lit(f"cms{salt}"), F.col("l_partkey").cast("string"))
            )
            % CMS_WIDTH
        ).alias(f"b{salt}")
        for salt in range(CMS_DEPTH)
    ]
    probes = exact.select(
        "l_partkey",
        "exact_cnt",
        F.posexplode(F.array(*probe_buckets)).alias("row_idx", "bucket"),
    )
    est = (
        cells.join(F.broadcast(probes), ["row_idx", "bucket"])
        .groupBy("l_partkey", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return est.select(
        "l_partkey",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketch rollup (DataSketches KLL, Spark 4.1
# kll_* SQL surface). Same 100 TB pattern as q_hll_union_rollup:
# per-(event_type, day) sketches are built once near the data, the
# per-type rollup is a merge of fixed ~KB sketch states — quantiles
# over any coarser grain without re-scanning raw rows, which exact
# percentiles (a full sort per group) cannot do at scale.
#
# Oracle gate (sketch internals are engine-specific, so estimates can
# never hash-match): the KLL guarantee is a NORMALIZED RANK bound —
# the true rank of the sketch's p-quantile answer lies within eps(k)
# of p. The query re-ranks each merged-sketch answer against the raw
# rows inside the same plan and reduces it to a boolean; DuckDB
# recomputes the exact counts and asserts TRUE. The stream length n
# carried by a KLL sketch is exact and merges additively, so sketch-n
# == exact COUNT(*) is a second, exact boolean.
# ---------------------------------------------------------------------------
KLL_K = 200
#: normalized rank error for k=200 is ~1.65% (DataSketches published
#: table, 99% confidence); 3x before we call the sketch broken.
KLL_RANK_TOL = 0.05


@query(
    "q_kll_quantile_rollup",
    sql="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           TRUE AS n_exact,
           TRUE AS p50_rank_ok,
           TRUE AS p95_rank_ok
    FROM events GROUP BY 1
    """,
)
def q_kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_landmarks_datalake_spark.sources.catalog import table as _table

    ev = _table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.kll_sketch_agg_double("value", F.lit(KLL_K)).alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.kll_merge_agg_double("sk").alias("msk"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    est = merged.select(
        "event_type",
        "n_days",
        F.kll_sketch_get_quantile_double(F.col("msk"), F.lit(0.5)).alias("p50"),
        F.kll_sketch_get_quantile_double(F.col("msk"), F.lit(0.95)).alias("p95"),
        F.kll_sketch_get_n_double("msk").alias("sk_n"),
    )
    # rank the sketch answers against the raw stream (parity cost only;
    # the production path stops at `est`)
    j = ev.join(F.broadcast(est), "event_type")
    ranked = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        # the sketch agg skips NULL inputs, so its carried n must be
        # compared against the NON-NULL value count, not COUNT(*)
        F.count("value").alias("n_vals"),
        F.first("n_days").alias("n_days"),
        F.first("sk_n").alias("sk_n"),
        (
            F.sum(F.when(F.col("value") <= F.col("p50"), 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias("r50"),
        (
            F.sum(F.when(F.col("value") <= F.col("p95"), 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias("r95"),
    )
    return ranked.select(
        "event_type",
        "n_rows",
        "n_days",
        (F.col("sk_n") == F.col("n_vals")).alias("n_exact"),
        (F.abs(F.col("r50") - 0.5) <= KLL_RANK_TOL).alias("p50_rank_ok"),
        (F.abs(F.col("r95") - 0.95) <= KLL_RANK_TOL).alias("p95_rank_ok"),
    )


# ---------------------------------------------------------------------------
# Theta sketch set operations (Spark 4.1 theta_* surface) — the sketch
# family HLL cannot replace: theta sketches support INTERSECTION and
# DIFFERENCE, not just union, so "users who did A and B" / "A but not
# B" become sketch-algebra over ~KB states instead of a distinct-join
# over raw IDs. At 100 TB: per-segment sketches are built map-side
# once; every audience-overlap question afterwards touches only the
# sketch states.
#
# Gate: exact cohort sizes computed via one per-user flag aggregation
# (integral, hash-exact in both engines); each theta estimate must sit
# within THETA_REL_TOL of its exact value, relative to the union size
# (intersection/difference error in theta algebra is bounded relative
# to the union, not the result — small intersections have large
# relative error by design).
# ---------------------------------------------------------------------------
THETA_LGK = 12
#: union rsd at lgK=12 is ~1.6%; intersections/differences inherit
#: union-relative error. 5x headroom before declaring breakage.
THETA_REL_TOL = 0.08


@query(
    "q_theta_sketch_setops",
    sql="""
    WITH flags AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ha,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS hb
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY 1
    )
    SELECT CAST(SUM(ha) AS BIGINT) AS exact_a,
           CAST(SUM(hb) AS BIGINT) AS exact_b,
           CAST(COUNT(*) AS BIGINT) AS exact_union,
           CAST(SUM(ha * hb) AS BIGINT) AS exact_inter,
           CAST(SUM(ha * (1 - hb)) AS BIGINT) AS exact_diff,
           TRUE AS union_ok,
           TRUE AS inter_ok,
           TRUE AS diff_ok
    FROM flags
    """,
)
def q_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_landmarks_datalake_spark.sources.catalog import table as _table

    ev = (
        _table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select("event_type", "user_id")
    )
    # exact cohort algebra: one per-user flag reduction (map-side
    # combinable), then one scalar aggregate
    flags = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("ha"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("hb"),
    )
    exact = flags.agg(
        F.sum("ha").cast("long").alias("exact_a"),
        F.sum("hb").cast("long").alias("exact_b"),
        F.count(F.lit(1)).cast("long").alias("exact_union"),
        F.sum(F.col("ha") * F.col("hb")).cast("long").alias("exact_inter"),
        F.sum(F.col("ha") * (1 - F.col("hb"))).cast("long").alias("exact_diff"),
    )
    # sketch algebra: two conditional sketches in ONE pass, then
    # union/intersection/difference over the two ~KB states
    sk = ev.agg(
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "click", F.col("user_id")),
            F.lit(THETA_LGK),
        ).alias("ska"),
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "purchase", F.col("user_id")),
            F.lit(THETA_LGK),
        ).alias("skb"),
    )
    est = sk.select(
        F.expr("theta_sketch_estimate(theta_union(ska, skb))").alias("est_union"),
        F.expr("theta_sketch_estimate(theta_intersection(ska, skb))").alias(
            "est_inter"
        ),
        F.expr("theta_sketch_estimate(theta_difference(ska, skb))").alias(
            "est_diff"
        ),
    )
    j = exact.crossJoin(F.broadcast(est))
    tol = F.lit(THETA_REL_TOL) * F.col("exact_union")

    def ok(est_c: str, exact_c: str):
        return (F.abs(F.col(est_c) - F.col(exact_c)) <= tol).alias(
            exact_c.replace("exact_", "") + "_ok"
        )

    return j.select(
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_inter",
        "exact_diff",
        ok("est_union", "exact_union"),
        ok("est_inter", "exact_inter"),
        ok("est_diff", "exact_diff"),
    )
